"""Job-free snapshots: a SearchIndex reads its metadata (doc count, field
stats, term stats, dead docids, table schemas) on the driver, and
tombstones are docid rows resolved by the writer (the scorch introducer
computing deleted bitmaps at write time; ref index/scorch/introducer.go,
README.md:108-133).

Job counts come from a job group set around each call and read back from
the status tracker. The visibility test replays a seeded random sequence
of writes, merges, snapshots and rollbacks against a pure-Python model of
the visibility rule."""

import contextlib
import itertools
import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from bleve_spark import (
    FieldMapping,
    Index,
    IndexBuilder,
    IndexMapping,
    IndexWriter,
    SearchIndex,
    Searcher,
    SearchRequest,
    query as Q,
)
from bleve_spark.writer import MergePlanOptions

BASE = "/tmp/bleve_spark_snapshot_metadata"
_groups = itertools.count()


@contextlib.contextmanager
def spark_jobs(spark):
    """Counts the Spark jobs launched inside the block: box["jobs"]."""
    sc = spark.sparkContext
    group = f"snapshot-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    box = {}
    try:
        yield box
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        box["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _mapping():
    m = IndexMapping(default_analyzer="standard", compose_all=False)
    m.add(FieldMapping("body"))
    return m


def _term_ids(index, term, size=100):
    res = Searcher(index).search(
        SearchRequest(query=Q.TermQuery(field="body", term=term), size=size)
    )
    return sorted(r["_id"] for r in res.hits.collect())


@pytest.fixture(scope="module")
def updated_index(spark):
    """A segmented index after batch -> upsert -> delete."""
    path = os.path.join(BASE, "updated")
    shutil.rmtree(path, ignore_errors=True)
    ix = Index(spark, path, _mapping())
    ix.batch(
        [
            {"_id": "a", "body": "red fox runs"},
            {"_id": "b", "body": "blue cow sleeps"},
            {"_id": "c", "body": "green fox naps"},
        ]
    )
    ix.batch([{"_id": "a", "body": "red wolf howls"}])
    ix.delete("c")
    return path


def test_open_and_metadata_launch_no_job(spark, updated_index):
    with spark_jobs(spark) as box:
        idx = SearchIndex(spark, updated_index, _mapping())
        assert idx.doc_count == 2
        assert idx.field_stats["body"]["doc_count"] == 4
        # df still counts the superseded and the deleted version until
        # a merge, like scorch's dictionaries
        assert idx.term_stats("body", ["fox", "wolf", "nope"]) == {
            "fox": (2, 2),
            "wolf": (1, 1),
        }
        idx.docs, idx.postings, idx.dictionary, idx.norms
    assert box["jobs"] == 0


def test_fresh_term_search_runs_at_most_two_jobs(spark, updated_index):
    with spark_jobs(spark) as box:
        ids = _term_ids(SearchIndex(spark, updated_index, _mapping()), "fox")
    assert ids == []  # a was upserted to wolf, c deleted
    assert box["jobs"] <= 2
    with spark_jobs(spark) as box:
        ids = _term_ids(SearchIndex(spark, updated_index, _mapping()), "wolf")
    assert ids == ["a"]
    assert box["jobs"] <= 2


def test_document_fetch_is_one_job(spark, updated_index):
    ix = Index(spark, updated_index)
    for doc_id, want in (("a", "red wolf howls"), ("c", None)):
        ix._invalidate()
        with spark_jobs(spark) as box:
            d = ix.document(doc_id)
        assert (d and d["body"]) == want
        assert box["jobs"] == 1


def test_flat_term_stats_launch_no_job(spark, built_index):
    with spark_jobs(spark) as box:
        idx = SearchIndex(spark, built_index.index_path, built_index.mapping)
        st = idx.term_stats("content", ["license", "no-such-term"])
        assert idx.doc_count == 300
    assert box["jobs"] == 0
    assert set(st) == {"license"} and st["license"][0] > 0


def test_old_tombstone_layout_raises_clear_error(spark, tmp_path):
    path = str(tmp_path / "idx")
    w = IndexWriter(spark, _mapping(), path)
    w.batch_index(
        spark.createDataFrame([("a", "red fox")], ["_id", "body"])
    )
    # tombstones as an earlier layout wrote them: (_id, seq), no docid
    spark.createDataFrame([("a", 1)], "_id string, seq long").write.parquet(
        os.path.join(path, "tombstones")
    )
    with pytest.raises(ValueError, match="no docid column"):
        SearchIndex(spark, path, _mapping()).doc_count


def test_empty_postings_index_schema_and_open(spark, tmp_path):
    """An index with only numeric and vector fields has no postings:
    the build writes one 0-row file carrying the postings schema, so
    opening the index needs no schema inference and a term query
    returns no hits."""
    path = str(tmp_path / "idx")
    m = IndexMapping(dynamic=False)
    m.add(FieldMapping("price", type="numeric"))
    m.add(FieldMapping("embedding", type="vector", dims=2))
    corpus = spark.createDataFrame(
        [("a", 1.5, [1.0, 0.0]), ("b", 2.5, [0.0, 1.0])],
        "id string, price double, embedding array<double>",
    )
    IndexBuilder(spark, m, path).build(corpus, id_expr=F.col("id"))
    from bleve_spark.build import POSTINGS_SCHEMA

    with spark_jobs(spark) as box:
        idx = SearchIndex(spark, path, m)
        assert idx.doc_count == 2
        postings = idx.postings
        assert idx.term_stats("price", ["1.5"]) == {}
    assert box["jobs"] == 0
    assert [f.name for f in postings.schema.fields] == POSTINGS_SCHEMA.names
    res = Searcher(idx).search(
        SearchRequest(query=Q.TermQuery(field="price", term="x"), with_total=True)
    )
    assert res.hits.collect() == [] and res.total == 0


class _Model:
    """Segments and tombstones under the visibility rule: a doc is dead
    iff a tombstone with a later seq names its _id."""

    def __init__(self):
        self.segs = {}  # seq -> [(_id, body)]
        self.tombs = []  # [(_id, seq)]

    def next_seq(self):
        return max(self.segs, default=-1) + 1

    def batch(self, docs):
        seq = self.next_seq()
        self.tombs += [(i, seq) for i, _ in docs]
        self.segs[seq] = list(docs)

    def delete(self, ids):
        seq = self.next_seq()
        self.tombs += [(i, seq) for i in ids]

    def live(self, at_seq=None):
        out = {}
        for seq, docs in sorted(self.segs.items()):
            if at_seq is not None and seq > at_seq:
                continue
            for i, body in docs:
                if not any(
                    ti == i and ts > seq and (at_seq is None or ts <= at_seq)
                    for ti, ts in self.tombs
                ):
                    out[i] = (body, seq)
        return out

    def merge(self, seqs):
        live = self.live()
        docs = [(i, b) for i, (b, s) in sorted(live.items()) if s in seqs]
        new = self.next_seq()
        for s in seqs:
            del self.segs[s]
        self.segs[new] = docs

    def rollback(self, to):
        self.segs = {s: d for s, d in self.segs.items() if s <= to}
        self.tombs = [(i, s) for i, s in self.tombs if s <= to]


def test_visibility_matches_model(spark):
    rng = random.Random(20261017)
    path = os.path.join(BASE, "model")
    shutil.rmtree(path, ignore_errors=True)
    ix = Index(spark, path, _mapping())
    model = _Model()
    pool = [f"d{i}" for i in range(8)]
    opts = MergePlanOptions(
        max_segments_per_tier=2, segments_per_merge_task=2, floor_segment_size=2
    )
    version = itertools.count()

    def body():
        words = [w for w in ("alpha", "beta") if rng.random() < 0.6]
        return " ".join(words + ["common", f"v{next(version)}"])

    def check(step):
        live = model.live()
        snap = ix.reader()
        assert snap.doc_count == len(live), step
        assert _term_ids(snap, "alpha") == sorted(
            i for i, (b, _) in live.items() if "alpha" in b.split()
        ), step
        for i in rng.sample(pool, 2):
            d = ix.document(i)
            want = live[i][0] if i in live else None
            assert (d and d["body"]) == want, (step, i)

    docs = [(i, body()) for i in pool[:5]]
    ix.batch([{"_id": i, "body": b} for i, b in docs])
    model.batch(docs)
    check("first batch")
    ops = ["batch", "upsert", "delete", "readd", "merge", "at_seq", "rollback"]
    for step in range(14):
        op = ops[step % len(ops)] if step < len(ops) else rng.choice(ops)
        live = sorted(model.live())
        dead = [i for i in pool if i not in live]
        if op in ("batch", "upsert", "readd"):
            src = {"batch": pool, "upsert": live, "readd": dead}[op] or pool
            docs = [(i, body()) for i in rng.sample(src, min(2, len(src)))]
            ix.batch([{"_id": i, "body": b} for i, b in docs])
            model.batch(docs)
        elif op == "delete" and live:
            gone = rng.sample(live, min(2, len(live)))
            ix.delete(gone)
            model.delete(gone)
        elif op == "merge":
            plans = ix.writer.maybe_merge(opts)
            for seqs in plans:
                model.merge(seqs)
            ix._invalidate()
        elif op == "at_seq":
            # every snapshot that still has a segment (merges retire
            # the low seqs; an empty snapshot has no tables to read)
            for at in range(min(model.segs), model.next_seq()):
                past = SearchIndex(spark, path, _mapping(), at_seq=at)
                want = model.live(at_seq=at)
                assert past.doc_count == len(want), (step, at)
                assert _term_ids(past, "common") == sorted(want), (step, at)
        elif op == "rollback":
            points = ix.writer.rollback_points()
            to = rng.choice(points[:-1] or points)
            ix.writer.rollback(to)
            model.rollback(to)
            ix._invalidate()
        check(f"step {step}: {op}")
