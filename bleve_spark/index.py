"""SearchIndex: read-side handle over the built index tables.

The reference's IndexSnapshot/TermFieldReader analogue
(/root/reference/index/scorch/snapshot_index.go:81): a set of co-versioned
parquet tables plus tiny driver-side caches (doc count, per-field stats,
per-term df lookups — the same two lookups bleve does per term at searcher
construction, /root/reference/search/searcher/search_term.go:57-70).
The caches, the dead-docid array and the table schemas are read from
parquet footers and small tables with pyarrow, so a snapshot launches
Spark jobs only for the scans a query actually runs (Delta Lake reads
table metadata from its log the same way).
"""

from __future__ import annotations

import json
import os
from functools import cached_property
from typing import Dict, Iterable, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import codec
from .mapping import IndexMapping

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("docid", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("length", T.IntegerType()),
        # int64: array-field positions are offset by element_index *
        # ARRAY_POSITION_STRIDE (2^20), so ~2048+ elements overflow int32
        T.StructField("positions", T.ArrayType(T.LongType())),
    ]
)


_U64_ZERO = np.uint64(0)

# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


# what a reader needs of a tombstone row (files differ in nullability:
# appends and rollback rewrites come from different plans)
_TOMBSTONE_COLS = pa.schema([("seq", pa.int64()), ("docid", pa.int64())])


def parquet_files(path: str) -> List[str]:
    """Data files of the table at `path`, partition subdirectories
    included, in a stable order (markers, _SUCCESS and .crc skipped)."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        out.extend(
            os.path.join(root, f)
            for f in sorted(files)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return out


def _footer_schema(paths: Iterable[str]) -> Optional[T.StructType]:
    """Spark schema of the tables at `paths`, from one file footer per
    table: the union of their columns, first occurrence winning, as
    Spark would read them with that schema (missing columns are null).
    Partition columns are not in the footer; Spark's partition
    discovery still appends them. None when a table has no file written
    by Spark, so the read falls back to schema inference."""
    fields: Dict[str, T.StructField] = {}
    for path in paths:
        files = parquet_files(path)
        if not files:
            return None
        raw = (pq.read_schema(files[0]).metadata or {}).get(_SPARK_SCHEMA_KEY)
        if raw is None:
            return None
        for f in T.StructType.fromJson(json.loads(raw)).fields:
            fields.setdefault(f.name, f)
    return T.StructType(list(fields.values())) if fields else None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """spark.read.parquet with the schema taken from the footers:
    schema inference would launch a Spark job per read."""
    schema = _footer_schema(paths)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def _decode_batch_scoring(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Decode a whole batch of posting blocks with three varint passes
    total, no per-block Python dispatch.

    LEB128 streams are self-delimiting, so the concatenation of every
    block's stream decodes to the concatenation of their values; block
    boundaries are recovered by counting terminator bytes (high bit
    clear) up to each block's byte offset. Docid gaps then need a
    *segmented* cumsum, done as one global cumsum minus each block's
    starting base — exact even if the global uint64 sum wraps, because
    the wrap cancels in the subtraction (mod-2^64 arithmetic) and every
    true within-block docid fits in 63 bits.

    This matters because expansion queries (prefix/wildcard/fuzzy over a
    code corpus) touch hundreds of thousands of near-singleton blocks;
    per-block numpy dispatch (~25us) was ~6 s of the 1-char-prefix
    benchmark, vs ~0.1 s batched.
    """
    d_bufs = pdf["docids_enc"].tolist()
    B = len(d_bufs)
    d_cat = b"".join(d_bufs)
    stream = np.frombuffer(d_cat, dtype=np.uint8)
    ends_cum = np.cumsum((stream & 0x80) == 0)
    ofs_end = np.cumsum(
        np.fromiter((len(x) for x in d_bufs), dtype=np.int64, count=B)
    )
    # values-per-block; np.maximum guards zero-length buffers (an empty
    # block contributes 0 via the np.where, never indexes at -1)
    boundary = np.where(
        ofs_end > 0, ends_cum[np.maximum(ofs_end - 1, 0)], 0
    )
    counts = np.diff(np.concatenate(([0], boundary)))
    gaps = codec.varint_decode(d_cat)
    cs = np.cumsum(gaps, dtype=np.uint64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    if cs.size:
        base = np.where(
            starts > 0, cs[np.maximum(starts - 1, 0)], _U64_ZERO
        )
    else:
        base = np.zeros(B, dtype=np.uint64)
    block_of = np.repeat(np.arange(B), counts)
    docids = (cs - base[block_of]).astype(np.int64)
    tfs = codec.varint_decode(b"".join(pdf["tfs_enc"].tolist()))
    lens = codec.varint_decode(b"".join(pdf["lens_enc"].tolist()))
    if not (len(tfs) == len(docids) == len(lens)):
        raise ValueError(
            "corrupt posting batch: stream lengths disagree "
            f"({len(docids)} docids, {len(tfs)} tfs, {len(lens)} lens)"
        )
    out = pd.DataFrame(
        {
            "field": np.repeat(pdf["field"].to_numpy(), counts),
            "term": np.repeat(pdf["term"].to_numpy(), counts),
            "docid": docids,
            "tf": tfs.astype(np.int32),
            "length": lens.astype(np.int32),
        }
    )
    out["positions"] = None
    return out


def _decode_blocks_iter(batches, need_positions: bool):
    if not need_positions:
        for pdf in batches:
            if len(pdf):
                yield _decode_batch_scoring(pdf)
        return
    for pdf in batches:
        cols = {k: [] for k in ("field", "term", "docid", "tf", "length")}
        pos_out: List = []
        for row in pdf.itertuples(index=False):
            docids = codec.delta_decode(row.docids_enc).astype(np.int64)
            tfs = codec.varint_decode(row.tfs_enc).astype(np.int32)
            lens = codec.varint_decode(row.lens_enc).astype(np.int32)
            n = len(docids)
            cols["field"].append(np.repeat(row.field, n))
            cols["term"].append(np.repeat(row.term, n))
            cols["docid"].append(docids)
            cols["tf"].append(tfs)
            cols["length"].append(lens)
            pos_out.extend(codec.decode_positions(row.pos_enc, n))
        if not cols["docid"]:
            continue
        out = pd.DataFrame(
            {
                "field": np.concatenate(cols["field"]),
                "term": np.concatenate(cols["term"]),
                "docid": np.concatenate(cols["docid"]),
                "tf": np.concatenate(cols["tf"]),
                "length": np.concatenate(cols["length"]),
            }
        )
        out["positions"] = pd.Series(pos_out, dtype=object)
        yield out


class SearchIndex:
    """Read-side snapshot handle. Works over both layouts: the flat
    single-build table set, and the segmented layout written by
    IndexWriter (segments/seg-*/ + tombstones/) — in which case tables
    are unioned across segments and tombstoned docs are masked, the
    IndexSnapshot + deleted-bitmap analogue
    (ref: index/scorch/snapshot_index.go:81, README.md:108-133). A new
    SearchIndex instance = a new MVCC snapshot.

    Opening a snapshot and its metadata (doc count, field stats, term
    stats, dead docids, table schemas) reads parquet footers and small
    tables on the driver — no Spark job — like scorch's IndexSnapshot,
    which keeps segment metadata in memory."""

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        mapping: Optional[IndexMapping] = None,
        at_seq: Optional[int] = None,
    ):
        """`at_seq` opens a historical snapshot of a segmented index:
        only segments and tombstones with seq <= at_seq are visible —
        the rollback/time-travel analogue
        (ref: index/scorch/rollback.go; Iceberg time travel in
        production). Append-only segments make this a pure filter."""
        self.spark = spark
        self.index_path = index_path
        self.mapping = mapping
        self.at_seq = at_seq

    @cached_property
    def _parts(self) -> List[dict]:
        """The snapshot's table directories with the docid range each
        holds: the visible segments of a segmented index, or the root
        of a flat single-build index as one part at seq -1 (so every
        tombstone outranks it). Empty when there is no index yet."""
        from .writer import segment_metas

        metas = segment_metas(self.index_path)
        if metas:
            if self.at_seq is not None:
                metas = [m for m in metas if m["seq"] <= self.at_seq]
            return metas
        stats = parquet_files(os.path.join(self.index_path, "stats"))
        if not stats:
            return []
        n = int(pq.read_table(stats).column("doc_count")[0].as_py())
        return [
            {"seq": -1, "dir": self.index_path, "docid_start": 0, "docid_end": n}
        ]

    @cached_property
    def _seg_metas(self) -> List[dict]:
        return [m for m in self._parts if m["seq"] >= 0]

    def _paths(self, name: str) -> List[str]:
        return [os.path.join(m["dir"], name) for m in self._parts]

    def _table(self, name: str) -> DataFrame:
        """The raw table across the snapshot's parts, tombstoned rows
        included."""
        paths = self._paths(name)
        if name == "postings" and len(paths) > 1:
            # each segment's postings dir is its own partitionBy
            # (tbucket) root: a single multi-path read would try to
            # discover ONE partition scheme across conflicting roots
            # (CONFLICTING_DIRECTORY_STRUCTURES). Per-root scans
            # unioned keep per-scan partition pruning; tiered merging
            # bounds the segment count, so the union stays small.
            from functools import reduce

            return reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True),
                [read_parquet(self.spark, p) for p in paths],
            )
        return read_parquet(self.spark, *paths)

    @cached_property
    def _tombstones(self) -> Optional["pa.Table"]:
        """(seq, docid) tombstone rows visible at this snapshot, or None
        when the index has no tombstone files."""
        files = parquet_files(os.path.join(self.index_path, "tombstones"))
        if not files:
            return None
        tables = []
        for f in files:
            pf = pq.ParquetFile(f)
            if "docid" not in pf.schema_arrow.names:
                raise ValueError(
                    f"tombstone file {f} has no docid column: it was "
                    "written by a version that resolved tombstones at "
                    "read time; rebuild the index from its documents"
                )
            tables.append(pf.read(columns=["seq", "docid"]).cast(_TOMBSTONE_COLS))
        t = pa.concat_tables(tables)
        if self.at_seq is not None:
            t = t.filter(pc.less_equal(t["seq"], self.at_seq))
        return t

    @cached_property
    def _dead_docids(self) -> np.ndarray:
        """Sorted docids of the snapshot's dead docs. The writer
        resolved each tombstone to the docids its _id had in segments
        older than the tombstone's seq, so a docid is dead iff a
        visible tombstone names it and a visible part still holds it
        (merged-away segments leave their tombstones behind)."""
        t = self._tombstones
        if t is None:
            return np.empty(0, dtype=np.int64)
        docids = np.unique(t["docid"].to_numpy())
        live = np.zeros(len(docids), dtype=bool)
        for m in self._parts:
            live |= (docids >= m["docid_start"]) & (docids < m["docid_end"])
        return docids[live]

    @cached_property
    def _live_pred(self):
        """Column predicate that masks dead docids, or None. A SQL IN
        list: one parse on the JVM (a Column built by isin() costs one
        py4j call per value), evaluated as a hash-set lookup."""
        dead = self._dead_docids
        if not len(dead):
            return None
        return F.expr(f"docid NOT IN ({','.join(map(str, dead.tolist()))})")

    @cached_property
    def docs(self) -> DataFrame:
        d = self._table("docs")
        if self._live_pred is not None:
            d = d.where(self._live_pred)
        return d

    @cached_property
    def postings(self) -> DataFrame:
        return self._table("postings")

    @cached_property
    def tbuckets(self) -> Optional[int]:
        """Directory-pruning fanout, if EVERY postings dir was written
        partitionBy(tbucket) with the SAME n (build.py stage 4). Any
        missing/odd marker disables the pruned path — correctness never
        depends on the layout."""
        from .build import TBUCKETS_MARKER

        ns = set()
        for d in self._paths("postings"):
            try:
                with open(os.path.join(d, TBUCKETS_MARKER)) as f:
                    ns.add(int(json.load(f)["n_tbuckets"]))
            except (OSError, ValueError, KeyError):
                return None
        return ns.pop() if len(ns) == 1 else None

    @cached_property
    def dictionary(self) -> DataFrame:
        d = self._table("dictionary")
        if len(self._parts) > 1:
            # per-segment dictionaries merge by summation. Like scorch,
            # df/cf still count tombstoned docs until compaction
            # (deleted bitmaps do not rewrite dictionaries).
            d = d.groupBy("field", "term").agg(
                F.sum("df").alias("df"), F.sum("cf").alias("cf")
            )
        return d

    @cached_property
    def norms(self) -> DataFrame:
        return self._table("norms")

    @cached_property
    def doc_count(self) -> int:
        """Global N, live docs only (single-index semantics — the
        reference parity target, SURVEY.md §2.6 per-shard IDF caveat)."""
        total = sum(m["docid_end"] - m["docid_start"] for m in self._parts)
        return total - len(self._dead_docids)

    @cached_property
    def field_stats(self) -> Dict[str, dict]:
        merged: Dict[str, dict] = {}
        for path in self._paths("fieldstats"):
            for r in pq.read_table(parquet_files(path)).to_pylist():
                st = merged.setdefault(r["field"], {"doc_count": 0, "total_len": 0})
                st["doc_count"] += r["doc_count"]
                st["total_len"] += r["total_len"]
        for st in merged.values():
            st["avg_len"] = st["total_len"] / st["doc_count"]
        return merged

    def avg_len(self, field: str) -> float:
        st = self.field_stats.get(field)
        return float(st["avg_len"]) if st else 1.0

    # -- dictionary lookups (driver-side, tiny) ---------------------------

    @cached_property
    def _dictionary_ds(self) -> "ds.Dataset":
        return ds.dataset(
            [f for p in self._paths("dictionary") for f in parquet_files(p)],
            format="parquet",
        )

    def term_stats(self, field: str, terms: Iterable[str]) -> Dict[str, Tuple[int, int]]:
        """term -> (df, cf), summed over the snapshot's parts. Equivalent
        of TermFieldReader.Count() (ref: search/searcher/search_term.go:
        57-64). Read on the driver with pyarrow: the dictionary files
        are (field, term)-sorted, so row-group statistics skip all but
        the row groups that can hold the terms. Memoized per
        (field, term) — planner phases re-resolve the same terms."""
        if not hasattr(self, "_term_stats_cache"):
            self._term_stats_cache: Dict[Tuple[str, str], Optional[Tuple[int, int]]] = {}
        terms = list(dict.fromkeys(terms))
        missing = [t for t in terms if (field, t) not in self._term_stats_cache]
        if missing:
            rows = self._dictionary_ds.to_table(
                columns=["term", "df", "cf"],
                filter=(pc.field("field") == field)
                & pc.field("term").isin(missing),
            ).to_pylist()
            found: Dict[str, Tuple[int, int]] = {}
            for r in rows:
                df0, cf0 = found.get(r["term"], (0, 0))
                found[r["term"]] = (df0 + int(r["df"]), cf0 + int(r["cf"]))
            for t in missing:
                self._term_stats_cache[(field, t)] = found.get(t)
        return {
            t: self._term_stats_cache[(field, t)]
            for t in terms
            if self._term_stats_cache[(field, t)] is not None
        }

    def expansion(self, field: str, predicate) -> DataFrame:
        """Lazy dictionary slice (term, df) matching a Column predicate
        over `term` — the FieldDict automaton analogue (ref:
        index.go:230-232, snapshot_index_dict.go). Stays a DataFrame so
        multi-term queries never materialize the term list on the
        driver; the planner joins it to the postings scan."""
        return self.dictionary.where(
            (F.col("field") == field) & predicate
        ).select("term", "df")

    def expand_terms(
        self, field: str, predicate, limit: int = 1024
    ) -> List[Tuple[str, int]]:
        """Driver-side [(term, df)] enumeration, hard-capped at `limit`
        rows. Only for inherently driver-bounded consumers (highlight
        term sets over the k-row page); query planning uses the
        DataFrame-native expansion() instead."""
        rows = (
            self.expansion(field, predicate)
            .orderBy(F.desc("df"), "term")
            .limit(limit)
            .collect()
        )
        return [(r["term"], int(r["df"])) for r in rows]

    # -- postings ---------------------------------------------------------

    def blocks(self, field: str, terms: Iterable[str]) -> DataFrame:
        """Compressed posting blocks for (field, term in terms). With a
        tbucket layout the literal terms' buckets are derived driver-side
        (zlib.crc32, no Spark job) and become a PartitionFilter — the
        scan lists ~len(buckets)/n of the files instead of opening every
        footer; field/term predicates still push down for row-group
        skipping within the listed files."""
        terms = list(dict.fromkeys(terms))
        cond = (F.col("field") == field) & F.col("term").isin(terms)
        n = self.tbuckets
        if n and terms:
            from .build import tbucket_of

            bks = sorted({tbucket_of(field, t, n) for t in terms})
            cond = F.col("tbucket").isin(bks) & cond
        return self.postings.where(cond)

    def decoded(
        self,
        field: str,
        terms: Iterable[str],
        need_positions: bool = False,
        blocks: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Decode posting blocks into (field, term, docid, tf, length,
        positions) rows via an Arrow-batched mapInPandas. Callers doing
        block-max pruning pass a pre-filtered `blocks`."""
        src = blocks if blocks is not None else self.blocks(field, terms)
        # project away unused payloads BEFORE the pandas decode: scoring
        # without positions must not read pos_enc (roughly half the
        # postings bytes) — mapInPandas alone defeats column pruning
        cols = ["field", "term", "docids_enc", "tfs_enc", "lens_enc"]
        if need_positions:
            cols.append("pos_enc")
        src = src.select(*cols)

        def gen(batches):
            yield from _decode_blocks_iter(batches, need_positions)

        out = src.mapInPandas(gen, DECODED_SCHEMA)
        if self._live_pred is not None:
            # mask tombstoned docs at the postings level — the
            # deleted-roaring-bitmap analogue (scorch README:213-218)
            out = out.where(self._live_pred)
        return out
