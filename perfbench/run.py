"""The repository's benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout; the engine is imported from
``bleve_spark/`` there and nowhere else. Every input is generated from
``--seed``; every answer is checked (a wrong answer counts as a failed
operation). The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it carries the host stamp and the supporting numbers
(tail percentiles, query-class shares and df ranges, byte counts).
Everything the run writes stays under the checkout: ``.bench_work/``
(removed at exit), ``.bench_cache/`` (oracle per seed and size) and
``.bench_out/`` (full results and spans). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from spans import dir_bytes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("search_mix", "incremental_update")

E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "index_bytes_per_source_byte": "ratio",
    "selective_p50_ms": "ms",
    "broad_p50_ms": "ms",
    "get_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

BUILD_STAGES = ("docs", "analyzed", "norms", "postings", "dictionary", "stats")
BUILD_TABLES = ("docs", "analyzed", "norms", "postings", "dictionary")

LAYER_UNITS = {
    "session.start_s": "s",
    **{f"build.{s}_s": "s" for s in BUILD_STAGES},
    "build.jobs": "count",
    "build.tasks": "count",
    "build.failed_tasks": "count",
    **{f"build.bytes.{t}": "bytes" for t in BUILD_TABLES},
    "analysis.tokens_per_s": "tokens/s",
    "codec.postings_decoded_per_s": "postings/s",
    "index.open_ms": "ms",
    "index.open_jobs": "count",
    **{
        f"search.{c}.{m}": ("ms" if m.endswith("_ms") else "count")
        for c in ("selective", "broad")
        for m in ("plan_ms", "plan_jobs", "exec_ms", "exec_jobs", "exec_tasks")
    },
    "writer.batch_ms": "ms",
    "writer.batch_jobs": "count",
    "writer.delete_ms": "ms",
    "writer.merge_ms": "ms",
    "writer.merge_jobs": "count",
    "writer.segments": "count",
    "writer.bytes_written_per_source_byte": "ratio",
    "api.get_ms": "ms",
    "api.get_jobs": "count",
    "trace.overhead_ms_per_span": "ms",
    "host.control_ms": "ms",
    "failed_op_fraction": "ratio",
}

# Workload sizes. "tiny" exists for perfbench/smoke.py only.
SCALES = {
    "full": {
        "search_docs": 1200,
        "base_docs": 300,
        "batch_new": 200,
        "batch_upserts": 50,
        "deletes": 3,
    },
    "tiny": {
        "search_docs": 200,
        "base_docs": 60,
        "batch_new": 20,
        "batch_upserts": 5,
        "deletes": 2,
    },
}
# set-up (the bulk build, or the base batch) runs this many times in a
# fresh index; setup_s takes the median
SETUP_REPS = 2

# The timed loop's metrics and setup_s are host-normalised: raw time x
# CONTROL_REF_MS / the loop's median control time. The control is a fixed
# pure-JVM Spark job run right before every timed operation of the loop,
# so it sees the same host speed as the work it brackets.
CONTROL_REF_MS = 100.0
CONTROL_ROWS = 2_000_000

# broad queries: hot terms, a phrase, a boolean and a 1-char prefix.
# (label, query dict, similarity, oracle call)
BROAD = [
    ("term_license_tfidf", {"term": "license"}, "tfidf", ("term", "license")),
    ("term_license_bm25", {"term": "license"}, "bm25", ("term", "license")),
    ("match_tfidf", {"match": "parse index stream"}, "tfidf",
     ("match", ["parse", "index", "stream"])),
    ("match_bm25", {"match": "parse index stream"}, "bm25",
     ("match", ["parse", "index", "stream"])),
    ("phrase_apache_license", {"match_phrase": "apache license"}, "tfidf",
     ("phrase", ["apache", "license"])),
    ("bool_must_not", {"must": {"conjuncts": [{"term": "parse"}]},
                       "should": {"disjuncts": [{"term": "index"}]},
                       "must_not": {"disjuncts": [{"term": "license"}]}},
     "tfidf", ("boolean", ["parse"], ["index"], ["license"])),
    ("prefix_u", {"prefix": "u"}, "tfidf", ("prefix", "u")),
]
# same shapes over terms the timed loop never uses (warm-up only)
BROAD_WARMUP = [
    ("w_term", {"term": "version"}, "tfidf", ("term", "version")),
    ("w_phrase", {"match_phrase": "you may"}, "tfidf", ("phrase", ["you", "may"])),
    ("w_bool", {"must": {"conjuncts": [{"term": "scan"}]},
                "should": {"disjuncts": [{"term": "join"}]},
                "must_not": {"disjuncts": [{"term": "apache"}]}},
     "tfidf", ("boolean", ["scan"], ["join"], ["apache"])),
    ("w_prefix", {"prefix": "q"}, "tfidf", ("prefix", "q")),
]
TOP_K = 10
FIELD = "content"


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs):
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    import numpy as np

    for p in (99, 95, 90, 75, 50):
        if len(xs) * (1 - p / 100) >= 10:
            return {"percentile": p, "value": float(np.percentile(xs, p)), "n": len(xs)}
    return {"percentile": None, "value": None, "n": len(xs)}


def shape_p50(samples, prefix):
    """Mean over query shapes (sample keys under ``prefix``) of each
    shape's median."""
    return statistics.mean(median(v) for k, v in samples.items() if k.startswith(prefix))


def frame_bytes(pdf):
    return int(sum(pdf[c].astype(str).str.encode("utf-8").str.len().sum() for c in pdf.columns))


def sha256(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def host_stamp(spark, driver_mem_mb):
    import pyspark

    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    commit = None
    # only the checkout's own repository: git would otherwise walk up
    # into whatever repository encloses it
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "bleve_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "ram_mb": mem.get("MemTotal"),
        "mem_available_mb": mem.get("MemAvailable"),
        "driver_memory_mb": driver_mem_mb,
        "git_commit": commit,
        "engine_source_sha256": h.hexdigest(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "jvm_gc": [g.getName() for g in
                   spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()],
    }


class Bench:
    """State of one run: session, tracer, op accounting, samples."""

    def __init__(self, args, work):
        self.args = args
        self.seed = args.seed
        self.scale = SCALES[args.scale]
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.failures = []
        self.samples = {}
        self.control_s = []
        self.phase = "setup"
        self.t0 = time.perf_counter()
        self.info = {}
        self.spark = None
        self.tracer = None
        self.jvm_pid = None
        self.wrong_answer_pending = args.wrong_answer

    # -- session -----------------------------------------------------------

    def start_session(self):
        from bleve_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        with open("/proc/meminfo") as f:
            avail_kb = next(int(l.split()[1]) for l in f if l.startswith("MemAvailable:"))
        self.driver_mem_mb = max(1024, min(4096, avail_kb // 1024 // 16))
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        tmp = os.path.join(self.work, "tmp")
        t0 = time.perf_counter()
        self.spark = get_spark(
            master=f"local[{cpus}]",
            app_name="perfbench",
            extra_conf={
                "spark.driver.memory": f"{self.driver_mem_mb}m",
                # the serial collector sizes the heap from free space after
                # each collection, not from pause times, so the driver's
                # peak RSS does not follow the host's speed
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.stamp = host_stamp(self.spark, self.driver_mem_mb)
        from spans import NullTracer, Tracer

        self.tracer = Tracer(self.spark.sparkContext) if self.args.trace else NullTracer()
        self.tracer.wrap_layers()
        self.set_phase("setup")
        return session_s

    def control(self, record=True):
        """The host-speed control: a fixed pure-JVM job (no Python workers,
        no engine code, no shuffle partition setting involved)."""
        from pyspark.sql import functions as F

        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark.range(0, CONTROL_ROWS, 1, 2 * cpus).select(
            F.sum(F.xxhash64("id") % 1000)
        ).collect()
        if record:
            self.control_s.append(time.perf_counter() - t0)

    def set_phase(self, phase):
        """"setup", "warmup" or "loop"; spans carry it, and only the loop
        runs controls before its operations."""
        self.phase = self.tracer.phase = phase
        log(f"[perfbench] {phase} at {time.perf_counter() - self.t0:.1f}s")
        if phase == "loop":
            self.control(record=False)  # compiles the control's plan once

    def norm(self):
        """Factor that turns a raw time into a host-normalised one."""
        return CONTROL_REF_MS / (1e3 * median(self.control_s))

    def stop_session(self):
        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            # the JVM exits when the gateway's stdin closes
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait(timeout=30)
        self.spark = None

    def peak_rss_mb(self):
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.info["peak_rss_mb"] = {"jvm": jvm_kb / 1024.0, "python": py_kb / 1024.0}
        return (jvm_kb + py_kb) / 1024.0

    # -- operations ----------------------------------------------------------

    def op(self, kind, fn, check=None, sample=None, request=None):
        """Run one timed operation and check its answer outside the timed
        region. In the timed loop the control runs first. ``request``
        (label, class) opens a request span around the operation.
        Returns (result, seconds); result is None on an exception."""
        if self.phase == "loop":
            self.control()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if request is None:
                out = fn()
            else:
                with self.tracer.span("request", request=request[0], cls=request[1]):
                    out = fn()
        except Exception:
            self.fail(kind, traceback.format_exc())
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if sample:
            self.samples.setdefault(sample, []).append(dt)
        if check is not None:
            try:
                ok = check(out)
            except Exception:
                ok = False
                log(traceback.format_exc())
            if not ok:
                self.fail(kind, "wrong answer")
        return out, dt

    def fail(self, kind, detail):
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append({"op": kind, "detail": detail[-2000:]})
        log(f"[perfbench] failed op {kind}: {detail[-2000:]}")

    def corrupt(self, expected):
        """--wrong-answer: replace the first checked expectation with a
        wrong one, so the smoke check can see it counted as failed."""
        if self.wrong_answer_pending:
            self.wrong_answer_pending = False
            return [("no-such-doc", 1.0)] + list(expected[1:])
        return expected

    def search(self, searcher, query, similarity, cls, sort=None):
        """Plan (``Searcher.search``) then execute (``hits.collect()``)
        one query; returns [(id, score)]."""
        from bleve_spark import SearchRequest, parse_query

        req = SearchRequest(
            query=parse_query(_with_field(query)),
            size=TOP_K,
            similarity=similarity,
            **({"sort": sort} if sort else {}),
        )
        with self.tracer.span("search.plan", cls=cls):
            res = searcher.search(req)
        with self.tracer.span("search.exec", cls=cls):
            rows = res.hits.collect()
        return [(r["_id"], float(r["score"])) for r in rows]


def _with_field(q):
    """Pin every leaf of a query dict to the benchmark's text field."""
    if isinstance(q, list):
        return [_with_field(x) for x in q]
    if not isinstance(q, dict):
        return q
    out = {k: _with_field(v) for k, v in q.items()}
    if any(k in q for k in ("term", "match", "match_phrase", "prefix")):
        out["field"] = FIELD
    return out


def oracle_answer(oracle, sim, call):
    kind, *args = call
    return oracle.expected(getattr(oracle, kind)(sim, *args))


# ---------------------------------------------------------------------------
# workload: search_mix
# ---------------------------------------------------------------------------


def check_docs(index_dirs, shas):
    """North-rule ingest invariant: every generated row is in the docs
    tables under ``index_dirs`` exactly once with its content's sha256."""
    import pyarrow.parquet as pq

    ids, contents = [], []
    for d in index_dirs:
        t = pq.read_table(os.path.join(d, "docs"), columns=["_id", "content"])
        ids += t.column("_id").to_pylist()
        contents += t.column("content").to_pylist()
    if len(ids) != len(shas) or set(ids) != set(shas):
        return False
    return all(sha256(c) == shas[i] for i, c in zip(ids, contents))


def selective_queries(oracle, rng, n_docs, reserved_doc):
    """Selective query factory: each query uses unique tokens not used
    before. ``exact`` is one doc's token (exactly that doc must match);
    ``conj`` is a conjunction of two docs' tokens (nothing may match). The
    generated corpus has no other low-df terms: its identifiers split into
    ~60 camelCase roots, each in a large share of the docs."""
    from bleve_spark.corpus import uniq_token

    order = [d for d in range(n_docs) if d != reserved_doc]
    rng.shuffle(order)
    docs = iter(order)

    def make(kind):
        d = next(docs)
        tok = uniq_token(d)
        if kind == "exact":
            return {"term": tok}, ("term", tok), oracle.doc_freq(tok), d
        pair = [tok, uniq_token(next(docs))]
        return (
            {"conjuncts": [{"term": t} for t in pair]},
            ("conjunction", pair),
            sum(oracle.doc_freq(t) for t in pair),
            d,
        )

    return make


def search_mix(b):
    from pyspark.sql import functions as F

    from bleve_spark import Index, IndexBuilder, Searcher, code_corpus_mapping
    from bleve_spark.corpus import generate_corpus, uniq_token
    from oracle import CorpusOracle, check_topk

    n = b.scale["search_docs"]
    pdf = generate_corpus(n, seed=b.seed)
    pdf["_id"] = pdf["path"]
    shas = dict(zip(pdf["_id"], pdf["content_sha256"]))
    src = pdf.drop(columns=["content_sha256"])
    source_bytes = frame_bytes(src)
    corpus_dir = os.path.join(b.work, "corpus")
    os.makedirs(corpus_dir)
    src.to_parquet(os.path.join(corpus_dir, "part-0.parquet"), index=False)
    oracle = CorpusOracle.cached(
        os.path.join(ROOT, ".bench_cache", f"oracle-code-s{b.seed}-n{n}.npz"),
        list(pdf["_id"]),
        list(pdf["content"]),
    )
    rng = random.Random(b.seed)
    warm_doc = rng.randrange(n)
    selective = selective_queries(oracle, rng, n, warm_doc)
    mapping = code_corpus_mapping()

    session_s = b.start_session()
    spark = b.spark

    # set-up, repeated: a fresh bulk build of the corpus
    rep_s, path = [], None
    for r in range(SETUP_REPS):
        path = os.path.join(b.work, f"index-{r}")

        def build():
            corpus = spark.read.parquet(corpus_dir)
            return IndexBuilder(spark, mapping, path).build(corpus, id_expr=F.col("_id"))

        _, dt = b.op("build", build, check=lambda _r, p=path: check_docs([p], shas))
        rep_s.append(dt)
        if r + 1 < SETUP_REPS:
            shutil.rmtree(path)
    index_bytes = dir_bytes(path)

    ix = Index(spark, path, mapping)

    def open_handle():
        with b.tracer.span("index.open"):
            h = ix.reader()
            h.doc_count
            h.field_stats
        return h

    handle, open_s = b.op("open", open_handle, check=lambda h: h.doc_count == n)
    searcher = Searcher(handle)

    def run_query(label, query, sim, call, cls, sample=None):
        def check(rows):
            return check_topk(rows, b.corrupt(oracle_answer(oracle, sim, call)), TOP_K)

        return b.op(
            f"search.{cls}",
            lambda: b.search(searcher, query, sim, cls),
            check=check,
            sample=sample or cls,
            request=(label, cls),
        )

    def get_doc(doc_id):
        b.op("get", lambda: ix.document(doc_id),
             check=lambda d: d is not None and sha256(d["content"]) == shas[doc_id],
             sample="get")

    # warm-up: the query shapes once, on terms the timed loop never uses
    b.set_phase("warmup")
    t0 = time.perf_counter()
    tok = uniq_token(warm_doc)
    run_query("warm-exact", {"term": tok}, "tfidf", ("term", tok), "warmup")
    get_doc(pdf["_id"][warm_doc])
    for label, query, sim, call in BROAD_WARMUP:
        run_query(label, query, sim, call, "warmup")
    warmup_s = time.perf_counter() - t0
    b.samples.clear()

    # timed loop: one closed-loop client running whole blocks, so every run
    # measures the same query shapes. A block is every broad query once and
    # three selective queries of each kind, in seeded order.
    block = ["exact"] * 3 + ["conj"] * 3 + list(range(len(BROAD)))
    df_ranges = {"selective": [], "broad": []}
    counts = {"selective": 0, "broad": 0}
    i = 0
    b.set_phase("loop")
    deadline = time.perf_counter() + b.args.seconds
    while i == 0 or time.perf_counter() < deadline:
        for item in rng.sample(block, len(block)):
            i += 1
            if item in ("exact", "conj"):
                query, call, df_sum, d = selective(item)
                counts["selective"] += 1
                df_ranges["selective"].append(df_sum)
                run_query(f"s{i}-{item}", query, "tfidf", call, "selective",
                          sample=f"selective.{item}")
                if item == "exact":
                    # the hit, then a doc fetched without a search before it
                    get_doc(pdf["_id"][d])
                    get_doc(pdf["_id"][rng.randrange(n)])
            else:
                label, query, sim, call = BROAD[item]
                counts["broad"] += 1
                df_ranges["broad"].append(_df_sum(oracle, call))
                run_query(f"b{i}-{label}", query, sim, call, "broad",
                          sample=f"broad.{label}")

    total = sum(counts.values())
    b.info["classes"] = {
        c: {
            "share": counts[c] / total,
            "queries": counts[c],
            "summed_df_min": min(df_ranges[c]),
            "summed_df_max": max(df_ranges[c]),
        }
        for c in counts
    }
    b.info["bytes"] = {"index": index_bytes, "source": source_bytes}
    b.info["setup"] = {"session_s": session_s, "build_reps_s": rep_s,
                       "open_s": open_s, "warmup_s": warmup_s}
    k = b.norm()
    metrics = {
        "setup_s": k * (session_s + median(rep_s) + open_s + warmup_s),
        "docs_per_s": n / median(rep_s),
        "index_bytes_per_source_byte": index_bytes / source_bytes,
        # each class mixes query shapes of distinct latency: a pooled
        # median would be whichever shape sits in the middle, so the class
        # figure is the mean of its shapes' medians
        "selective_p50_ms": 1e3 * k * shape_p50(b.samples, "selective."),
        "broad_p50_ms": 1e3 * k * shape_p50(b.samples, "broad."),
        "get_p50_ms": 1e3 * k * median(b.samples.get("get", [])),
    }
    layer_inputs = {
        "session_s": session_s,
        "texts": list(pdf["content"]),
        "postings_dirs": [os.path.join(path, "postings")],
        "segments": 0,
        "writer_bytes_ratio": 0.0,
    }
    return metrics, layer_inputs


def _df_sum(oracle, call):
    kind, *args = call
    if kind == "prefix":
        terms = oracle.terms_with_prefix(args[0])
    elif kind == "boolean":
        terms = args[0] + args[1] + args[2]
    elif kind == "term":
        terms = [args[0]]
    else:
        terms = args[0]
    return sum(oracle.doc_freq(t) for t in terms)


# ---------------------------------------------------------------------------
# workload: incremental_update
# ---------------------------------------------------------------------------


def doc_id(i):
    return f"doc{i:07d}"


def incremental_update(b):
    import pandas as pd

    from bleve_spark import Index, code_corpus_mapping
    from bleve_spark.analysis import get_analyzer
    from bleve_spark.corpus import generate_rows, uniq_token
    from bleve_spark.writer import MergePlanOptions, segment_dirs

    sc = b.scale
    analyzer = get_analyzer("code")
    rng = random.Random(b.seed)
    mapping = code_corpus_mapping()
    # one segment per tier: the merge pass after every batch always has
    # work (all segments here share the floor tier), so every round does
    # the same merge
    merge_opts = MergePlanOptions(max_segments_per_tier=1)

    live = {}  # id -> content of the live version
    live_bytes = {}  # id -> source bytes of the live version
    # live ids per hot term: "license" in the timed loop, "version" in the
    # warm-up
    holders = {"license": set(), "version": set()}
    versions = {}  # id -> upsert count

    def docs(lo, hi, version=0):
        # version 0 is doc i of the seed's corpus; an upsert draws the same
        # doc index from another seed, so only the content changes
        out = generate_rows(lo, hi, seed=b.seed + 7919 * version)
        out = out.drop(columns=["content_sha256"])
        out["_id"] = [doc_id(i) for i in range(lo, hi)]
        return out

    def apply(pdf):
        sizes = pdf.astype(str).apply(lambda c: c.str.encode("utf-8").str.len()).sum(axis=1)
        for i, c, n in zip(pdf["_id"], pdf["content"], sizes):
            live[i] = c
            live_bytes[i] = int(n)
            terms = set(analyzer.terms(c))
            for t, ids in holders.items():
                if t in terms:
                    ids.add(i)
                else:
                    ids.discard(i)

    base = docs(0, sc["base_docs"])
    base_shas = {i: sha256(c) for i, c in zip(base["_id"], base["content"])}

    session_s = b.start_session()
    spark = b.spark

    # set-up, repeated: a fresh index and its base batch
    rep_s, path = [], None
    for r in range(SETUP_REPS):
        path = os.path.join(b.work, f"index-{r}")

        def first_batch():
            Index(spark, path, mapping).batch(spark.createDataFrame(base))

        _, dt = b.op("batch", first_batch,
                     check=lambda _r, p=path: check_docs(segment_dirs(p), base_shas))
        rep_s.append(dt)
        if r + 1 < SETUP_REPS:
            shutil.rmtree(path)
    apply(base)
    ix = Index(spark, path, mapping)
    next_new = sc["base_docs"]
    written = {"source": 0, "segments": 0}

    def open_snapshot():
        with b.tracer.span("index.open"):
            h = ix.reader()
            h.doc_count
            h.field_stats

    def remove(ids):
        b.op("delete", lambda: ix.delete(ids))
        for g in ids:
            live.pop(g)
            live_bytes.pop(g)
            for h in holders.values():
                h.discard(g)

    def read_your_writes(tag, probe, term, gets):
        """On the new snapshot: open it and find ``probe`` by its unique
        token, page ``term`` in _id order, fetch ``gets``."""
        want = [x[0] for x in b.corrupt([(doc_id(probe), 0.0)])]

        def fresh():
            open_snapshot()
            return b.search(ix, {"term": uniq_token(probe)}, "tfidf", "selective")

        b.op("search.fresh", fresh,
             check=lambda rows: [r[0] for r in rows] == want,
             sample="selective", request=(f"{tag}-fresh", "selective"))
        # a hot term in _id order decodes and scores every posting, and
        # its page is exact on a segmented index, where scores count
        # superseded versions in df until a merge
        first = sorted(holders[term])[:TOP_K]
        b.op("search.broad",
             lambda: b.search(ix, {"term": term}, "tfidf", "broad", sort=["_id"]),
             check=lambda rows: [r[0] for r in rows] == first,
             sample="broad", request=(f"{tag}-{term}", "broad"))
        for gid in gets:
            content = live.get(gid)
            b.op(
                "get",
                lambda g=gid: ix.document(g),
                check=lambda d, w=content: d is None if w is None
                else (d is not None and d["content"] == w),
                sample="get",
            )

    def cycle(tag):
        """Index.batch (new docs + upserts), read your writes on the new
        snapshot, Index.delete, read again on the snapshot after it.
        Returns the number of docs written."""
        nonlocal next_new
        lo, hi = next_new, next_new + sc["batch_new"]
        next_new = hi
        new_ids = [doc_id(i) for i in range(lo, hi)]
        ups = rng.sample(sorted(live), sc["batch_upserts"])
        parts = [docs(lo, hi)]
        for u in ups:
            versions[u] = versions.get(u, 0) + 1
            i = int(u[3:])
            parts.append(docs(i, i + 1, versions[u]))
        pdf = pd.concat(parts, ignore_index=True)
        before = dir_bytes(os.path.join(path, "segments"))
        b.op("batch", lambda: ix.batch(spark.createDataFrame(pdf)))
        written["source"] += frame_bytes(pdf)
        written["segments"] += dir_bytes(os.path.join(path, "segments")) - before
        apply(pdf)
        probes = rng.sample(range(lo, hi), 2)
        read_your_writes(f"{tag}a", probes[0], "license", [ups[0], doc_id(probes[0])])

        gone = rng.sample(sorted(set(live) - set(ups) - set(new_ids)), sc["deletes"])
        remove(gone)
        read_your_writes(f"{tag}b", probes[1], "license", [gone[0], ups[1]])
        return len(pdf)

    # warm-up: the delete and read paths once, on a doc and a hot term the
    # timed loop never reads (the set-up batches warmed the write path)
    b.set_phase("warmup")
    t0 = time.perf_counter()
    warm_gone, warm_probe = rng.sample(range(sc["base_docs"]), 2)
    remove([doc_id(warm_gone)])
    read_your_writes("warm", warm_probe, "version", [doc_id(warm_probe), doc_id(warm_gone)])
    warmup_s = time.perf_counter() - t0
    b.samples.clear()
    written["source"] = written["segments"] = 0

    # timed loop: whole rounds of one cycle and one merge pass, so every
    # run does the same mix of batch and merge work
    b.set_phase("loop")
    docs_written, rounds, merges = 0, 0, 0
    loop_t0 = time.perf_counter()
    deadline = loop_t0 + b.args.seconds
    while rounds == 0 or time.perf_counter() < deadline:
        rounds += 1
        docs_written += cycle(f"r{rounds}")
        plans, _ = b.op("merge", lambda: ix.writer.maybe_merge(merge_opts))
        merges += len(plans or [])
    # the loop's wall time without the controls run inside it
    loop_s = time.perf_counter() - loop_t0 - sum(b.control_s)

    source_bytes = sum(live_bytes.values())
    index_bytes = dir_bytes(path)
    b.info["bytes"] = {"index": index_bytes, "live_source": source_bytes,
                       "written_source": written["source"],
                       "segments_written": written["segments"]}
    b.info["loop"] = {"rounds": rounds, "docs_written": docs_written,
                      "loop_s": loop_s, "merge_plans": merges, "live_docs": len(live)}
    b.info["setup"] = {"session_s": session_s, "base_batch_reps_s": rep_s,
                       "warmup_s": warmup_s}
    k = b.norm()
    metrics = {
        "setup_s": k * (session_s + median(rep_s) + warmup_s),
        "docs_per_s": docs_written / (k * loop_s),
        "index_bytes_per_source_byte": index_bytes / source_bytes,
        "selective_p50_ms": 1e3 * k * median(b.samples.get("selective", [])),
        "broad_p50_ms": 1e3 * k * median(b.samples.get("broad", [])),
        "get_p50_ms": 1e3 * k * median(b.samples.get("get", [])),
    }
    segs = segment_dirs(path)
    layer_inputs = {
        "session_s": session_s,
        "texts": list(live.values()),
        "postings_dirs": [os.path.join(d, "postings") for d in segs],
        "segments": len(segs),
        "writer_bytes_ratio": written["segments"] / max(written["source"], 1),
    }
    return metrics, layer_inputs


# ---------------------------------------------------------------------------
# per-layer metrics (traced runs)
# ---------------------------------------------------------------------------


def analysis_tokens_per_s(texts, seed):
    """The ``code`` analyzer's build path (termfreq) over a seeded sample."""
    from bleve_spark.analysis import get_analyzer

    analyzer = get_analyzer("code")
    sample = random.Random(seed).sample(texts, min(300, len(texts)))
    tokens, t0 = 0, time.perf_counter()
    while True:
        for text in sample:
            tokens += analyzer.termfreq(text)[0]
        el = time.perf_counter() - t0
        if el >= 0.5:
            return tokens / el


def codec_postings_per_s(postings_dirs, terms):
    """Public ``codec`` decoders over the posting blocks of ``terms``,
    read with pyarrow (no Spark)."""
    import pyarrow.dataset as ds

    from bleve_spark import codec

    blocks = []
    for d in postings_dirs:
        t = ds.dataset(d, format="parquet", partitioning="hive").to_table(
            columns=["docids_enc", "tfs_enc", "lens_enc"],
            filter=(ds.field("field") == FIELD) & ds.field("term").isin(terms),
        )
        blocks += list(zip(*(t.column(c).to_pylist() for c in ("docids_enc", "tfs_enc", "lens_enc"))))
    postings, t0 = 0, time.perf_counter()
    while True:
        for dbuf, tbuf, lbuf in blocks:
            postings += len(codec.delta_decode(dbuf))
            codec.varint_decode(tbuf)
            codec.varint_decode(lbuf)
        el = time.perf_counter() - t0
        if el >= 0.5 or not blocks:
            return postings / el if el > 0 else 0.0


def layer_metrics(b, inputs):
    """Per-layer metrics from the spans of the phase behind the end-to-end
    metric each one maps to: the timed loop, except the build stages of
    search_mix, whose bulk builds are its set-up (``docs_per_s``)."""
    spans = b.tracer.spans
    by_id = {s["id"]: s for s in spans}

    def named(name, cls=None, phase="loop"):
        out = []
        for s in spans:
            if s["name"] != name or s["phase"] != phase:
                continue
            if cls is not None:
                p = by_id.get(s["parent"])
                # search spans sit under a request span carrying the class
                while p is not None and p["name"] != "request":
                    p = by_id.get(p["parent"])
                if p is None or p.get("cls") != cls:
                    continue
            out.append(s)
        return out

    def dur_ms(ss):
        return 1e3 * median([s["end"] - s["start"] for s in ss])

    def med(ss, key):
        return median([s[key] for s in ss])

    builds = named("build.build", phase="setup" if b.args.workload == "search_mix" else "loop")
    m = {"session.start_s": inputs["session_s"]}
    for st in BUILD_STAGES:
        m[f"build.{st}_s"] = median([s["stages"].get(st, 0.0) for s in builds])
    m["build.jobs"] = med(builds, "jobs")
    m["build.tasks"] = med(builds, "tasks")
    m["build.failed_tasks"] = sum(s["failed_tasks"] for s in builds)
    for t in BUILD_TABLES:
        m[f"build.bytes.{t}"] = median([s["bytes"].get(t, 0) for s in builds])
    m["analysis.tokens_per_s"] = analysis_tokens_per_s(inputs["texts"], b.seed)
    m["codec.postings_decoded_per_s"] = codec_postings_per_s(
        inputs["postings_dirs"], ["license", "parse", "index", "stream", "apache"]
    )
    opens = named("index.open")
    m["index.open_ms"] = dur_ms(opens)
    m["index.open_jobs"] = med(opens, "jobs")
    for cls in ("selective", "broad"):
        plan, exe = named("search.plan", cls), named("search.exec", cls)
        m[f"search.{cls}.plan_ms"] = dur_ms(plan)
        m[f"search.{cls}.plan_jobs"] = med(plan, "jobs")
        m[f"search.{cls}.exec_ms"] = dur_ms(exe)
        m[f"search.{cls}.exec_jobs"] = med(exe, "jobs")
        m[f"search.{cls}.exec_tasks"] = med(exe, "tasks")
    batches, merges = named("writer.batch"), named("writer.merge")
    m["writer.batch_ms"] = dur_ms(batches)
    m["writer.batch_jobs"] = med(batches, "jobs")
    m["writer.delete_ms"] = dur_ms(named("writer.delete"))
    m["writer.merge_ms"] = dur_ms(merges)
    m["writer.merge_jobs"] = med(merges, "jobs")
    m["writer.segments"] = inputs["segments"]
    m["writer.bytes_written_per_source_byte"] = inputs["writer_bytes_ratio"]
    gets = named("api.get")
    m["api.get_ms"] = dur_ms(gets)
    m["api.get_jobs"] = med(gets, "jobs")
    m["trace.overhead_ms_per_span"] = 1e3 * b.tracer.self_s / max(len(spans), 1)
    m["host.control_ms"] = 1e3 * median(b.control_s)
    m["failed_op_fraction"] = b.failed / max(b.attempted, 1)
    return m


# ---------------------------------------------------------------------------


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full")
    ap.add_argument("--wrong-answer", action="store_true",
                    help="corrupt one expected answer (smoke check of the checker)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bleve_spark", "__init__.py")):
        log(f"[perfbench] no bleve_spark/ package under {ROOT}: run from a source checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    b = Bench(args, work)
    try:
        metrics, layer_inputs = globals()[args.workload](b)
        metrics["peak_rss_mb"] = b.peak_rss_mb()
        if args.trace:
            log(f"[perfbench] layers at {time.perf_counter() - b.t0:.1f}s")
            out_metrics = layer_metrics(b, layer_inputs)
        else:
            out_metrics = metrics
    finally:
        log(f"[perfbench] stop at {time.perf_counter() - b.t0:.1f}s")
        b.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        log(f"[perfbench] stopped at {time.perf_counter() - b.t0:.1f}s")

    units = LAYER_UNITS if args.trace else E2E_UNITS
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "stamp": b.stamp,
        "failed_op_fraction": b.failed / max(b.attempted, 1),
        "control": {"median_ms": 1e3 * median(b.control_s), "factor": b.norm(),
                    "samples_ms": [round(1e3 * x, 1) for x in b.control_s]},
        "tails_ms": {k: tail([1e3 * x for x in v]) for k, v in b.samples.items()},
        "samples_ms": {k: [round(1e3 * x, 1) for x in v] for k, v in b.samples.items()},
        "end_to_end": metrics,
        **b.info,
        "failures": b.failures,
    }
    if args.trace:
        info["trace_self_s"] = b.tracer.self_s
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    with open(stem + ".json", "w") as f:
        json.dump(info, f, indent=1, default=str)
    if args.trace:
        b.tracer.dump(stem + ".spans.jsonl")
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out_metrics.items()},
    }
    print(json.dumps({"info": info}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
