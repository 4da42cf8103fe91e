"""Incremental write path: batches as immutable segments + tombstones.

Re-creates the reference's online index maintenance on top of the offline
builder (SURVEY.md §2.1/§2.3): `Batch`/`Index` appends become immutable
segments (/root/reference/index/scorch/scorch.go:365-443 — each batch
becomes a zap segment), `Delete` becomes docid tombstones resolved at
write time and masked at read time (the introducer computing each
segment's deleted roaring bitmap, index/scorch/introducer.go and
README.md:108-133; Iceberg positional deletes), and `compact()` is the
merger (builder-style full k-way merge, index/scorch/builder.go:135-240
/ mergeplan tiered compaction collapsed to one tier).

Layout under index_path:
    segments/seg-00000/        full table set (IndexBuilder output)
    segments/seg-00000/_SEGMENT.json   {seq, docid_start, docid_end}
    tombstones/                parquet (_id string, seq long, docid long)

Docids are globally unique: segment k's docids start at the previous
segment's docid_end (snapshot offsets, snapshot_index.go:475-480), so
posting blocks from different segments never alias a docid range.

Visibility rule: a doc in segment s is dead iff a tombstone with
seq > s names its `_id`. The writer applies the rule when it writes a
tombstone at seq k: it joins the ids to the docs of the segments with
seq < k and appends one (_id, k, docid) row per doc found, so a reader
only masks the docids of the tombstones it can see (seq <= at_seq) that
fall in a segment it can see — no join, no Spark job (index.py).
batch_index(seq=k) tombstones incoming ids at seq k — upsert semantics:
older versions die, the new segment (seq k) survives. delete() writes
tombstones at seq = the next segment seq, so a later re-add survives.
Merged segments get a fresh seq and docid range holding only live docs:
no tombstone written before the merge names them, and the tombstones of
the retired segments' docids fall outside every live range.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import BuildReport, IndexBuilder
from .index import SearchIndex, parquet_files, read_parquet
from .mapping import IndexMapping

SEG_PREFIX = "seg-"


@dataclass
class MergePlanOptions:
    """ref: index/scorch/mergeplan/merge_plan.go:67-135
    (DefaultMergePlanOptions: MaxSegmentsPerTier 10, MaxSegmentSize 5M
    docs, TierGrowth 10x, FloorSegmentSize 2k,
    ReclaimDeletesWeight 2.0)."""

    max_segments_per_tier: int = 10
    max_segment_size: int = 5_000_000
    tier_growth: float = 10.0
    segments_per_merge_task: int = 10
    floor_segment_size: int = 2_000
    reclaim_deletes_weight: float = 2.0


def plan_merges(
    seg_sizes: Dict[int, int],
    opts: MergePlanOptions = MergePlanOptions(),
    dead_counts: Optional[Dict[int, int]] = None,
) -> List[List[int]]:
    """Pure tier planner: which segment seqs to merge together.

    Tier k covers live sizes [floor*growth^k, floor*growth^(k+1));
    sizes below the floor all share tier 0 (ref merge_plan.go
    ScoreSegments' floored size). A tier with more than
    max_segments_per_tier members yields a merge task of its smallest
    segments_per_merge_task members. Segments at or above
    max_segment_size never merge again. Delete-heavy segments count at
    their live size, so reclaiming deletes happens by construction
    (a mostly-dead big segment lands in a small tier and merges).
    """
    import math

    dead_counts = dead_counts or {}
    tiers: Dict[int, List[int]] = {}
    for seq, total in seg_sizes.items():
        live = max(total - dead_counts.get(seq, 0), 0)
        if live >= opts.max_segment_size:
            continue
        floored = max(live, opts.floor_segment_size)
        tier = int(
            math.log(floored / opts.floor_segment_size, opts.tier_growth)
        )
        tiers.setdefault(tier, []).append(seq)
    plans: List[List[int]] = []
    for tier, members in sorted(tiers.items()):
        if len(members) > opts.max_segments_per_tier:
            members = sorted(
                members,
                key=lambda s: seg_sizes[s] - dead_counts.get(s, 0),
            )
            # Accumulate smallest-first but stop before the merged
            # segment would exceed max_segment_size (ref merge_plan.go
            # skips candidate tasks whose summed live size busts
            # MaxSegmentSize) — otherwise one merge builds an oversize
            # segment that is then permanently exempt from merging.
            task: List[int] = []
            summed = 0
            for s in members:
                live = max(seg_sizes[s] - dead_counts.get(s, 0), 0)
                if task and summed + live > opts.max_segment_size:
                    break
                task.append(s)
                summed += live
                if len(task) >= opts.segments_per_merge_task:
                    break
            if len(task) >= 2:
                plans.append(task)
    return plans


def segment_dirs(index_path: str) -> List[str]:
    root = os.path.join(index_path, "segments")
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith(SEG_PREFIX)
        and os.path.exists(os.path.join(root, d, "_SEGMENT.json"))
    ]


def segment_metas(index_path: str) -> List[dict]:
    metas = []
    for d in segment_dirs(index_path):
        with open(os.path.join(d, "_SEGMENT.json")) as f:
            m = json.load(f)
        m["dir"] = d
        metas.append(m)
    return sorted(metas, key=lambda m: m["seq"])


class IndexWriter:
    """ref: index.go:45-89 (Index/Delete/Batch) + scorch introducer."""

    def __init__(
        self, spark: SparkSession, mapping: IndexMapping, index_path: str
    ):
        self.spark = spark
        self.mapping = mapping
        self.index_path = index_path

    # -- internals -------------------------------------------------------

    def _tomb_dir(self) -> str:
        return os.path.join(self.index_path, "tombstones")

    def _next_seq_and_offset(self):
        metas = segment_metas(self.index_path)
        # max+1, not len(): tiered merges retire mid-sequence segments
        seq = max((m["seq"] for m in metas), default=-1) + 1
        offset = max((m["docid_end"] for m in metas), default=0)
        return seq, offset

    def _seal_segment(self, seg_dir: str, seq: int, offset: int) -> None:
        """Write the segment's _SEGMENT.json; its doc count comes from
        the stats table, read on the driver."""
        stats = pq.read_table(parquet_files(os.path.join(seg_dir, "stats")))
        n = int(stats.column("doc_count")[0].as_py())
        with open(os.path.join(seg_dir, "_SEGMENT.json"), "w") as f:
            json.dump(
                {"seq": seq, "docid_start": offset, "docid_end": offset + n}, f
            )

    def _write_tombstones(self, ids_df: DataFrame, seq: int):
        """Resolve `ids_df`'s ids to the docids they hold in the parts
        older than `seq` and append them as (_id, seq, docid) rows."""
        older = SearchIndex(
            self.spark, self.index_path, self.mapping, at_seq=seq - 1
        )
        if not older._parts:
            return
        (
            ids_df.select(F.col("_id").cast("string").alias("_id"))
            .join(older._table("docs").select("_id", "docid"), "_id")
            .select("_id", F.lit(seq).cast("long").alias("seq"), "docid")
            .write.mode("append")
            .parquet(self._tomb_dir())
        )

    # -- public API ------------------------------------------------------

    def batch_index(self, df: DataFrame, id_expr=None) -> BuildReport:
        """Index a batch as a new immutable segment; existing docs with
        the same _id are superseded (upsert)."""
        seq, offset = self._next_seq_and_offset()
        seg_dir = os.path.join(
            self.index_path, "segments", f"{SEG_PREFIX}{seq:05d}"
        )
        builder = IndexBuilder(self.spark, self.mapping, seg_dir)
        report = builder.build(
            df, id_expr=id_expr, resume=False, docid_offset=offset
        )
        self._seal_segment(seg_dir, seq, offset)
        # upsert: kill older versions of the incoming ids
        ids = read_parquet(self.spark, os.path.join(seg_dir, "docs"))
        self._write_tombstones(ids.select("_id"), seq)
        return report

    def delete(self, ids) -> None:
        """Tombstone ids across all current segments
        (ref: index.go:85-89). Ids no segment holds write nothing."""
        seq, _ = self._next_seq_and_offset()
        if isinstance(ids, DataFrame):
            ids_df = ids.select(F.col(ids.columns[0]).alias("_id"))
        else:
            ids_df = self.spark.createDataFrame(
                [(str(i),) for i in ids], ["_id"]
            )
        self._write_tombstones(ids_df, seq)

    def maybe_merge(
        self,
        opts: MergePlanOptions = MergePlanOptions(),
        searcher_index=None,
    ) -> List[List[int]]:
        """Tiered compaction (ref: index/scorch/merge.go +
        mergeplan/merge_plan.go): merge each over-full tier's smallest
        segments into one new segment, leaving big segments untouched —
        incremental writers no longer pay a full rebuild per compaction
        (contrast compact()). Returns the executed merge plans (lists
        of retired seqs)."""
        idx = searcher_index or SearchIndex(
            self.spark, self.index_path, self.mapping
        )
        metas = {m["seq"]: m for m in segment_metas(self.index_path)}
        seg_sizes = {
            s: m["docid_end"] - m["docid_start"] for s, m in metas.items()
        }
        dead = idx._dead_docids
        dead_counts = {
            s: int(
                np.searchsorted(dead, m["docid_end"])
                - np.searchsorted(dead, m["docid_start"])
            )
            for s, m in metas.items()
        }
        plans = plan_merges(seg_sizes, opts, dead_counts)
        for seqs in plans:
            self._merge_segments(seqs, metas, idx)
            # re-open: the next plan sees the post-merge segment set
            idx = SearchIndex(self.spark, self.index_path, self.mapping)
        return plans

    def _merge_segments(self, seqs: List[int], metas: dict, idx) -> None:
        """Rebuild the LIVE docs of `seqs` into one fresh segment at a
        new seq + docid range, then retire the old segment dirs (on
        Iceberg: one atomic rewrite-data-files commit)."""
        new_seq, offset = self._next_seq_and_offset()
        ranges = [
            (metas[s]["docid_start"], metas[s]["docid_end"]) for s in seqs
        ]
        in_range = None
        for lo, hi in ranges:
            c = (F.col("docid") >= lo) & (F.col("docid") < hi)
            in_range = c if in_range is None else (in_range | c)
        live = idx.docs.where(in_range).drop("docid")
        seg_dir = os.path.join(
            self.index_path, "segments", f"{SEG_PREFIX}{new_seq:05d}"
        )
        builder = IndexBuilder(self.spark, self.mapping, seg_dir)
        builder.build(
            live, id_expr=F.col("_id"), resume=False, docid_offset=offset
        )
        self._seal_segment(seg_dir, new_seq, offset)
        for s in seqs:
            shutil.rmtree(metas[s]["dir"], ignore_errors=True)

    def rollback_points(self) -> List[int]:
        """Available rollback targets: the segment seqs currently on
        disk (ref: index/scorch/rollback.go RollbackPoints — scorch
        keeps recent epochs; append-only segments keep all of ours)."""
        return [m["seq"] for m in segment_metas(self.index_path)]

    def rollback(self, to_seq: int) -> None:
        """Physically revert to the state at seq `to_seq` (ref:
        rollback.go Rollback): remove segments AND tombstones with
        seq > to_seq. Read-only time travel without mutation is
        SearchIndex(at_seq=...); this is the destructive variant that
        makes the rollback permanent and reclaims space."""
        metas = segment_metas(self.index_path)
        if to_seq not in [m["seq"] for m in metas]:
            raise ValueError(
                f"no rollback point at seq {to_seq}; available: "
                f"{[m['seq'] for m in metas]}"
            )
        for m in metas:
            if m["seq"] > to_seq:
                shutil.rmtree(m["dir"], ignore_errors=True)
        tomb = self._tomb_dir()
        if os.path.isdir(tomb):
            t = self.spark.read.parquet(tomb)
            kept = t.where(F.col("seq") <= to_seq)
            tmp = tomb + "_rollback"
            shutil.rmtree(tmp, ignore_errors=True)
            if kept.count() > 0:
                kept.write.mode("overwrite").parquet(tmp)
                shutil.rmtree(tomb, ignore_errors=True)
                os.rename(tmp, tomb)
            else:
                shutil.rmtree(tomb, ignore_errors=True)

    def compact(self, searcher_index=None) -> BuildReport:
        """Merge all segments minus tombstones into one fresh segment —
        the merger/mergeplan analogue collapsed to a single tier
        (ref: index/scorch/merge.go, mergeplan/merge_plan.go:67-135)."""
        idx = searcher_index or SearchIndex(
            self.spark, self.index_path, self.mapping
        )
        live = idx.docs.drop("docid")  # rebuild reassigns dense docids
        tmp = os.path.join(self.index_path, "segments_compacting")
        shutil.rmtree(tmp, ignore_errors=True)
        seg_dir = os.path.join(tmp, f"{SEG_PREFIX}00000")
        builder = IndexBuilder(self.spark, self.mapping, seg_dir)
        report = builder.build(live, id_expr=F.col("_id"), resume=False)
        self._seal_segment(seg_dir, 0, 0)
        # swap in the compacted segment set (on Iceberg this is the
        # atomic snapshot commit; here: directory swap)
        old = os.path.join(self.index_path, "segments")
        shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, old)
        shutil.rmtree(self._tomb_dir(), ignore_errors=True)
        return report
