"""Small-file compaction planning for snapshot tables.

Every long-running ingest (the frontier's per-wave commits, the CC
pipeline's per-WARC appends, streaming sinks) accretes small files;
scan cost then scales with FILE COUNT, not bytes.  Lakehouse table
formats solve it with a periodic compaction pass that rewrites groups
of small files into ~target-sized ones.  This module is the PLANNER:
given the current file inventory it emits deterministic rewrite
groups; executing a group is one read-concat-write task, and the
commit goes through state.SnapshotCatalog's CAS like any other writer.

Packing policy: NEXT-FIT DECREASING per table partition — files sorted
(size desc, name), each either joins the currently-open bin or seals
it and opens a new one.  Next-fit (vs first/best-fit) is the policy a
DISTRIBUTED compactor actually wants: one sequential pass, O(1) state,
no bin search — and with the decreasing sort its waste is bounded
(every sealed bin except the last is > half full when files <= target:
a file that didn't fit is no larger than everything already in the
bin, so load > target/2).  Oversized files (> target) seal a bin alone
and are left for a split pass, never grouped.

Spark shape: one hash exchange on the partition key (compaction
inventories are metadata — 10^3-10^5 rows per partition, kilobytes;
the contract documented here and enforced by the planner being keyed
on the table partition), then the whole sequential policy runs as an
O(n) per-group loop in applyInPandas — order-dependence lives inside
one task's group, zero extra shuffle beyond the per-partition group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def compaction_plan(
    files: DataFrame,
    target_bytes: int = 128 * 1024 * 1024,
    part_col: str = "part",
    file_col: str = "file",
    size_col: str = "size_bytes",
) -> DataFrame:
    """Plan rewrite groups: (part, file, size_bytes, bin_id), bin_id
    0-based per partition.  Deterministic: ties in size break on file
    name.  A bin with one oversized file is a split candidate; a bin
    with one file AND load <= target is already compact (executors
    skip single-file bins)."""
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    t = int(target_bytes)
    rows = files.select(
        F.col(part_col).alias("part"),
        F.col(file_col).alias("file"),
        F.col(size_col).cast("long").alias("size_bytes"),
    )

    # The sequential next-fit recurrence runs as an O(n) per-group loop
    # in applyInPandas. The previous shape folded with F.aggregate and
    # grew the output array via concat — O(1) append does not exist in
    # Catalyst arrays, so every step copied the accumulator and the
    # fold was O(n^2) per partition key (14.3 s at 50k files / 8 parts;
    # 36x superlinear sf0.1 -> sf1). Same single exchange (the hash on
    # `part`), same deterministic (size desc, file asc) order, same
    # bins — test_compaction pins the hand-traced packings.
    def _pack(pdf):
        pdf = pdf.sort_values(
            ["size_bytes", "file"], ascending=[False, True], kind="mergesort"
        )
        bins = []
        b, load = -1, 0
        for s in pdf["size_bytes"]:
            if b >= 0 and load + s <= t:
                load += s
            else:
                b += 1
                load = s
            bins.append(b)
        pdf = pdf.assign(bin_id=bins)
        pdf["bin_id"] = pdf["bin_id"].astype("int32")
        return pdf

    part_type = rows.schema["part"].dataType.simpleString()
    return rows.groupBy("part").applyInPandas(
        _pack, f"part {part_type}, file string, size_bytes long, bin_id int"
    )
