"""Exactly-once streaming sink into the snapshot catalog.

Structured Streaming's parquet sink gives exactly-once only through its
own _spark_metadata log; writing into OUR transactional layer instead
(state.py SnapshotCatalog — the engine's Iceberg-style table format)
makes streaming output visible to the same snapshot/time-travel/CDC
machinery the batch engine uses (north star: "frontier state ...
checkpoint to Iceberg").

Mechanics: `foreachBatch` hands each micro-batch a deterministic
`batch_id`. The sink commits the batch as a new catalog snapshot whose
meta records that id, and SKIPS any batch whose id is <= the largest
already-committed id — so a batch replayed after a crash between
"snapshot committed" and "stream checkpoint advanced" lands exactly
once (the same idempotence contract Delta's `txn` table gives a
streamId). CAS commit conflicts (a concurrent writer on the catalog)
retry on top of the new head.

Each snapshot stores the batch DELTA of a state.py delta table (not a
copy-on-write append: a stream commits often, and rewriting history per
micro-batch is O(history)). `read_appended` reads them in one scan;
`SnapshotCatalog(catalog_path).compact_deltas(spark, table)` folds them
when they accumulate, keeping every row and the batch_id watermark;
expiring the catalog's snapshots folds them into base/.

The guard assumes ONE stream-checkpoint lineage per catalog: deleting
the stream checkpoint restarts batch numbering at 0, which the guard
(by design) treats as already-committed replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from news_please_spark.state import CommitConflict, SnapshotCatalog


def max_committed_batch(cat: SnapshotCatalog) -> int:
    """Largest batch_id recorded across committed snapshots (-1 if
    none). O(snapshots) meta reads — metas are tiny json files."""
    best = -1
    for s in cat.snapshots():
        b = cat.read_meta(s).get("batch_id", -1)
        if isinstance(b, int) and b > best:
            best = b
    return best


def commit_batch(
    catalog_path: str, table: str, batch_df: DataFrame, batch_id: int,
    max_retries: int = 5,
) -> bool:
    """Commit one micro-batch as a snapshot; returns False when the
    batch was already committed (replay). Safe under CAS conflicts."""
    cat = SnapshotCatalog(catalog_path)
    for _ in range(max_retries):
        if max_committed_batch(cat) >= batch_id:
            return False
        try:
            cat.append_delta(table, batch_df, {"batch_id": batch_id})
            return True
        except CommitConflict:
            continue  # re-check the new head, then retry on top
    raise CommitConflict(
        f"batch {batch_id}: lost the CAS race {max_retries} times"
    )


def write_stream_to_catalog(
    stream_df: DataFrame,
    catalog_path: str,
    table: str,
    checkpoint_dir: str,
) -> None:
    """Run the stream with availableNow, committing each micro-batch
    exactly once into the catalog."""
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: commit_batch(catalog_path, table, df, bid)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_appended(
    spark: SparkSession,
    catalog_path: str,
    table: str,
    allow_schema_evolution: bool = False,
) -> DataFrame | None:
    """Every committed batch of `table` in one scan (None if nothing
    committed yet).

    ``allow_schema_evolution=True`` supports ADD-COLUMN drift across
    snapshots (Iceberg's add-only schema evolution): deltas written
    before a column existed contribute NULL for it, and the result
    carries the union of all columns; without it, drift raises
    AnalysisException. Renames/drops are not resolved — a rename reads
    as drop+add (both columns present, each null where the other was
    written), which is also Iceberg's behavior without explicit
    column-mapping metadata."""
    return SnapshotCatalog(catalog_path).read_deltas(
        spark, table, allow_missing_columns=allow_schema_evolution
    )
