"""Streaming CDC upsert: foreachBatch merge into a bucketed parquet
snapshot, rewriting ONLY the buckets a batch touches.

The 100 TB design point: a snapshot table partitioned by a key-hash
bucket column. Each micro-batch reads back just the buckets its keys
land in and merges them with the batch in ONE ranked aggregate, then
overwrites those buckets alone via dynamic partition overwrite. Cost
per batch is O(touched buckets), not O(snapshot): one shuffle, and one
file per touched bucket per shuffle partition (the merged rows replace
the bucket's files, so files do not pile up batch after batch).
Replaying a failed batch rewrites the same buckets with the same
content (foreachBatch's idempotence recipe). A full-rewrite variant
would not survive at scale, which is why it isn't offered.

Merge rule: batch rows win on key collision. Within a batch the row
with the greatest ``order_col`` wins, ties broken by xxhash64 of the
row, exactly as ``operators.merge.latest_snapshot`` picks. Across
batches arrival order wins: ``order_col`` is never compared with the
snapshot, so a late row that arrives in a later batch replaces the
newer row the snapshot already holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

BUCKET_COL = "_bucket"
# the merge's rank columns: source (existing 0 < batch 1) and tie-break
_SRC = "_merge_src"
_TB = "_merge_tb"


def _bucket(keys: list[str], n_buckets: int):
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))


def _check_bucket_layout(spark, snapshot_dir: str, n_buckets: int) -> None:
    """The bucket count is baked into the persisted layout: merging
    with a different n_buckets would read the wrong buckets and leave
    stale duplicate keys behind. A `_meta` sidecar (underscore prefix:
    invisible to parquet directory readers) records the layout on first
    write; later calls must match. This module owns the sidecar's
    schema, so reading it declares the schema instead of inferring it
    from the footer (one Spark job fewer per batch)."""
    meta_path = f"{snapshot_dir}/_meta"
    try:
        row = spark.read.schema("n_buckets int").parquet(meta_path).first()
    except AnalysisException:  # first write: no sidecar yet
        row = None
    if row is None:
        spark.createDataFrame([(n_buckets,)], "n_buckets int").coalesce(1).write.mode(
            "overwrite"
        ).parquet(meta_path)
        return
    if row["n_buckets"] != n_buckets:
        raise ValueError(
            f"snapshot at {snapshot_dir} was bucketed with n_buckets={row['n_buckets']}; "
            f"got n_buckets={n_buckets} — merging would strand stale keys"
        )


def merge_batch_into_snapshot(
    batch_df: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    order_col: str,
    n_buckets: int = 64,
) -> None:
    """One micro-batch of the streaming upsert (usable standalone for
    batch CDC too): tag the batch with its buckets, read the touched
    buckets, keep one row per (bucket, key) and dynamically overwrite
    those buckets.

    The one aggregate is ``max_by(row, (source, order_col, tie))``:
    existing rows rank ``(0, order_col, 0)``, batch rows
    ``(1, order_col, xxhash64(batch row))``. So a batch row beats any
    existing row of its key (batch rows win on key collision) and the
    batch's own rows compete exactly as in ``latest_snapshot``. NULL
    keys group together as in ``latest_snapshot``: a NULL-key batch row
    replaces the stale NULL-key row. A batch whose columns differ from
    the snapshot's raises in ``unionByName``, before anything is
    written."""
    spark = batch_df.sparkSession
    _check_bucket_layout(spark, snapshot_dir, n_buckets)
    batch = batch_df.withColumn(BUCKET_COL, _bucket(keys, n_buckets))
    # metadata-scale collect: at most n_buckets distinct values (bucket
    # ids, not data rows), so this stays O(64) even at 100 TB
    touched = [r[BUCKET_COL] for r in batch.select(BUCKET_COL).distinct().collect()]
    if not touched:
        return
    rows = batch.withColumns({_SRC: F.lit(1), _TB: F.xxhash64(*batch_df.columns)})
    # the try guards ONLY the read: a failure inside the merge itself
    # (schema drift, bad keys) must surface, not be misread as "first
    # batch" — that would overwrite touched buckets with batch-only
    # rows and silently drop the existing data
    try:
        existing = spark.read.parquet(snapshot_dir)
    except AnalysisException:  # first batch: snapshot doesn't exist yet
        existing = None
    if existing is not None:
        rows = (
            existing.where(F.col(BUCKET_COL).isin(touched))
            .withColumns({_SRC: F.lit(0), _TB: F.lit(0).cast("long")})
            .unionByName(rows)
        )
    data_cols = [c for c in rows.columns if c not in (BUCKET_COL, _SRC, _TB)]
    merged = (
        rows.groupBy(BUCKET_COL, *keys)
        .agg(F.max_by(F.struct(*data_cols), F.struct(_SRC, order_col, _TB)).alias("_row"))
        .select("_row.*", BUCKET_COL)
    )
    # materialize before writing: the merge reads the very files the
    # dynamic overwrite below replaces, so the lineage must be cut
    merged = merged.localCheckpoint(eager=True)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(snapshot_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def streaming_upsert(
    stream_df: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    order_col: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
):
    """Wire a stream into the bucketed snapshot via foreachBatch.
    Returns the started query (trigger availableNow — call
    ``awaitTermination()``); re-run to process newly arrived data
    incrementally through the shared checkpoint."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into_snapshot(batch_df, snapshot_dir, keys, order_col, n_buckets)

    return (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """Current state of the snapshot (drops the layout column)."""
    return spark.read.parquet(snapshot_dir).drop(BUCKET_COL)


BATCH_COL = "_batch_id"


def append_batch_exactly_once(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Exactly-once APPEND over foreachBatch's at-least-once replay.

    The canonical recipe for non-transactional sinks: every batch lands
    in its own ``_batch_id=<id>`` partition via dynamic partition
    overwrite, so a replayed batch REWRITES its partition with the same
    content instead of appending duplicates. No commit log needed — the
    batch id in the layout IS the commit marker. Readers see the union
    of all partitions; at 100 TB the per-batch directories also give
    retention/compaction a natural unit."""
    spark = batch_df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            batch_df.withColumn(BATCH_COL, F.lit(int(batch_id)))
            .write.mode("overwrite")
            .partitionBy(BATCH_COL)
            .parquet(out_dir)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def streaming_append_exactly_once(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Wire a stream into exactly-once appends (trigger availableNow)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        append_batch_exactly_once(batch_df, batch_id, out_dir)

    return (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
