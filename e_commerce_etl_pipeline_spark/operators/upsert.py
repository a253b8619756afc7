"""Guarded keyed upsert — the reference's MERGE semantics on plain Spark.

Replicates SURVEY.md §2.2 K4-K6 (T-SQL ``MERGE ... WHEN MATCHED AND
(target.order < source.order OR any guard column changed) THEN UPDATE``,
``WHEN NOT MATCHED THEN INSERT``) as a pure DataFrame program:

1. dedup incoming batch by key (one of the three modes in ``dedup.py``);
2. full-outer join target vs source on the natural key;
3. per-row resolve: source wins iff target missing, target stale
   (``target.order_col < source.order_col``), or any guard column differs;
4. ETL-metadata carve-out: ``etl_created_at`` keeps the target's value on
   update; ``etl_updated_at`` is bumped to the batch time on every applied
   update (tiktok_shop_staging_loader.py:382-468).

Idempotence / replay-safety (SURVEY §2.8 ST3): re-applying a batch is a
no-op; an older order_col never regresses a newer row.

Scale note (100 TB): a naive full-outer join rewrites the whole table per
batch. ``upsert`` therefore hash-buckets the table by key, joins only the
buckets the batch touches, and rewrites (dynamic partition overwrite)
only the buckets where the MERGE applies at least one row — work
proportional to the batch's key spread, not table size. A replay or an
all-stale batch writes nothing. Every write clusters its rows on the
bucket (``REBALANCE`` hint), so a bucket is one file unless AQE splits an
oversized one at the advisory partition size. The incremental batch is
tiny relative to the table, so the join side of the touched partitions
is broadcast-eligible and AQE will pick that.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsops, index_store
from .dedup import drop_null_keys, keep_newest

ETL_COLS = ("etl_batch_id", "etl_created_at", "etl_updated_at", "etl_source")


def _bucket_expr(keys: Sequence[str], num_buckets: int) -> Column:
    return F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(num_buckets)).alias("__bucket")


def _clustered(df: DataFrame) -> DataFrame:
    """Cluster rows on ``__bucket`` before a partitioned write, so each
    bucket lands in one task and is written as one file. Unlike
    ``repartition("__bucket")`` the REBALANCE hint lets AQE split an
    oversized bucket and does not cap the write at one task per bucket."""
    return df.hint("rebalance", "__bucket")


_BUCKET_MARKER = "_bucket_count"


def _write_bucket_marker(
    table_path: str, num_buckets: int, spark: SparkSession | None = None
) -> None:
    fsops.write_text(f"{table_path}/{_BUCKET_MARKER}", str(num_buckets), spark)


def _read_bucket_marker(
    table_path: str, spark: SparkSession | None = None
) -> int | None:
    """The table's actual bucket count, recorded at creation. A caller
    upserting with a different num_buckets than the layout was written
    with would route batch keys to the wrong bucket partitions and
    silently DUPLICATE keys — the marker makes the layout authoritative,
    exactly like a lakehouse table's bucket spec living in its metadata
    rather than in every writer's config. Read/written through the
    Hadoop FileSystem API so the layout works on HDFS/S3A, not just
    local disk."""
    text = fsops.read_text(f"{table_path}/{_BUCKET_MARKER}", spark)
    try:
        return int(text.strip()) if text is not None else None
    except ValueError:
        return None


def write_table(
    spark: SparkSession,
    df: DataFrame,
    table_path: str,
    keys: Sequence[str],
    order_col: str,
    num_buckets: int = 64,
    drop_null_key_rows: bool = False,
    tiebreak: Sequence[str] = (),
) -> None:
    """Full-load (truncate+insert, K2) writer in the upsert-compatible
    hash-bucketed layout: dedup keep-newest, optional null-key drop (D5,
    MISA parity), bucket by key hash, overwrite with the rows clustered on
    the bucket (one file per bucket at moderate size)."""
    out = keep_newest(df, keys, order_col, tiebreak)
    if drop_null_key_rows:
        out = drop_null_keys(out, keys)
    out = out.withColumn("__bucket", _bucket_expr(keys, num_buckets))
    _clustered(out).write.partitionBy("__bucket").mode("overwrite").parquet(table_path)
    _write_bucket_marker(table_path, num_buckets, spark)
    # Derived index artifacts (IVF lists, cluster assignments, TF/basket
    # intermediates) are now stale — drop them eagerly. The fingerprint
    # keys in index_store already prevent stale READS; this reclaims the
    # persisted blocks and on-disk generations immediately.
    index_store.invalidate(table_path, spark)


def _any_guard_changed(guard_cols: Sequence[str]) -> Column:
    """OR of null-safe inequality over guard columns (t.<=>s negated)."""
    cond = F.lit(False)
    for g in guard_cols:
        cond = cond | ~F.col(f"t.{g}").eqNullSafe(F.col(f"s.{g}"))
    return cond


def resolve_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    batch_time: Column | None = None,
    drop_null_key_rows: bool = False,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Pure (no I/O) MERGE resolve: returns the post-upsert table contents.

    Both inputs must share the same schema. ``guard_cols``: update also
    applies when target/source differ on any of these even if order_col
    ties (the reference's "status/tracking changed" OR-guard,
    tiktok_shop_staging_loader.py:382-404).

    ``drop_null_key_rows``: the MISA loader drops rows missing any key
    before load (misa_crm_loader.py:161-171); other sources keep them
    (itemless orders carry NULL item_id by design) — the key join here is
    null-safe, so replays still match.

    ``tiebreak``: extra columns completing the source's keep-newest total
    order. Without it, a batch holding two rows with the same key AND the
    same order_col picks the survivor nondeterministically — and replay
    idempotence (ST3) then fails in the guard-tie case, because a replay
    may pick the other row and the changed-guard clause applies it.
    Batches with a genuinely total (key, order) order don't need it;
    pytest's property suite (test_upsert_property.py) exercises the
    ambiguous case with it set.
    """
    cols = target.columns
    source = keep_newest(source, keys, order_col, tiebreak)
    if drop_null_key_rows:
        source = drop_null_keys(source, keys)

    t = target.alias("t")
    s = source.alias("s")
    on = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c

    joined = t.join(s, cond, "full_outer")

    t_exists = F.col(f"t.{keys[0]}").isNotNull()
    s_exists = F.col(f"s.{keys[0]}").isNotNull()
    stale = F.col(f"t.{order_col}").isNull() | (
        F.col(f"t.{order_col}") < F.col(f"s.{order_col}")
    )
    # The reference's OR-guard ("update_time newer OR status/tracking
    # changed", tiktok_shop_staging_loader.py:382-404) constrained by the
    # replay invariant (FIXTURES.md §5.4: an older record never overwrites
    # a newer one): the changed-columns guard only fires when the source is
    # not older — i.e. equal order_col but different guard values.
    same_version = F.col(f"t.{order_col}").eqNullSafe(F.col(f"s.{order_col}"))
    update_applies = s_exists & t_exists & (
        stale | (same_version & _any_guard_changed(guard_cols))
    )
    take_source = (~t_exists & s_exists) | update_applies

    if batch_time is None:
        batch_time = F.current_timestamp()

    out_cols = []
    for c in cols:
        src = F.col(f"s.{c}")
        tgt = F.col(f"t.{c}")
        if c == "etl_created_at":
            # insert: source's; update: target's original creation time
            expr = F.when(t_exists, tgt).otherwise(src)
        elif c == "etl_updated_at":
            # match the column's type (MISA/Shopee stamp +07 timestamp_ntz)
            bumped = batch_time.cast(target.schema[c].dataType)
            expr = F.when(update_applies, bumped).when(take_source, src).otherwise(tgt)
        else:
            expr = F.when(take_source, src).otherwise(tgt)
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)


def upsert(
    spark: SparkSession,
    source: DataFrame,
    table_path: str,
    keys: Sequence[str],
    order_col: str,
    guard_cols: Sequence[str] = (),
    num_buckets: int = 64,
    drop_null_key_rows: bool = False,
    tiebreak: Sequence[str] = (),
) -> None:
    """Apply a guarded keyed upsert batch to a parquet table at ``table_path``.

    The table is stored hash-bucketed on the key (``bucket=pmod(hash(keys),
    num_buckets)`` as a partition column). Only buckets containing batch
    keys are read (partition pruning on the bucket filter), and of those
    only the buckets where the MERGE inserts or updates a row are
    rewritten, each as one file; a touched bucket the batch does not
    change keeps its files byte-identical. A batch that applies no row (a
    replay, or only stale rows) writes nothing and leaves the table's
    listing and its derived index artifacts in place. Per-batch work
    scales with batch size, not table size. At 100 TB a second partition
    level (e.g. etl_date) would bound file counts further.
    """
    if not fsops.exists(table_path, spark):
        write_table(spark, source, table_path, keys, order_col, num_buckets,
                    drop_null_key_rows, tiebreak)
        return
    # The existing layout's bucket count wins over the caller's argument
    # (see _read_bucket_marker — a mismatch would silently duplicate keys).
    num_buckets = _read_bucket_marker(table_path, spark) or num_buckets
    source_b = source.withColumn("__bucket", _bucket_expr(keys, num_buckets))

    touched = [r["__bucket"] for r in source_b.select("__bucket").distinct().collect()]
    target = spark.read.parquet(table_path).filter(F.col("__bucket").isin(touched))
    # ``__applied`` marks the rows the MERGE takes from the batch: the
    # resolve's per-column projection carries it through from whichever
    # side wins, so a row is flagged exactly when it is inserted or updated.
    resolved = resolve_upsert(target.withColumn("__applied", F.lit(False)),
                              source_b.withColumn("__applied", F.lit(True)),
                              keys, order_col, guard_cols,
                              drop_null_key_rows=drop_null_key_rows,
                              tiebreak=tiebreak)

    # ``resolved`` reads from table_path, so it cannot overwrite table_path
    # in-place within one job. Eager localCheckpoint materializes the
    # resolved buckets to executor storage (memory, spilling to local disk)
    # and truncates lineage, so the subsequent write no longer depends on
    # the files it replaces — changed-bucket bytes hit the table exactly
    # once, instead of the old stage-to-temp-parquet round-trip that wrote
    # them twice (r4 finding #2). On a real cluster an executor loss during
    # the write re-runs the whole upsert (checkpoint blocks are not
    # replicated); the operation is idempotent by construction (ST3), so
    # retry-at-the-orchestrator is the intended recovery path.
    resolved = resolved.localCheckpoint(eager=True)
    # Rewrite only the buckets holding an applied row; an unchanged table
    # keeps its listing, so the refresh and the invalidation are skipped.
    changed = [r["__bucket"] for r in
               resolved.filter(F.col("__applied")).select("__bucket").distinct().collect()]
    if changed:
        _overwrite_buckets(
            spark,
            resolved.filter(F.col("__bucket").isin(changed)).drop("__applied"),
            table_path)


def _overwrite_buckets(spark: SparkSession, df: DataFrame, table_path: str) -> None:
    """Replace exactly the bucket partitions present in ``df`` (dynamic
    partition overwrite), one file per bucket; every other bucket keeps
    its files. ``df`` must not read from ``table_path`` (checkpoint it)."""
    with_dyn = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        _clustered(df).write.partitionBy("__bucket").mode("overwrite").parquet(table_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", with_dyn)
    # The rewrite replaced files under paths the session may hold cached
    # listings for (FileStatusCache has no TTL by default) — invalidate,
    # or the next read of an overwritten bucket hits FILE_NOT_EXIST.
    spark.catalog.refreshByPath(table_path)
    # Dynamic partition overwrite leaves sibling dirs (incl. _index)
    # intact — stale derived artifacts must be dropped explicitly. (After
    # a compaction rows are unchanged but the listing is not, so every
    # fingerprint-keyed artifact would rebuild anyway: drop the
    # now-unreachable generations rather than leave them on disk.)
    index_store.invalidate(table_path, spark)


def read_upsert_table(spark: SparkSession, table_path: str) -> DataFrame:
    df = spark.read.parquet(table_path)
    return df.drop("__bucket") if "__bucket" in df.columns else df


def compact_buckets(
    spark: SparkSession,
    table_path: str,
    max_files_per_bucket: int = 4,
) -> list[int]:
    """Small-file compaction for the bucketed table layout.

    Upsert batches and full loads do NOT accrete files (each write
    clusters rows on the bucket, and dynamic partition overwrite replaces
    a changed bucket wholesale); accretion comes from append-mode
    ingestion (K1), where every append drops one more file into each
    bucket it touches — the
    classic small-file problem that at 100 TB degrades listing and task
    bookkeeping long before I/O. Compaction rewrites only buckets whose
    file count exceeds ``max_files_per_bucket`` down to one file per
    bucket, via the same dynamic-partition-overwrite path the upsert
    uses — slim buckets keep their files byte-identical.

    Returns the bucket ids compacted. Run it opportunistically (e.g.
    after a burst of appends), exactly like lakehouse OPTIMIZE."""
    bloated: list[int] = []
    for d in fsops.list_child_names(table_path, spark):
        if not d.startswith("__bucket="):
            continue
        n = fsops.count_files_with_suffix(
            f"{table_path}/{d}", ".parquet", spark
        )
        if n > max_files_per_bucket:
            bloated.append(int(d.split("=", 1)[1]))
    if not bloated:
        return bloated

    target = spark.read.parquet(table_path).filter(F.col("__bucket").isin(bloated))
    # Same single-write pattern as upsert(): eager localCheckpoint breaks
    # the read-from-table_path dependency so dynamic overwrite is safe
    # without a second parquet write of the compacted buckets.
    _overwrite_buckets(spark, target.localCheckpoint(eager=True), table_path)
    return bloated


def stamp_etl_metadata(
    df: DataFrame,
    source_name: str,
    batch_id: str | None = None,
    vn_naive: bool = False,
) -> DataFrame:
    """T12: add the ETL-metadata quartet (tiktok_shop_transformer.py:368-377).

    TikTok stamps UTC; MISA/Shopee stamp +07-naive at transform
    (misa_crm_transformer.py:41-60) — ``vn_naive`` selects the convention.
    """
    ts = F.current_timestamp()
    if vn_naive:
        ts = F.from_utc_timestamp(F.current_timestamp(), "Asia/Ho_Chi_Minh").cast(
            "timestamp_ntz"
        )
    return (
        df.withColumn("etl_batch_id", F.lit(batch_id or str(uuid.uuid4())))
        .withColumn("etl_created_at", ts)
        .withColumn("etl_updated_at", ts)
        .withColumn("etl_source", F.lit(source_name))
    )
