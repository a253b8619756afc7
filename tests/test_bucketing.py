"""Bucketed co-located joins (shuffle elimination) and physical
partition isolation of the bucketed upsert — the two 100 TB levers
docs/SCALE.md claims, asserted against real plans and real files."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.operators.bucketing import (
    colocated_join,
    count_exchanges,
    write_bucketed,
)
from e_commerce_etl_pipeline_spark.operators import fsops, index_store
from e_commerce_etl_pipeline_spark.operators.upsert import (
    _bucket_expr,
    read_upsert_table,
    upsert,
    write_table,
)

N_BUCKETS = 4


def _orders(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("order_id"),
        (F.col("id") % 7).alias("custkey"),
        (F.col("id") * 10).cast("double").alias("total"),
    )


def _items(spark, n=600):
    return spark.range(n).select(
        (F.col("id") % 200).alias("order_id"),
        F.col("id").alias("item_id"),
        (F.col("id") % 5 + 1).cast("double").alias("qty"),
    )


def test_colocated_join_no_exchange(spark, tmp_path):
    write_bucketed(_orders(spark), "b_orders", ["order_id"], N_BUCKETS,
                   path=str(tmp_path / "orders"))
    write_bucketed(_items(spark), "b_items", ["order_id"], N_BUCKETS,
                   path=str(tmp_path / "items"))
    try:
        joined = colocated_join(spark, "b_orders", "b_items", ["order_id"])
        assert count_exchanges(joined) == 0, "bucketed join must not shuffle"
        assert joined.count() == 600
        # same join WITHOUT bucketing shuffles both sides
        plain = _orders(spark).hint("merge").join(_items(spark), "order_id")
        assert count_exchanges(plain) >= 2
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_bucketed_groupby_no_exchange(spark, tmp_path):
    write_bucketed(_items(spark), "b_items_agg", ["order_id"], N_BUCKETS,
                   path=str(tmp_path / "items_agg"))
    try:
        agg = (
            spark.table("b_items_agg")
            .groupBy("order_id")
            .agg(F.sum("qty").alias("total_qty"))
        )
        assert count_exchanges(agg) == 0, "groupBy on bucket key must not shuffle"
        assert agg.count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS b_items_agg")


def _bucket_files(path):
    """{bucket_dir_name: {file_name: (size, mtime)}} for a bucketed table."""
    out = {}
    for d in os.listdir(path):
        if not d.startswith("__bucket="):
            continue
        full = os.path.join(path, d)
        out[d] = {
            f: (os.path.getsize(os.path.join(full, f)),
                os.path.getmtime(os.path.join(full, f)))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale contract of the bucketed upsert: a batch touching one
    key must leave every other bucket's parquet files byte-identical on
    disk (same names, sizes, mtimes) — per-batch write work scales with
    the batch, not the table."""
    path = str(tmp_path / "tbl")
    ts = datetime.datetime(2024, 1, 1)
    rows = [(f"o{i}", "i1", "created", ts) for i in range(64)]
    df = spark.createDataFrame(
        rows, "order_id string, item_id string, status string, update_time timestamp"
    )
    upsert(spark, df, path, ["order_id", "item_id"], "update_time", ["status"],
           num_buckets=8)
    before = _bucket_files(path)
    assert len(before) > 1, "need multiple buckets for the isolation claim"

    batch = spark.createDataFrame(
        [("o3", "i1", "shipped", datetime.datetime(2024, 1, 2))],
        "order_id string, item_id string, status string, update_time timestamp",
    )
    upsert(spark, batch, path, ["order_id", "item_id"], "update_time", ["status"],
           num_buckets=8)
    after = _bucket_files(path)

    touched = batch.select(_bucket_expr(["order_id", "item_id"], 8)).collect()[0][0]
    touched_dir = f"__bucket={touched}"

    assert after[touched_dir] != before[touched_dir]
    for d, files in before.items():
        if d != touched_dir:
            assert after[d] == files, f"untouched bucket {d} was rewritten"

    out = {r.order_id: r.status for r in read_upsert_table(spark, path).collect()}
    assert out["o3"] == "shipped" and out["o1"] == "created" and len(out) == 64


def test_compact_buckets(spark, tmp_path):
    """Small-file accretion comes from append-mode ingestion (K1) and
    multi-task bulk loads — each append drops one more file into every
    bucket it touches. (Upsert batches do NOT accrete: dynamic partition
    overwrite replaces the touched bucket wholesale — proven above.)
    Compaction rewrites only buckets over the file threshold, preserves
    rows, leaves slim buckets' files untouched."""
    from e_commerce_etl_pipeline_spark.operators.upsert import compact_buckets

    path = str(tmp_path / "tbl")
    base_ts = datetime.datetime(2024, 1, 1)
    # 6 append slices of 2 keys each — per-bucket file counts end up
    # uneven (hash-dependent but deterministic for fixed keys)
    for j in range(6):
        part = spark.createDataFrame(
            [(f"o{2 * j}", "i1", "created", base_ts),
             (f"o{2 * j + 1}", "i1", "created", base_ts)],
            "order_id string, item_id string, status string, update_time timestamp",
        ).withColumn("__bucket", _bucket_expr(["order_id", "item_id"], 8))
        part.coalesce(1).write.mode("append").partitionBy("__bucket").parquet(path)

    before = _bucket_files(path)
    threshold = 1
    bloated = sorted(
        int(d.split("=", 1)[1]) for d in before if len(before[d]) > threshold
    )
    slim = [d for d in before if len(before[d]) <= threshold]
    assert bloated, "fixture must produce at least one multi-file bucket"
    assert slim, "fixture must produce at least one slim bucket"

    rows_before = sorted(
        (r.order_id, r.status) for r in read_upsert_table(spark, path).collect()
    )
    assert compact_buckets(spark, path, max_files_per_bucket=threshold) == bloated

    after = _bucket_files(path)
    for d in before:
        if d in slim:
            assert after[d] == before[d], f"slim bucket {d} was rewritten"
        else:
            assert len(after[d]) == 1
    rows_after = sorted(
        (r.order_id, r.status) for r in read_upsert_table(spark, path).collect()
    )
    assert rows_after == rows_before
    # idempotent: nothing left to compact
    assert compact_buckets(spark, path, max_files_per_bucket=threshold) == []


# --- change-only rewrite: a batch rewrites only the buckets it changes ---

ROW_SCHEMA = "order_id string, item_id string, status string, update_time timestamp"
KEYS = ["order_id", "item_id"]
DAY0, DAY1, DAY2 = (datetime.datetime(2024, 1, d) for d in (1, 2, 3))


def _apply(spark, path, rows):
    upsert(spark, spark.createDataFrame(rows, ROW_SCHEMA), path, KEYS,
           "update_time", ["status"], num_buckets=8)


def _seed_table(spark, path):
    _apply(spark, path, [(f"o{i}", "i1", "created", DAY1) for i in range(64)])


def _stored_artifact(spark, path):
    return index_store.stored_df(spark, path, "test_noop",
                                 lambda: spark.read.parquet(path).select("order_id"))


def _assert_no_op(spark, path, rows):
    """Applying ``rows`` leaves every parquet file byte-identical and the
    table's stored index artifact in place (no rebuild on next use)."""
    _stored_artifact(spark, path)
    before = _bucket_files(path)
    content = sorted(read_upsert_table(spark, path).collect())
    builds = index_store.BUILD_COUNTS.get("test_noop", 0)

    _apply(spark, path, rows)

    assert _bucket_files(path) == before
    assert fsops.exists(f"{path}/_index/test_noop", spark)
    _stored_artifact(spark, path)
    assert index_store.BUILD_COUNTS.get("test_noop", 0) == builds
    assert sorted(read_upsert_table(spark, path).collect()) == content


def test_upsert_replay_writes_nothing(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _seed_table(spark, path)
    batch = [("o3", "i1", "shipped", DAY2), ("o70", "i1", "created", DAY1)]
    _apply(spark, path, batch)
    _assert_no_op(spark, path, batch)


def test_upsert_stale_batch_writes_nothing(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _seed_table(spark, path)
    # older versions and an identical re-delivery: none of them applies
    stale = [("o3", "i1", "shipped", DAY0), ("o5", "i1", "cancelled", DAY0),
             ("o9", "i1", "created", DAY1)]
    _assert_no_op(spark, path, stale)


def test_upsert_mixed_batch_rewrites_exactly_changed_buckets(spark, tmp_path):
    """One insert and one update land in changed buckets; a stale row and
    an identical re-delivery land in other buckets, which the batch
    touches (reads) but must not rewrite."""
    path = str(tmp_path / "tbl")
    _seed_table(spark, path)
    ids = spark.createDataFrame([(f"o{i}", "i1") for i in range(80)],
                                "order_id string, item_id string")
    bucket = dict(ids.select("order_id", _bucket_expr(KEYS, 8)).collect())
    picked, used = {}, set()
    for role, pool in (("update", range(64)), ("insert", range(64, 80)),
                       ("stale", range(64)), ("same", range(64))):
        key = next(f"o{i}" for i in pool if bucket[f"o{i}"] not in used)
        picked[role] = key
        used.add(bucket[key])
    batch = [(picked["update"], "i1", "shipped", DAY2),
             (picked["insert"], "i1", "created", DAY1),
             (picked["stale"], "i1", "cancelled", DAY0),
             (picked["same"], "i1", "created", DAY1)]
    before = _bucket_files(path)
    _apply(spark, path, batch)
    after = _bucket_files(path)

    rewritten = {d for d in after if after[d] != before.get(d)}
    changed = {f"__bucket={bucket[picked[r]]}" for r in ("update", "insert")}
    assert rewritten == changed
    out = {r.order_id: r.status for r in read_upsert_table(spark, path).collect()}
    assert out[picked["update"]] == "shipped"
    assert out[picked["insert"]] == "created"
    assert out[picked["stale"]] == "created"
    assert len(out) == 65


def test_one_file_per_bucket(spark, tmp_path):
    """Writes cluster rows on the bucket: every bucket directory holds
    exactly one parquet file, after the full load and after an upsert that
    rewrites many buckets, even when the rows reach the write spread over
    several tasks (AQE coalescing off, as at sizes above its 1 MB floor)."""
    path = str(tmp_path / "tbl")
    df = spark.range(400).select(
        F.concat(F.lit("o"), F.col("id").cast("string")).alias("order_id"),
        F.lit("i1").alias("item_id"), F.lit("created").alias("status"),
        F.lit(DAY1).alias("update_time"),
    ).repartition(4)
    batch = df.filter(F.col("order_id").endswith("7")).withColumn(
        "update_time", F.lit(DAY2))
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        write_table(spark, df, path, KEYS, "update_time", num_buckets=8)
        files = _bucket_files(path)
        assert len(files) == 8
        assert all(len(f) == 1 for f in files.values()), files

        upsert(spark, batch, path, KEYS, "update_time", ["status"])
        files = _bucket_files(path)
        assert all(len(f) == 1 for f in files.values()), files
    finally:
        spark.conf.set(conf, prev)
    assert read_upsert_table(spark, path).filter(
        F.col("update_time") == DAY2).count() == 40
