"""The ``incremental`` workload: guarded MERGE upserts of change windows
into a bucketed TikTok staging table, each followed by freshness reads.

Set-up lands seeded orders and change windows as JSONL with
``sources.api_adapter.land_jsonl`` and seeds the staged table with
``pipelines.etl.full_load_pipeline``. The timed closed loop applies each
window with ``pipelines.etl.incremental_pipeline`` under ``RunAudit`` and
reads that window's keys (the first 20 in key order) back through
``operators.upsert.read_upsert_table``. Every fifth window replays the
previous one, which must change nothing. No untimed window runs first:
the first window pays the upsert and read paths' first-use cost in the
process, as every batch of the reference does (each 15-minute run is a
fresh job), and it is the run's tail.

The benchmark keeps its own model of the guarded-MERGE rules (the version
of every order that must be staged); reads and the final staged state are
checked against it.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from common import SETUP_PASSES, Bench, check, units
import gen

TABLE = "tiktok_shop_order_detail"
READ_ORDERS = 20  # keys per freshness read, so every read does equal work
KEY_COLS = ("order_id", "item_id")
CHECK_COLS = ("update_time", "status", "tracking_number", "shipping_provider")


def sizes(bench: Bench) -> dict:
    if bench.tiny:
        return {"orders": 300, "windows": 5, "min": 5, "max": 60}
    # 12,000 orders stage ~27.5k rows, so the table-size-dependent part of
    # a window (the rewrite of the touched buckets, nearly all 64 of them
    # from ~100 orders up) is a visible share of its latency. Five windows
    # (four fresh + one replay) per unit of run time.
    return {"orders": 12000, "windows": 5 * units(bench.seconds),
            "min": 20, "max": 2000}


def expected_rows(orders: list[dict]) -> dict[tuple, tuple]:
    """The staged rows the model predicts: (order_id, item_id) -> values."""
    out = {}
    for o in orders:
        vals = (o["update_time"], o["status"], o["tracking_number"],
                o["shipping_provider"])
        items = [it["id"] for it in o["line_items"]] or [None]
        for item in items:
            out[(o["id"], item)] = vals
    return out


class Incremental:
    def __init__(self, bench: Bench) -> None:
        self.bench = bench
        self.size = sizes(bench)
        self.landing = os.path.join(bench.work, "data", "landing")
        self.staging = os.path.join(bench.work, "data", "staging")
        self.table = os.path.join(self.staging, TABLE)
        self.paths: dict[tuple, str] = {}
        self.rewrites: list[dict] = []   # traced runs only
        self.trace_facts: dict = {}

    # --------------------------------------------------------- set-up

    def generate(self):
        """Seeded inputs: the seed orders and the timed change windows."""
        rng = random.Random(self.bench.seed)
        orders = [gen.tiktok_order(rng, i) for i in range(self.size["orders"])]
        windows = gen.change_windows(rng, orders, self.size["windows"],
                                     self.size["min"], self.size["max"])
        return orders, windows

    def land(self, seed, windows) -> None:
        from e_commerce_etl_pipeline_spark.sources import api_adapter

        os.makedirs(self.landing, exist_ok=True)
        files = {("seed",): seed}
        files.update({(k,): w for k, w in enumerate(windows)})
        for key, records in files.items():
            path = os.path.join(self.landing, f"{key[0]}.jsonl")
            api_adapter.land_jsonl(gen.pages(records), path)
            self.paths[key] = path

    def pipeline(self):
        from e_commerce_etl_pipeline_spark.pipelines.configs import (
            TIKTOK_ORDER_DETAIL, make_pipeline)
        from e_commerce_etl_pipeline_spark.schemas import TIKTOK_ORDER_SCHEMA
        from e_commerce_etl_pipeline_spark.transforms import tiktok

        paths = self.paths

        def extract(spark, window=None):
            path = paths[("seed",) if window is None else window]
            return spark.read.schema(TIKTOK_ORDER_SCHEMA).json(path)

        # resolved now, so a traced run gets the traced transform
        transform = tiktok.transform_tiktok_orders
        tracer = self.bench.tracer
        if tracer:
            def transform(raw, build=transform):
                out = build(raw)
                with tracer.span("transforms.plan"):
                    self.bench.extra(
                        lambda: out._jdf.queryExecution().executedPlan())
                return out
        return make_pipeline(TABLE, TIKTOK_ORDER_DETAIL, extract, transform)

    def setup(self) -> None:
        from e_commerce_etl_pipeline_spark.pipelines import etl

        bench, spark = self.bench, self.bench.spark
        t0 = time.time()
        seed, windows = self.generate()
        gen_s = time.time() - t0
        land_times = []
        for _ in range(SETUP_PASSES):  # the package's landing; median
            t0 = time.time()
            self.land(seed, windows)
            land_times.append(time.time() - t0)
        self.windows, self.base = windows, seed
        self.pipe = self.pipeline()
        self.audit = etl.RunAudit(spark, os.path.join(bench.work, "data", "audit"))

        t0 = time.time()
        counts = etl.full_load_pipeline(spark, self.pipe, self.staging)
        full_load_s = time.time() - t0
        self.seed_rows = sum(gen.tiktok_rows(o) for o in seed)
        bench.run_op("check", "seed-full-load", lambda: self._check_seed(counts))
        self.seed_created = self._created_at_values()
        if bench.tracer:
            self._trace_full_load()
        bench.setup.update({"gen_s": gen_s,
                            "land_s": statistics.median(land_times),
                            "full_load_s": full_load_s,
                            "seed_rows": self.seed_rows})
        bench.setup["workload_setup_s"] = (gen_s + bench.setup["land_s"]
                                           + full_load_s)

    def _trace_full_load(self) -> None:
        """Traced only: time the seed load's scan and scan + flatten on
        their own (``noop`` sink) for the source and transform layers."""
        spark, pipe, tr = self.bench.spark, self.pipe, self.bench.tracer
        with tr.span("sources.scan"):
            raw = pipe.extract(spark)
            raw.write.format("noop").mode("overwrite").save()
        flat = pipe.transform(pipe.extract(spark))
        with tr.span("transforms.exec"):
            flat.write.format("noop").mode("overwrite").save()
        self.trace_facts = {
            "sources.input_bytes": os.path.getsize(self.paths[("seed",)]),
            "transforms.rows_out": self.seed_rows,
        }

    def _check_seed(self, counts: dict) -> None:
        """Staged rows equal the generator's count and the flatten's
        reconciliation invariants hold on the staged table."""
        from e_commerce_etl_pipeline_spark.operators.upsert import (
            read_upsert_table)
        from e_commerce_etl_pipeline_spark.transforms.tiktok import (
            validate_tiktok_flatten)

        check(counts.get(TABLE) == self.seed_rows,
              f"seed full load staged {counts}, expected {self.seed_rows}")
        spark = self.bench.spark
        v = validate_tiktok_flatten(self.pipe.extract(spark),
                                    read_upsert_table(spark, self.table))
        check(v["orders_match"] and v["items_match"], f"flatten invariants: {v}")

    def _created_at_values(self):
        import duckdb

        with duckdb.connect() as con:
            return con.sql(
                f"SELECT DISTINCT etl_created_at FROM read_parquet("
                f"'{self.table}/*/*.parquet')").fetchall()

    # ----------------------------------------------------------- loop

    def reads(self) -> None:
        """The freshness reads are part of the timed loop; none after it."""

    def run(self) -> None:
        from e_commerce_etl_pipeline_spark.pipelines import etl

        bench, spark = self.bench, self.bench.spark
        applied = {o["id"]: o for o in self.base}
        prev_read = None
        self.changed_rows: list[int] = []
        for k, window in enumerate(self.windows):
            replay = k % 5 == 4
            before = dict(applied)
            for o in window:  # the guarded-MERGE rules, on the model
                cur = applied.get(o["id"])
                if cur is None or o["update_time"] > cur["update_time"] or (
                        o["update_time"] == cur["update_time"]
                        and any(o[g] != cur[g] for g in gen.GUARDS)):
                    applied[o["id"]] = o
            self.changed_rows.append(sum(
                gen.tiktok_rows(applied[i]) for i in {o["id"] for o in window}
                if applied[i] is not before.get(i)))
            if bench.tracer:
                files_before = bench.extra(self._table_files)

            def apply(window=window, k=k):
                counts = etl.incremental_pipeline(spark, self.pipe, self.staging,
                                                  (k,), self.audit)
                staged = counts[TABLE]
                check(staged == sum(gen.tiktok_rows(o) for o in window),
                      f"window {k} staged {staged} rows")
                return staged

            bench.run_op("op", f"window{k}{'-replay' if replay else ''}", apply)
            if bench.tracer:
                self._trace_rewrite(files_before, k)
            ids = sorted({o["id"] for o in window})[:READ_ORDERS]
            read = bench.run_op("read", f"window{k}-read",
                                lambda ids=ids: self._read(ids, applied))
            if replay and prev_read is not None and read is not None:
                bench.run_op("check", f"window{k}-replay-unchanged",
                             lambda r=read, p=prev_read: check(
                                 r == p, "replayed window changed staged rows"))
            prev_read = read
        self.applied = applied

    def _read(self, ids: list[str], applied: dict) -> list[tuple]:
        """Freshness read of a window's keys, checked against the model;
        returns the rows read, for the replay comparison."""
        from pyspark.sql import functions as F

        from e_commerce_etl_pipeline_spark.operators.upsert import (
            read_upsert_table)

        rows = (read_upsert_table(self.bench.spark, self.table)
                .filter(F.col("order_id").isin(ids))
                .select(*KEY_COLS, *CHECK_COLS, "etl_updated_at")
                .collect())
        want = expected_rows([applied[i] for i in ids])
        got = {(r.order_id, r.item_id): (int(r.update_time.timestamp()),
                                        r.status, r.tracking_number,
                                        r.shipping_provider) for r in rows}
        check(len(rows) == len(got) == len(want) and got == want,
              f"read of {len(ids)} orders: {len(rows)} rows, "
              f"{sum(got.get(k) != v for k, v in want.items())} differ")
        return sorted(tuple(r) for r in rows)

    # -------------------------------------------------------- checks

    def final_check(self) -> int:
        """The staged table equals the model; rows loaded by the seed
        keep their ``etl_created_at``."""
        import duckdb

        check(len(self.seed_created) == 1,
              f"seed load stamped {len(self.seed_created)} etl_created_at values")
        created = self.seed_created[0][0]
        with duckdb.connect() as con:
            rows = con.sql(
                f"SELECT order_id, item_id, epoch(update_time)::BIGINT, status, "
                f"tracking_number, shipping_provider, etl_created_at "
                f"FROM read_parquet('{self.table}/*/*.parquet')").fetchall()
        got = {(r[0], r[1]): tuple(r[2:6]) for r in rows}
        want = expected_rows(list(self.applied.values()))
        check(len(rows) == len(got), f"{len(rows) - len(got)} duplicate keys")
        diff = sum(got.get(k) != v for k, v in want.items()) + len(got.keys() - want.keys())
        check(diff == 0, f"{diff} staged rows differ from the MERGE model")
        n_seed = self.size["orders"]
        seed_ids = {f"TT{i:09d}" for i in range(n_seed)}
        lost = sum(1 for r in rows if r[0] in seed_ids and r[6] != created)
        check(lost == 0, f"{lost} seed rows lost their etl_created_at")
        return len(rows)

    # ---------------------------------------------------- traced only

    def _table_files(self) -> dict[str, int]:
        out = {}
        for d, _, names in os.walk(self.table):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(d, n)
                    out[p] = os.path.getsize(p)
        return out

    def _trace_rewrite(self, before: dict, k: int) -> None:
        import pyarrow.parquet as pq

        def measure():
            after = self._table_files()
            new = [p for p in after if p not in before]
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in new)
            self.rewrites.append({
                "touched_buckets": len({os.path.dirname(p) for p in new}),
                "bytes_written": sum(after[p] for p in new),
                "rows_rewritten": rows,
                "rows_in": sum(gen.tiktok_rows(o) for o in self.windows[k]),
                "rows_changed": self.changed_rows[k],
                "table_files": len(after),
            })

        self.bench.extra(measure)

    def layer_facts(self) -> dict:
        """Per-layer numbers only the benchmark sees (traced runs): the
        seed load's input, and the files each window rewrote."""
        rw = self.rewrites
        n = max(1, len(rw))
        rewritten = sum(r["rows_rewritten"] for r in rw)
        return {
            **self.trace_facts,
            "upsert.touched_buckets_per_batch":
                sum(r["touched_buckets"] for r in rw) / n,
            "upsert.bytes_written": float(sum(r["bytes_written"] for r in rw)),
            "upsert.rewrite_rows_per_input_row":
                rewritten / max(1, sum(r["rows_in"] for r in rw)),
            "upsert.useful_write_frac":
                sum(r["rows_changed"] for r in rw) / max(1, rewritten),
            "upsert.table_files": float(rw[-1]["table_files"]) if rw else 0.0,
        }
