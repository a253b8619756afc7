"""The ``registry`` workload: a fixed, stratified set of query-registry
entries, each built, planned and executed into a ``noop`` sink the first
time in the session, over a seeded star-schema corpus.

The entries cover the registry's families: TPC-H-style analytics,
reference-parity operators, text and dedup kernels (several run Arrow
Python workers) and index-artifact readers. All have a DuckDB oracle; each
entry's row count, counted by a ``pyspark.sql.Observation`` on the timed
write, must equal its oracle's. Set-up warms the JVM (with three untimed
entries), forks the Python worker pool and prebuilds the index artifacts
these entries read, as ``bench.py`` does. The seed makes the corpus and
permutes the entry order.

After the timed loop, and outside ``run_s``, point reads fetch a few
orders by key and check them against the generated table; they give this
workload its ``read_p50_s``.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from common import SETUP_PASSES, Bench, check, units
import gen

ENTRIES = [
    # TPC-H-style analytics
    "q1_pricing_summary", "q3_top_unshipped", "q5_revenue_by_nation",
    "top_suppliers_per_nation", "sales_rollup", "nation_trade_volume",
    "returned_revenue_customers", "customer_spend_deciles", "cube_sales",
    # reference-parity operators
    "dedup_keep_newest", "merge_upsert_orders", "explode_flatten_orders",
    "coercion_kernel_events", "sessionize_events", "user_running_totals",
    "event_pairs_range_join", "props_json_totals", "jsonl_landing_stats",
    # text, dedup and curation kernels (Arrow Python workers among them)
    "text_stats", "lang_id_docs", "simhash_docs", "repetition_flags",
    "duplicate_chunk_spans", "multimodal_features",
    "user_value_median_pandas", "stratified_lang_sample",
    # index-artifact readers (artifacts prebuilt in set-up) and top-k
    "tfidf_top_terms", "basket_lift", "copurchase_pairs", "brute_force_topk",
]
# untimed entries run in set-up, so the JVM's first-use cost does not land
# on whichever timed entry the seed puts first
WARMUP = ["order_priority_counts", "customer_order_stats", "lang_distribution"]
TINY_ENTRIES = ["q1_pricing_summary", "dedup_keep_newest", "simhash_docs",
                "tfidf_top_terms", "jsonl_landing_stats", "basket_lift"]
ORDERS = 1500          # corpus scale (orders); ~sf0.001
TINY_ORDERS = 300
READ_KEYS = 5
READS = 10


def _prebuild_targets():
    from e_commerce_etl_pipeline_spark.extensions import tfidf
    from e_commerce_etl_pipeline_spark.plans import queries

    return [("term_frequencies", tfidf.term_frequencies),
            ("basket_items", queries._basket_items)]


class Registry:
    def __init__(self, bench: Bench) -> None:
        self.bench = bench
        self.sf = os.path.join(bench.work, "data", "sf")
        names = TINY_ENTRIES if bench.tiny else ENTRIES
        # one pass over the entries per unit of run time
        n = len(names) * (1 if bench.tiny else units(bench.seconds))
        self.names = [names[k % len(names)] for k in range(n)]
        random.Random(bench.seed).shuffle(self.names)
        self.counts: dict[str, int] = {}

    def setup(self) -> None:
        import __spark_entry__ as entry

        bench, spark = self.bench, self.bench.spark
        scale = TINY_ORDERS if bench.tiny else ORDERS
        gen_times = []
        for _ in range(SETUP_PASSES):  # generate + write the corpus; median
            t0 = time.time()
            tables = gen.registry_tables(bench.seed, scale)
            os.makedirs(self.sf, exist_ok=True)
            for name, df in tables.items():
                df.to_parquet(os.path.join(self.sf, f"{name}.parquet"), index=False)
            gen_times.append(time.time() - t0)
        self.orders = tables["orders"].set_index("o_orderkey")["o_totalprice"]
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

        t0 = time.time()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        for name in WARMUP:
            self.queries[name](spark, self.sf).write.format("noop").mode(
                "overwrite").save()
        jvm_warm_s = time.time() - t0
        t0 = time.time()
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(0, cpus * 4, 1, cpus).mapInPandas(
            lambda it: it, "id long").count()
        worker_fork_s = time.time() - t0
        t0 = time.time()
        for _name, fn in _prebuild_targets():
            fn(spark, self.sf).count()
        prebuild_s = time.time() - t0
        bench.setup.update({"gen_land_s": statistics.median(gen_times),
                            "jvm_warmup_s": jvm_warm_s,
                            "worker_fork_s": worker_fork_s,
                            "prebuild_s": prebuild_s,
                            "corpus_orders": scale})
        bench.setup["workload_setup_s"] = (bench.setup["gen_land_s"] + jvm_warm_s
                                           + worker_fork_s + prebuild_s)

    def run(self) -> None:
        for k, name in enumerate(self.names):
            self.bench.run_op("op", name, lambda name=name, k=k: self._entry(name, k))

    def reads(self) -> None:
        """Point reads of the corpus, after the timed loop."""
        rng = random.Random(self.bench.seed + 1)
        keys = list(self.orders.index)
        for k in range(READS):
            sample = rng.sample(keys, READ_KEYS)
            self.bench.run_op("read", f"point-read{k}",
                              lambda s=sample: self._read(s))

    def _entry(self, name: str, k: int) -> int:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark, tr = self.bench.spark, self.bench.tracer
        obs = Observation(f"rows{k}")
        if tr is None:
            df = self.queries[name](spark, self.sf)
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop").mode("overwrite").save()
        else:
            with tr.span("registry.build"):
                df = self.queries[name](spark, self.sf)
            with tr.span("registry.plan"):
                self.bench.extra(lambda: df._jdf.queryExecution().executedPlan())
            with tr.span("registry.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop").mode("overwrite").save()
        n = obs.get["n"]
        self.counts.setdefault(name, n)
        check(self.counts[name] == n, f"{name}: {n} rows, earlier {self.counts[name]}")
        return n

    def _read(self, sample: list[int]) -> int:
        from pyspark.sql import functions as F

        from e_commerce_etl_pipeline_spark.plans.queries import load_table

        rows = (load_table(self.bench.spark, self.sf, "orders")
                .filter(F.col("o_orderkey").isin(sample))
                .select("o_orderkey", "o_totalprice").collect())
        got = {r.o_orderkey: r.o_totalprice for r in rows}
        check(got == {key: self.orders[key] for key in sample},
              f"point read of {len(sample)} orders returned {len(rows)} rows")
        return len(rows)

    def layer_facts(self) -> dict:
        """Per-layer numbers only the benchmark sees: none here."""
        return {}

    def final_check(self) -> int:
        """Each executed entry's row count equals its DuckDB oracle's."""
        import duckdb

        bad = []
        with duckdb.connect() as con:
            con.sql(f"SET threads = {os.environ['SPARK_GRAFT_CPUS']}")
            for t in os.listdir(self.sf):
                if t.endswith(".parquet"):
                    con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(self.sf, t)}'")
            for name, n in sorted(self.counts.items()):
                sql = self.oracles[name].strip().rstrip(";")
                want = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                if want != n:
                    bad.append(f"{name}: spark {n} rows, oracle {want}")
        check(not bad, "; ".join(bad))
        return len(self.counts)
