"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload {incremental,registry} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The run generates its inputs from the
seed, sets up, runs a closed loop of operations (one client; the next
operation starts when the previous one returns), checks every output and
prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``. A fuller record (set-up split,
host stamps, failure causes, the tracing overhead) goes to
``.perfbench_out/<workload>-seed<N>-s<S>-trace<T>.json`` and, for a traced
run, the spans to ``...-spans.jsonl`` beside it. Progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
PACKAGE = "e_commerce_etl_pipeline_spark"
OUT = os.path.join(CHECKOUT, ".perfbench_out")

WORKLOADS = ("incremental", "registry")


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test sizes")
    p.add_argument("--inject-failure", action="store_true",
                   help="make the first read raise (smoke test)")
    return p.parse_args(argv)


def rollup(tracer, activity, bench, facts: dict, start_s: float,
           t0: float, t1: float) -> dict:
    """Per-layer metrics of a traced run. Unless named ``setup`` below,
    they cover the timed region, ``t0`` to ``t1``."""
    from common import SETUP_PASSES
    from tracing import covered, jobs_within

    T, jobs = tracer, activity["jobs"]
    ops = [o for o in bench.ops
           if o.kind in ("op", "read") and t0 <= o.start and o.end <= t1]
    upserts = T.intervals("upsert.upsert")
    lookups = T.count("index_store.lookup.")
    builds = facts.pop("index_store.builds", 0)
    stages = activity["stages"]
    m = {
        "session.start_s": start_s,
        "sources.land_s": T.total("sources.land_jsonl", "setup") / SETUP_PASSES,
        "sources.scan_s": T.total("sources.scan", "setup"),
        "sources.input_bytes": 0,
        "transforms.build_s": T.total("transforms.tiktok"),
        "transforms.plan_s": T.total("transforms.plan"),
        "transforms.exec_s": T.total("transforms.exec", "setup"),
        "transforms.rows_out": 0,
        "pipelines.self_s": T.self_time("pipelines."),
        "pipelines.audit_s": T.total("pipelines.audit"),
        "upsert.write_table_s": T.total("upsert.write_table", "setup"),
        "upsert.upsert_s": T.total("upsert.upsert"),
        "upsert.resolve_build_s": T.total("upsert.resolve_build"),
        "upsert.jobs_per_batch": jobs_within(jobs, upserts) / max(1, len(upserts)),
        "upsert.rewrite_rows_per_input_row": 0.0,
        "upsert.useful_write_frac": 0.0,
        "upsert.touched_buckets_per_batch": 0.0,
        "upsert.bytes_written": 0.0,
        "upsert.table_files": 0.0,
        "index_store.invalidate_s": T.total("index_store.invalidate"),
        "index_store.fingerprint_calls": T.count("index_store.fingerprint"),
        "index_store.fingerprint_s": T.total("index_store.fingerprint"),
        "index_store.builds": builds,
        "index_store.hit_ratio": (lookups - builds) / lookups if lookups else 0.0,
        "fsops.calls": T.count("fsops."),
        "fsops.s": T.total("fsops."),
        "registry.build_s": T.total("registry.build"),
        "registry.plan_s": T.total("registry.plan"),
        "registry.exec_s": T.total("registry.exec"),
        "registry.eager_jobs": jobs_within(jobs, T.intervals("registry.build")),
        **activity["python_worker"],
        "spark.jobs": len(jobs),
        **{f"spark.{k}": v for k, v in stages.items()},
        "driver.offjob_s": sum(o.seconds - covered(jobs, o.start, o.end)
                               for o in ops),
    }
    m.update(facts)
    return m


def run_tag(args, trace: int) -> str:
    return (f"{args.workload}-seed{args.seed}-s{args.seconds}-trace{trace}"
            + ("-tiny" if args.tiny else ""))


def overhead(args, traced_run_s: float) -> tuple[float | None, str]:
    """Traced run_s (without its extra executions) minus the run_s of the
    untraced run of the same workload, seed and --seconds in this
    checkout; None when there is no such run."""
    path = os.path.join(OUT, f"{run_tag(args, 0)}.json")
    if not os.path.exists(path):
        return None, f"no untraced run {run_tag(args, 0)} in the checkout"
    with open(path) as f:
        untraced = json.load(f)
    if untraced["failed"]:
        return None, f"untraced run {run_tag(args, 0)} had failures"
    return traced_run_s - untraced["end_to_end"]["run_s"], run_tag(args, 0)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(CHECKOUT, PACKAGE)):
        log(f"no {PACKAGE}/ beside perfbench/: run from a full checkout")
        return 2
    sys.path[:0] = [CHECKOUT, HERE]
    import env  # noqa: E402 — the benchmark's own modules, from HERE

    os.makedirs(OUT, exist_ok=True)
    tag = run_tag(args, args.trace)
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    info = env.isolate(work)
    try:
        return run(args, tag, work, info)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, tag: str, work: str, info: dict) -> int:
    import env
    from common import Bench, end_to_end
    from incremental import Incremental
    from registry import Registry
    import tracing

    cls = {"incremental": Incremental, "registry": Registry}[args.workload]
    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        tracer.install(tracing.layer_targets())
    spark, start_s = env.start_session()
    try:
        bench = Bench(spark=spark, work=work, seed=args.seed,
                      seconds=args.seconds, tiny=args.tiny, tracer=tracer,
                      inject_failure=args.inject_failure)
        w = cls(bench)
        log(f"{tag}: set-up")
        w.setup()
        bench.setup["session_start_s"] = start_s
        bench.setup["setup_s"] = start_s + bench.setup["workload_setup_s"]

        from e_commerce_etl_pipeline_spark.operators import index_store

        builds0 = sum(index_store.BUILD_COUNTS.values())
        log(f"{tag}: timed loop")
        if tracer:
            tracer.phase = "timed"
        t0 = time.time()
        w.run()
        t1 = time.time()
        builds = sum(index_store.BUILD_COUNTS.values()) - builds0
        if tracer:
            tracer.phase = "check"
        w.reads()
        bench.run_op("check", "final-state", w.final_check)
        metrics, facts = end_to_end(bench, t1 - t0)
        metrics["peak_rss_mb"] = env.peak_rss_mb(spark)
        # after the workload, on a warm JVM, so it adds little to the run
        calib_s = env.calibrate(spark)
        record = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "tiny": args.tiny, "end_to_end": metrics, "facts": facts,
                  "setup": bench.setup,
                  "stamps": env.stamps(spark, info, calib_s),
                  "failures": bench.failures,
                  "ops": [o.__dict__ for o in bench.ops]}
        if tracer:
            activity = tracing.spark_activity(spark, t0, t1)
            layer = rollup(tracer, activity, bench,
                           {"index_store.builds": builds, **w.layer_facts()},
                           start_s, t0, t1)
            traced_run_s = metrics["run_s"] - bench.extra_s
            trace_overhead_s, basis = overhead(args, traced_run_s)
            log(f"{tag}: tracing overhead {trace_overhead_s} s ({basis})")
            record.update(per_layer=layer, traced_run_s=traced_run_s,
                          extra_s=bench.extra_s,
                          trace_overhead_s=trace_overhead_s,
                          overhead_basis=basis)
            spans = os.path.join(OUT, f"{tag}-spans.jsonl")
            tracer.dump(spans)
            record["spans_file"] = spans
    finally:
        if tracer:
            tracer.uninstall()
        env.stop_session(spark)

    failed = sum(1 for o in bench.ops if not o.ok)
    for cause in bench.failures:
        log(f"FAILED {cause}")
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    values = record["per_layer"] if args.trace else metrics
    if set(values) != set(names):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(names))}")
    record.update(attempted=len(bench.ops), failed=failed,
                  failed_frac=failed / len(bench.ops))
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(f"{tag}: {json.dumps(metrics)} failed_frac={record['failed_frac']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
