"""Traced mode: spans around every call into the package's layers, and
Spark's own job, stage and SQL metrics.

Spans are recorded from the benchmark's side only: ``Tracer.install``
rebinds the public functions of each layer, in every package module that
resolves them, to a wrapper that records a span; ``uninstall`` puts the
originals back. Each span has a name, start, end, parent span and the id
of the operation it belongs to; they stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import importlib
import itertools
import json
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

PACKAGE = "e_commerce_etl_pipeline_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    phase: str


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._op: int | None = None
        self._restore: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _open(self, name: str, start: float) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(next(self._ids), name, start, start, parent, self._op,
                    self.phase)
        self._stack.append(span)
        self.spans.append(span)
        return span

    def _close(self, span: Span, end: float) -> None:
        span.end = end
        self._stack.remove(span)

    @contextmanager
    def span(self, name: str):
        span = self._open(name, time.time())
        try:
            yield span
        finally:
            self._close(span, time.time())

    def op(self, kind: str, name: str) -> "_OpHandle":
        """Root span ``op.<kind>:<name>`` of one operation; every span until
        ``close`` carries its id."""
        span = self._open(f"op.{kind}:{name}", time.time())
        self._op = span.op = span.id
        return _OpHandle(self, span)

    def wrap(self, name: str, fn, nest: bool = True):
        """``fn`` with a span around each call. ``nest=False`` records only
        the outermost call when the layer calls itself."""
        layer = name.split(".")[0] + "."

        def traced(*args, **kwargs):
            if not nest and self._stack and self._stack[-1].name.startswith(layer):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # --------------------------------------------------------- rebinding

    def install(self, targets) -> None:
        """Rebind each ``(owner, attr, span_name, nest)``: the attribute on
        its owner (a module or class) and every package module that
        imported the same function by name."""
        mods = [m for n, m in list(sys.modules.items())
                if n.startswith(PACKAGE) and m is not None]
        for owner, attr, name, nest in targets:
            orig = getattr(owner, attr)
            wrapped = self.wrap(name, orig, nest)
            holders = [owner] + [m for m in mods if m is not owner
                                 and getattr(m, attr, None) is orig]
            for holder in holders:
                setattr(holder, attr, wrapped)
                self._restore.append((holder, attr, orig))

    def uninstall(self) -> None:
        for holder, attr, orig in reversed(self._restore):
            setattr(holder, attr, orig)
        self._restore.clear()

    # ----------------------------------------------------------- rollup

    def total(self, prefix: str, phase: str = "timed") -> float:
        return sum(s.end - s.start for s in self.spans
                   if s.name.startswith(prefix) and s.phase == phase)

    def count(self, prefix: str, phase: str = "timed") -> int:
        return sum(1 for s in self.spans
                   if s.name.startswith(prefix) and s.phase == phase)

    def self_time(self, prefix: str, phase: str = "timed") -> float:
        """Duration of the layer's spans minus the part their child spans
        cover."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + s.end - s.start
        return sum(s.end - s.start - children.get(s.id, 0.0)
                   for s in self.spans
                   if s.name.startswith(prefix) and s.phase == phase)

    def intervals(self, prefix: str, phase: str = "timed"):
        return [(s.start, s.end) for s in self.spans
                if s.name.startswith(prefix) and s.phase == phase]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _OpHandle:
    def __init__(self, tracer: Tracer, span: Span) -> None:
        self.tracer, self.span = tracer, span

    def close(self, end: float) -> None:
        self.tracer._close(self.span, end)
        self.tracer._op = None


def layer_targets():
    """The public functions of each layer the workloads call into."""
    # by module path: some package __init__ files re-export a function
    # under its module's name (``operators.upsert``)
    fsops, index_store, up, etl, api_adapter, tiktok = (
        importlib.import_module(f"{PACKAGE}.{m}") for m in (
            "operators.fsops", "operators.index_store", "operators.upsert",
            "pipelines.etl", "sources.api_adapter", "transforms.tiktok"))

    targets = [
        (api_adapter, "land_jsonl", "sources.land_jsonl", True),
        (tiktok, "transform_tiktok_orders", "transforms.tiktok", True),
        (etl, "full_load_pipeline", "pipelines.full_load", True),
        (etl, "incremental_pipeline", "pipelines.incremental", True),
        (etl.RunAudit, "record", "pipelines.audit", True),
        (up, "write_table", "upsert.write_table", False),
        (up, "upsert", "upsert.upsert", False),
        (up, "resolve_upsert", "upsert.resolve_build", True),
        (index_store, "invalidate", "index_store.invalidate", True),
        (index_store, "table_fingerprint", "index_store.fingerprint", True),
    ]
    targets += [(index_store, f, f"index_store.lookup.{f}", True)
                for f in ("cached_value", "cached_df", "stored_df")]
    targets += [(fsops, f, f"fsops.{f}", False)
                for f in ("exists", "list_child_names", "count_files_with_suffix",
                          "list_file_stats", "delete", "read_text", "write_text",
                          "write_text_atomic")]
    return targets


# ---------------------------------------------------------------- Spark

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40}
_NUM = re.compile(r"^\s*([-0-9.,]+)\s*(\S*)")


def parse_sql_metric(text: str) -> float:
    """A status-store SQL metric string ("1.2 s", "8.5 KiB", "1,024", or
    "total (min, med, max ...)\\n<total> (...)") in base units."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_PY_METRICS = {
    "time to start Python workers": "python_worker.init_s",
    "time to initialize Python workers": "python_worker.init_s",
    "time to run Python workers": "python_worker.run_s",
    "data sent to Python workers": "python_worker.bytes_sent",
    "data returned from Python workers": "python_worker.bytes_returned",
}


def spark_activity(spark, t0: float, t1: float) -> dict:
    """Jobs (with their intervals), stage totals and Python-worker SQL
    metrics of everything Spark submitted between ``t0`` and ``t1``
    (epoch seconds), read from the status stores."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()

    def when(opt):
        return opt.get().getTime() / 1000.0 if opt.isDefined() else None

    jobs, stage_ids = [], set()
    for j in conv.asJava(store.jobsList(None)):
        sub = when(j.submissionTime())
        if sub is None or not t0 <= sub <= t1:
            continue
        end = when(j.completionTime()) or t1
        jobs.append((sub, end))
        stage_ids.update(conv.asJava(j.stageIds()))
    out = {"jobs": jobs}
    tot = dict.fromkeys(("stages", "tasks", "failed_tasks", "executor_run_s",
                         "gc_s", "input_bytes", "shuffle_write_bytes",
                         "spill_bytes"), 0.0)
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for st in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        if st.stageId() not in stage_ids or str(st.status()) == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += st.numTasks()
        tot["failed_tasks"] += st.numFailedTasks()
        tot["executor_run_s"] += st.executorRunTime() / 1000.0
        tot["gc_s"] += st.jvmGcTime() / 1000.0
        tot["input_bytes"] += st.inputBytes()
        tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
        tot["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    out["stages"] = tot
    py = dict.fromkeys(set(_PY_METRICS.values()), 0.0)
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in conv.asJava(sql.executionsList()):
        if not t0 <= ex.submissionTime() / 1000.0 <= t1:
            continue
        # an adaptive plan lists a node's metrics once per plan version,
        # under the same accumulator
        wanted = {m.accumulatorId(): _PY_METRICS[m.name()]
                  for m in conv.asJava(ex.metrics()) if m.name() in _PY_METRICS}
        if not wanted:
            continue
        values = conv.asJava(sql.executionMetrics(ex.executionId()))
        for acc, key in wanted.items():
            text = values.get(acc)
            if text is not None:
                py[key] += parse_sql_metric(text)
    out["python_worker"] = py
    return out


def covered(intervals, start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def jobs_within(jobs, intervals) -> int:
    return sum(1 for sub, _ in jobs
               if any(a <= sub <= b for a, b in intervals))
