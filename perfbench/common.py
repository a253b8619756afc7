"""What every workload shares: the run context, operation timing with
failure accounting, and the end-to-end statistics."""

from __future__ import annotations

import statistics
import time
import traceback
from dataclasses import dataclass, field


# The run time, in seconds, that one unit of a workload's work is sized
# for on a 4-core host: five change windows, or one pass over the registry
# entries. A run does round(--seconds / UNIT_S) units, at least one.
UNIT_S = 35


def units(seconds: int) -> int:
    return max(1, round(seconds / UNIT_S))


# set-up steps repeated within a run; the median goes into setup_s
SETUP_PASSES = 3


@dataclass
class Op:
    """One timed operation of the closed loop."""

    kind: str          # "op" (a batch / query) or "read" (freshness read)
    name: str
    start: float
    end: float
    ok: bool
    rows: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Bench:
    """State of one benchmark run, passed to the workload."""

    spark: object
    work: str            # per-run scratch root inside the checkout
    seed: int
    seconds: int
    tiny: bool           # smoke-test sizes
    tracer: object       # tracing.Tracer, or None when untraced
    inject_failure: bool = False
    ops: list[Op] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    setup: dict[str, float] = field(default_factory=dict)
    extra_s: float = 0.0  # traced-only executions inside the timed region

    def run_op(self, kind: str, name: str, fn):
        """Run ``fn`` as one operation of the closed loop; ``fn`` returns
        the rows it staged or produced. An exception or a failed check
        (``fn`` raising ``CheckFailed``) is recorded with its cause and the
        loop goes on; the result is ``None`` then."""
        inject = self.inject_failure and kind == "read"
        if inject:
            self.inject_failure = False
        span = self.tracer.op(kind, name) if self.tracer else None
        start = time.time()
        try:
            if inject:
                raise RuntimeError("injected failure")
            result = fn()
            ok = True
        except Exception as exc:  # noqa: BLE001 — counted, never masked
            self.failures.append(f"{kind} {name}: {type(exc).__name__}: "
                                 f"{exc}".splitlines()[0][:300])
            if not isinstance(exc, CheckFailed):
                self.failures.append(traceback.format_exc(limit=3)[-600:])
            result, ok = None, False
        end = time.time()
        if span is not None:
            span.close(end)
        self.ops.append(Op(kind, name, start, end, ok,
                           result if isinstance(result, int) else 0))
        return result

    def extra(self, fn):
        """Run a traced-only measurement inside the timed region and book
        its wall time so the tracing overhead excludes it."""
        t0 = time.time()
        try:
            return fn()
        finally:
            self.extra_s += time.time() - t0


class CheckFailed(Exception):
    """The program returned, but its output was wrong."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and
    that percentile. With ten samples or fewer no percentile qualifies;
    the maximum is reported as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    k = n - 11  # ten samples lie above xs[k]
    return xs[k], 100.0 * (k + 1) / n


def end_to_end(bench: Bench, run_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics of a run, and the facts behind them."""
    main = [o for o in bench.ops if o.kind == "op"]
    reads = [o for o in bench.ops if o.kind == "read"]
    lat = [o.seconds for o in main if o.ok] or [run_s]
    tail_s, tail_pct = tail(lat)
    rows = sum(o.rows for o in main)
    metrics = {
        "setup_s": bench.setup["setup_s"],
        "run_s": run_s,
        "rows_per_s": rows / run_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "read_p50_s": statistics.median([o.seconds for o in reads if o.ok]
                                        or [run_s]),
    }
    facts = {
        "ops": len(main), "reads": len(reads), "rows": rows,
        "op_tail_pct": tail_pct, "op_tail_n": len(lat),
    }
    return metrics, facts
