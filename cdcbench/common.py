"""Shared pieces of the benchmark: spans, percentiles, job census,
memory, and the Spark session."""

from __future__ import annotations

import math
import os
import resource
import statistics
import time
from contextlib import contextmanager


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of ``values``."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(round(len(s) * p / 100, 9)))
    return s[rank - 1]


TAIL_CANDIDATES = (99.9, 99.0, 90.0)


def tail_percentile(values) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(p, value)``; None when even p90 lacks ten samples beyond it."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p, percentile(values, p)
    return None


def median(values) -> float:
    return statistics.median(values)


class Tracer:
    """In-memory spans: name, start, end, parent, trace id.  Written
    out once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover (overlapping children count
    once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def next_job_id(spark) -> int:
    """The DAGScheduler's monotone next-job-id counter: the difference
    across a call is the number of Spark jobs the call ran."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@contextmanager
def jobs_span(tracer: Tracer, spark, name: str, trace_id: str, **attrs):
    """A span that also records the Spark jobs run inside it."""
    with tracer.span(name, trace_id, **attrs) as rec:
        j0 = next_job_id(spark) if tracer.enabled else 0
        try:
            yield rec
        finally:
            if tracer.enabled:
                rec["jobs"] = next_job_id(spark) - j0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python
    process, in MB (VmHWM of the JVM, ru_maxrss of Python)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def get_session(work_dir: str, app_name: str):
    """A Spark session whose scratch space stays inside ``work_dir``."""
    from pymongo_change_stream_reader_spark.session import get_spark

    tmp = os.path.join(work_dir, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name=app_name,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        },
    )
