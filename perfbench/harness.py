"""Measurement plumbing shared by the workloads: spans, Spark engine
counters read in-process, peak memory, and summary statistics.

Everything here observes the engine from outside the package: spans
wrap the benchmark's own calls into public functions, and the Spark
counters come from Spark's DAG scheduler and status store over py4j,
which work with ``spark.ui.enabled=false`` (no REST API needed).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time


class Tracer:
    """In-memory span recorder. Spans of one operation share ``op``;
    ``parent`` names the enclosing span. Disabled tracers record
    nothing but still run the wrapped block."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "name": name,
            "t0": time.perf_counter(),
        }
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                f.write(json.dumps(s) + "\n")


STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class SparkCounters:
    """Cumulative job/stage/task counts and stage metrics of one
    SparkContext. Job and stage ids are dense, so the scheduler's next
    ids are exact counts; per-stage metrics are summed from the status
    store for the stage ids created since the previous read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_stage = self._sc.dagScheduler().nextStageId()
        self.totals = dict.fromkeys(STAGE_FIELDS, 0)
        self.read_s = 0.0  # time spent reading counters: tracing overhead

    def jobs(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def stages(self) -> int:
        return self._sc.dagScheduler().nextStageId()

    def read(self) -> dict:
        """Fold in every stage created since the last read and return
        the cumulative totals (plus exact job/stage counts)."""
        t0 = time.perf_counter()
        self._sc.listenerBus().waitUntilEmpty()
        hi = self.stages()
        for sid in range(self._next_stage, hi):
            s = self._store.lastStageAttempt(sid)
            for f in STAGE_FIELDS:
                self.totals[f] += getattr(s, f)()
        self._next_stage = hi
        self.read_s += time.perf_counter() - t0
        return {"jobs": self.jobs(), "stages": hi, **self.totals}

    def job_busy_s(self, lo: int, hi: int) -> float:
        """Seconds during which at least one of jobs [lo, hi) ran (the
        union of their submission-to-completion intervals)."""
        t0 = time.perf_counter()
        spans = []
        for jid in range(lo, hi):
            j = self._store.job(jid)
            if j.submissionTime().isDefined() and j.completionTime().isDefined():
                spans.append((j.submissionTime().get().getTime(),
                              j.completionTime().get().getTime()))
        busy, end = 0, None
        for a, b in sorted(spans):
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        self.read_s += time.perf_counter() - t0
        return busy / 1000.0


def engine_layer_metrics(c0: dict, c1: dict, busy_s: float, wall_s: float,
                         cores: int, units: int) -> dict:
    """Per-layer metrics of Spark's engine between two counter reads,
    per unit of work (query round or tick). ``busy_s`` is the time some
    job ran; the rest of the wall ran no Spark job (``driver.gap_s``)."""
    d = {k: c1[k] - c0[k] for k in c1}
    per_unit = {
        "spark.jobs": d["jobs"],
        "spark.stages": d["stages"],
        "spark.tasks": d["numCompleteTasks"],
        "spark.scan_bytes": d["inputBytes"],
        "spark.shuffle_write_bytes": d["shuffleWriteBytes"],
        "spark.spill_bytes": d["memoryBytesSpilled"] + d["diskBytesSpilled"],
        "spark.gc_s": d["jvmGcTime"] / 1000.0,
        "driver.gap_s": wall_s - busy_s,
    }
    out = {k: v / units for k, v in per_unit.items()}
    out["spark.busy_share"] = (d["executorRunTime"] / 1000.0) / (wall_s * cores)
    return out


class FixedTmpPath(RuntimeError):
    """A query reached a cache the package keeps at a fixed /tmp path."""


def forbid_fixed_tmp_paths() -> None:
    """The IVF/PQ queries persist a trained quantizer under the fixed
    path ``/tmp/spark_graft_quantizers``, outside any run's own dir.
    Make them fail instead, so a run writes nothing outside the
    checkout and carries nothing over to the next run."""
    from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries import pq_q, similarity_q

    def refuse(*_a, **_k):
        raise FixedTmpPath("persists a quantizer under /tmp/spark_graft_quantizers")

    similarity_q._quantizer_cached = refuse
    pq_q._res_books_cached = refuse


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the JVM it talks to."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def quantile(values: list[float], q: float) -> float:
    """The q-quantile, linearly interpolated (statistics.quantiles,
    inclusive method)."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(round(q * 100)) - 1]


def unit_metrics(work: int, wall_s: float, samples: list[dict[str, float]],
                 scale: float = 1.0) -> dict:
    """End-to-end metrics of a timed region: ``work`` items done in
    ``wall_s`` seconds, and one dict of latency per key for each unit,
    where a key is a query or a zone that every unit samples once.
    Latency percentiles are taken over the keys' mean latencies. Every
    wall is multiplied by ``scale`` (:meth:`HostSpeed.scale`).

    The host's speed drifts in phases of seconds to tens of seconds,
    longer than a unit, so every figure is a mean over the whole timed
    region: a median across units would jump between the phases."""
    means = [statistics.fmean(u[k] for u in samples) * scale for k in samples[0]]
    return {
        "throughput_per_s": work / (wall_s * scale),
        "latency_p50_s": statistics.median(means),
        "latency_p90_s": quantile(means, 0.9),
    }


# The probe: a fixed pure-Python loop that no code of the repository
# runs. On a shared host the speed a run gets drifts by up to 2x over
# minutes, and every wall of the run drifts with it, set-up included.
PROBE_ITERS = 400_000
# The probe's wall at the reference speed: its median on the 4-core box
# the bounds were set on. A wall "at reference speed" is the wall times
# REF_PROBE_S over the run's median probe.
REF_PROBE_S = 0.040


class HostSpeed:
    """Probe samples taken across a run, between units of work and never
    inside a measured wall. ``spent`` is the time the probes took, so
    that a wall around them can leave it out."""

    def __init__(self):
        self.samples: list[float] = []
        self.spent = 0.0

    def sample(self, k: int = 1) -> float:
        """Run the probe ``k`` times; return the seconds it took."""
        t_in = time.perf_counter()
        for _ in range(k):
            t0 = time.perf_counter()
            x = 0
            for i in range(PROBE_ITERS):
                x += i * i % 7
            self.samples.append(time.perf_counter() - t0)
        took = time.perf_counter() - t_in
        self.spent += took
        return took

    def median_s(self) -> float:
        return statistics.median(self.samples)

    def scale(self) -> float:
        """Factor that takes a wall of this run to reference speed. The
        probe's speed follows the workloads' over minutes, not over
        seconds, so one median over the whole run serves every wall."""
        return REF_PROBE_S / self.median_s()


def env_record(seed: int) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "seed": seed,
    }

