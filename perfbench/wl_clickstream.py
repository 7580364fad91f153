"""Workload ``clickstream_ticks``: the reference's own cadence.

One tick is 1,200 events (60 s at the producer's 20 events/s). Each tick
lands one JSON-lines file; the long-lived session then runs the
scheduled chain, one AvailableNow drain per stage: ingest (the file
source stands in for Kafka) -> quality gate -> KPI upsert -> HLL sketch
zone -> CMS zone, then the freshness healthcheck. After the timed
ticks, ``jobs.run_daily_kpis`` runs once and every zone is checked
against a twin computed in Python from the generated events.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq
from clickstream_pipeline_aws_kafka_docker_airflow__spark import jobs
from clickstream_pipeline_aws_kafka_docker_airflow__spark.functions.scalars import (
    PAGEVIEW_TYPES,
    PURCHASE_TYPES,
)
from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.misc_q import KNOWN_EVENT_TYPES
from clickstream_pipeline_aws_kafka_docker_airflow__spark.queries.sketch_q import CMSZ_D
from clickstream_pipeline_aws_kafka_docker_airflow__spark.schemas import CLICKSTREAM_EVENT_RAW
from clickstream_pipeline_aws_kafka_docker_airflow__spark.streaming import (
    cms_zone,
    healthcheck,
    ingest,
    kpis_stream,
    quality_gate,
    sketch_zone,
    upsert,
)
from pyspark.sql import functions as F

import gen
from harness import unit_metrics

STAGES = ("ingest", "gate", "kpi", "sketch", "cms")
# lag samples are named by the zone a stage commits; ingest commits raw
ZONE_OF = {"ingest": "raw", "gate": "gate", "kpi": "kpi", "sketch": "sketch", "cms": "cms"}
WARMUP_TICKS = 1
MIN_TICKS = 2  # a tick takes 6-9 s on four cores
CHECKS = 8  # comparisons made by check(), plus run_daily_kpis' status
SKETCH_RTOL = 0.05  # 3 sigma at lg_k 12 (rse = 1.04 / sqrt(2^12))
USERS_RTOL = 0.15  # 3 sigma of approx_count_distinct at its default rsd 0.05
DAY = gen.CLICK_DAY.date().isoformat()
PROGRESS = ("drain_s", "trigger_s", "add_batch_s", "planning_s", "log_commit_s",
            "batches", "input_rows")


def _as_events(raw):
    return raw.select(
        F.to_timestamp("event_ts").alias("ts"),
        "user_id",
        "event_type",
        F.col("price").cast("double").alias("value"),
    )


def _kpi_transform(win):
    return win.select(
        F.to_date("window_start").cast("string").alias("dt"),
        "total_events",
        "unique_users",
        "pageviews",
        "purchases",
        "revenue_usd",
    )


class Chain:
    """Zone and checkpoint dirs, the per-stage starters, and the
    progress totals of the recorded ticks."""

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.src = os.path.join(root, "landing")
        self.raw = os.path.join(root, "raw")
        self.zone = {s: os.path.join(root, s) for s in STAGES[1:]}
        self.ck = {s: os.path.join(root, f"ck_{s}") for s in STAGES}
        os.makedirs(self.src)
        self.ticks = 0
        self.events = 0
        self.totals = {s: dict.fromkeys(PROGRESS, 0.0) for s in STAGES}
        self.state: dict[str, tuple[int, int]] = {}  # stage -> (rows, bytes)
        self.healthcheck_s = 0.0

    def _start(self, stage: str):
        spark = self.spark
        if stage == "ingest":
            src = spark.readStream.schema("value string").text(self.src)
            return ingest.start_ingest(src, self.raw, self.ck[stage])
        ev = _as_events(spark.readStream.schema(CLICKSTREAM_EVENT_RAW).json(self.raw))
        zone, ck = self.zone[stage], self.ck[stage]
        if stage == "gate":
            return quality_gate.start_quality_gate(ev, zone, ck)
        if stage == "kpi":
            return upsert.start_partition_upsert(
                kpis_stream.windowed_kpis(ev, watermark="1 day"), zone, ck,
                partition_col="dt", transform=_kpi_transform,
            )
        if stage == "sketch":
            return sketch_zone.start_sketch_zone(ev, zone, ck)
        return cms_zone.start_cms_zone(ev, zone, ck)

    def _drain(self, stage: str, op: str, record: bool) -> float:
        """Run one AvailableNow drain; returns the stamp of its return."""
        with self.tracer.span(f"{stage}.drain", op=op):
            t0 = time.perf_counter()
            with self.tracer.span(f"{stage}.start", op=op):
                q = self._start(stage)
            q.awaitTermination()
            t1 = time.perf_counter()
        if q.exception() is not None:
            raise RuntimeError(f"{stage}: {q.exception()}")
        if record:
            r = self.totals[stage]
            r["drain_s"] += t1 - t0
            for p in q.recentProgress:
                d = p["durationMs"]
                r["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
                r["add_batch_s"] += d.get("addBatch", 0) / 1000.0
                r["planning_s"] += d.get("queryPlanning", 0) / 1000.0
                r["log_commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
                r["batches"] += 1
                r["input_rows"] += p["numInputRows"]
                for so in p["stateOperators"] or []:
                    self.state[stage] = (so["numRowsTotal"], so["memoryUsedBytes"])
        return t1

    def tick(self, record: bool) -> tuple[float, dict[str, float]]:
        """Land one tick and run the chain. Returns the landing stamp
        and each zone's commit stamp."""
        op = f"tick{self.ticks}"
        with self.tracer.span("tick", op=op):
            landed = gen.land(
                os.path.join(self.src, f"tick_{self.ticks:05d}.jsonl"),
                gen.click_tick(self.seed, self.ticks),
            )
            done = {ZONE_OF[s]: self._drain(s, op, record) for s in STAGES}
            t0 = time.perf_counter()
            with self.tracer.span("healthcheck", op=op):
                fresh = healthcheck.check_freshness(
                    self.spark, self.raw, day=DAY, lookback_minutes=20
                )
            if record:
                self.healthcheck_s += time.perf_counter() - t0
        if not fresh:
            raise RuntimeError("healthcheck: raw zone reported stale")
        self.ticks += 1
        self.events += gen.EVENTS_PER_TICK
        return landed, done


def _table(path: str) -> list[dict]:
    """A zone's rows, read with pyarrow (hive partitions become columns)."""
    return pq.read_table(path).to_pylist()


def _revenue(prices) -> float:
    """2-dp sum, exact in decimal like ``dec_sum_round2``."""
    total = sum(Decimal(repr(p)).quantize(Decimal("1e-8")) for p in prices)
    return float(total.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def check(spark, chain: Chain, day_kpi_dir: str) -> list[str]:
    """Every zone against a twin computed in Python from the generated
    events, independent of Spark; the package's own constants decide
    which event types count as known, page views and purchases."""
    bad: list[str] = []
    lines = [ln for t in range(chain.ticks) for ln in gen.click_tick(chain.seed, t)]
    events = [json.loads(ln) for ln in lines]
    raw = []
    for path in _files(chain.raw, ".json"):
        with open(path) as f:
            raw += [json.loads(ln)["payload"] for ln in f if ln.strip()]
    if Counter(raw) != Counter(lines):
        bad.append("raw zone differs from the landed lines")

    def violations(e):
        v = []
        if e["event_type"] not in KNOWN_EVENT_TYPES:
            v.append("known_type")
        if e["event_type"] == "purchase" and not (e["price"] or 0) > 0:
            v.append("purchase_value_positive")
        return v

    key = ("user_id", "event_type", "value")
    twin = Counter(
        (e["user_id"], e["event_type"], e["price"], tuple(violations(e))) for e in events
    )
    gate = chain.zone["gate"]
    got = Counter(
        tuple(r[k] for k in key) + ((),) for r in _table(quality_gate.accepted_zone(gate))
    ) + Counter(
        tuple(r[k] for k in key) + (tuple(r["violations"]),)
        for r in _table(quality_gate.quarantine_zone(gate))
    )
    if got != twin:
        bad.append("gate zones differ from the events' checks")
    n_viol = Counter(v for e in events for v in violations(e))
    got_m = Counter()
    for r in _table(quality_gate.metrics_zone(gate)):
        got_m[r["check_name"]] += r["n_violations"]
    if +got_m != n_viol:
        bad.append(f"gate metrics {dict(got_m)} != {dict(n_viol)}")

    users = {e["user_id"] for e in events}
    etypes = [e["event_type"].lower() for e in events]
    want = {
        "dt": DAY,
        "total_events": len(events),
        "pageviews": sum(t in PAGEVIEW_TYPES for t in etypes),
        "purchases": sum(t in PURCHASE_TYPES for t in etypes),
        "revenue_usd": _revenue(
            e["price"] or 0.0 for e, t in zip(events, etypes) if t in PURCHASE_TYPES
        ),
    }
    for name, path in (("kpi zone", chain.zone["kpi"]), ("run_daily_kpis", day_kpi_dir)):
        rows = _table(path)
        got_k = [{k: str(r[k]) if k == "dt" else r[k] for k in want} for r in rows]
        if got_k != [want]:
            bad.append(f"{name} {got_k} != {want}")
        elif abs(rows[0]["unique_users"] - len(users)) > USERS_RTOL * len(users):
            bad.append(f"{name} unique_users {rows[0]['unique_users']} vs {len(users)}")

    est = spark.read.parquet(chain.zone["sketch"]).select(
        F.hll_sketch_estimate("sk")
    ).collect()
    if len(est) != 1 or abs(est[0][0] - len(users)) > SKETCH_RTOL * len(users):
        bad.append(f"sketch zone estimates {est} for {len(users)} users")

    per_row = Counter()
    for r in _table(chain.zone["cms"]):
        per_row[r["s"]] += r["cnt"]
    if per_row != Counter({s: len(events) for s in range(CMSZ_D)}):
        bad.append(f"cms zone rows sum to {dict(per_row)}, not {len(events)} each")
    return bad


def _files(d: str, suffix: str) -> list[str]:
    return [
        os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
        if f.endswith(suffix) and not f.startswith(".")
    ]


def run(ctx) -> dict:
    """Warm-up ticks in set-up, then whole ticks for at least
    ``ctx.seconds`` and at least MIN_TICKS ticks."""
    spark = ctx.spark
    chain = Chain(spark, ctx.work, ctx.seed, ctx.tracer)
    for _ in range(WARMUP_TICKS):
        chain.tick(record=False)
    ctx.setup_done()

    lags = []  # landing -> commit of each zone, per tick
    c0 = ctx.counters_read()
    t_end = time.perf_counter() + ctx.seconds
    t_first = None
    probe_in_wall = 0.0
    while len(lags) < MIN_TICKS or time.perf_counter() < t_end:
        took = ctx.probe(8)  # between ticks, outside every lag
        if t_first is not None:
            probe_in_wall += took
        landed, done = chain.tick(record=True)
        t_first = landed if t_first is None else t_first
        t_last = max(done.values())
        lags.append({z: t - landed for z, t in done.items()})
    ctx.probe(8)  # so the last tick's stretch of the run is sampled too
    ticks = len(lags)
    # first measured landing to last zone commit, without the probes
    wall = t_last - t_first - probe_in_wall
    c1 = ctx.counters_read()

    day_dir = os.path.join(ctx.work, "daily_kpis")
    t0 = time.perf_counter()
    with ctx.tracer.span("jobs.run_daily_kpis", op="check"):
        status = jobs.run_daily_kpis(spark, chain.raw, day_dir, run_date=DAY)
    daily_s = time.perf_counter() - t0
    bad = [] if status == "OK" else [f"run_daily_kpis returned {status}"]
    with ctx.tracer.span("check", op="check"):
        bad += check(spark, chain, day_dir)

    e2e = unit_metrics(ticks * gen.EVENTS_PER_TICK, wall, lags, ctx.speed.scale())
    measured = unit_metrics(ticks * gen.EVENTS_PER_TICK, wall, lags)
    named = {
        "events_per_s": (measured["throughput_per_s"], "1/s"),
        "zone_lag_p50_s": (measured["latency_p50_s"], "s"),
        "zone_lag_p90_s": (measured["latency_p90_s"], "s"),
    }
    layer: dict[str, float] = {"ticks": ticks, "latency_samples": ticks * len(STAGES)}
    for s, r in chain.totals.items():
        layer.update({f"{s}.{k}": r[k] / ticks for k in PROGRESS if k != "trigger_s"})
        layer[f"{s}.overhead_s"] = (r["drain_s"] - r["trigger_s"]) / ticks
    layer["kpi.state_rows"] = chain.state["kpi"][0]
    layer["sketch.state_rows"] = chain.state["sketch"][0]
    layer["state_bytes"] = sum(b for _, b in chain.state.values())
    layer["healthcheck_s"] = chain.healthcheck_s / ticks
    layer["jobs.run_daily_kpis_s"] = daily_s
    raw_files = _files(chain.raw, ".json")
    layer["raw.files"] = len(raw_files)
    layer["raw.bytes_per_event"] = sum(map(os.path.getsize, raw_files)) / chain.events
    for z, d in chain.zone.items():
        layer[f"{z}.files"] = len(_files(d, ".parquet"))
    layer.update(ctx.engine_metrics(c0, c1, wall, ticks))
    return {"e2e": e2e, "named": named, "layer": layer,
            "attempted": ticks * len(STAGES) + CHECKS, "bad": bad}
