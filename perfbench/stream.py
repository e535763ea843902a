"""Stream workload: the reference's count-or-time windowed delivery.

Events go in through ``FileStreamInput.publish`` and come out through
``WindowedPublisher(window_max_batch_size=15, window_duration_seconds=0.5)``
to a driver-side consumer in this process.

Phase (b), backfill, runs first: a backlog of many small files is
admitted, then drained with ``drain=True``, ``DRAINS`` times over; the
first ``WARM_DRAINS`` drains, of a smaller backlog, are the warm-up, the
others are timed (``pass_norm_s``). Phase (a), open loop, follows: one
generator thread publishes seeded events on a fixed schedule and each
event's latency runs from its scheduled publish time to the consumer
receiving its chunk.
Events due in the first ``WARMUP_S`` are not measured.
"""

from __future__ import annotations

import random
import statistics
import threading
import time
import traceback

from perfbench import host
from perfbench.stats import Outcome, geomean, median, normalized, percentile

SCHEMA = "event_id BIGINT, due_us BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
WINDOW_ROWS, WINDOW_S = 15, 0.5
PUBLISH_HZ, PUBLISH_ROWS = 4, 100
WARMUP_S = 3.0
BACKLOG_FILES, BACKLOG_ROWS = 300, 20
# Drain walls fall over the first few drains of a fresh JVM; the first
# one (10-14 s at 300 files, against 4-5 s for the second) is the warm-up,
# over fewer files, since most of its cost is the first query's set-up.
# The timed figure is the median of the two drains after it (their mean):
# one timed drain spread 0.09-0.13 across runs, two 0.06-0.07.
DRAINS, WARM_DRAINS, WARM_FILES = 3, 1, 100
# A gap this long between two chunks means a new micro-batch: chunks of
# one micro-batch are handed over back to back.
TRIGGER_GAP_US = 20_000
# Host normalization (host.py): single reference samples on a shared host
# vary by 10-50%, in runs of similar values, so each phase is divided by
# the median of many samples spread over time. A drain loads every core,
# and samples taken during it read 2-3x slow, so a drain's samples are
# taken while its backlog is published (one every REF_EVERY_FILES files)
# and right after it, when the stream is idle. The open loop never idles:
# this thread samples every REF_EVERY_S while it runs. Those samples share
# the cores with the stream, which lifts them by a few percent (34-37 ms
# against 33-35 ms between phases); a change that lightens the stream's
# CPU load also lightens the samples, so its gain reads a few percent
# short in the normalized figures.
REF_EVERY_FILES = 20
DRAIN_REFS = 5
REF_EVERY_S = 0.3
_TYPES = ("click", "error", "purchase", "signup", "view")
_PHASES = ("latestOffset", "getBatch", "addBatch", "walCommit", "commitOffsets")
P = "streaming.publisher."


def _now_us() -> int:
    return time.time_ns() // 1000


class Sink:
    """The consumer: records, per delivered event, its id, latency and
    micro-batch, and every chunk's size."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.ids: list[int] = []
        self.latency_us: list[int] = []
        self.due_us: list[int] = []
        self.trigger: list[int] = []
        self.chunk_sizes: list[int] = []
        self._last_us = 0
        self._trigger = 0

    def __call__(self, rows) -> None:
        now = _now_us()
        with self.lock:
            if now - self._last_us > TRIGGER_GAP_US:
                self._trigger += 1
            self._last_us = now
            self.chunk_sizes.append(len(rows))
            for r in rows:
                self.ids.append(r.event_id)
                self.due_us.append(r.due_us)
                self.latency_us.append(now - r.due_us)
                self.trigger.append(self._trigger)

    def count(self) -> int:
        with self.lock:
            return len(self.ids)


class Events:
    """Seeded event payloads with ids unique across the whole run."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.next_id = 0

    def rows(self, n: int, due_us: int) -> list[tuple]:
        out = []
        for _ in range(n):
            out.append((self.next_id, due_us, self.rng.randrange(1500),
                        self.rng.choice(_TYPES), round(self.rng.expovariate(0.02), 2)))
            self.next_id += 1
        return out


def run(ctx, data: str) -> Outcome:
    from reactor_window_like_flink_spark.streaming.publisher import (
        FileStreamInput,
        WindowedPublisher,
    )

    setup = ctx.setup()
    spark = ctx.spark
    events = Events(ctx.seed)
    sink = Sink()
    publisher = WindowedPublisher(window_max_batch_size=WINDOW_ROWS,
                                  window_duration_seconds=WINDOW_S)
    inputs: list[FileStreamInput] = []

    # ---- phase (b): backfill ------------------------------------------
    drain_walls, drain_norm, drain_refs = [], [], []
    for i in range(DRAINS):
        inp = FileStreamInput(spark, SCHEMA, ctx.path(f"backlog{i}", "in"))
        inputs.append(inp)
        refs = []
        for j in range(WARM_FILES if i < WARM_DRAINS else BACKLOG_FILES):
            inp.publish(events.rows(BACKLOG_ROWS, _now_us()))
            if j % REF_EVERY_FILES == 0:
                refs.append(host.reference_s())
        with ctx.span("streaming.publisher.drain", n=i):
            t0 = time.perf_counter()
            q = publisher.subscribe(inp.stream(), consumer=sink, drain=True,
                                    checkpoint_dir=ctx.path(f"backlog{i}", "cp"))
            q.awaitTermination()
            drain_walls.append(time.perf_counter() - t0)
        refs += [host.reference_s() for _ in range(DRAIN_REFS)]
        drain_refs.append(refs)
        drain_norm.append(normalized(drain_walls[-1], refs, host.REF_NOMINAL_S))
    backlog_events = BACKLOG_FILES * BACKLOG_ROWS

    # ---- phase (a): open loop -----------------------------------------
    inp = FileStreamInput(spark, SCHEMA, ctx.path("live", "in"))
    inputs.append(inp)
    q = publisher.subscribe(inp.stream(), consumer=sink,
                            checkpoint_dir=ctx.path("live", "cp"))
    inp.attach(q)
    # A traced run measures an untraced window, then a traced one twice as
    # long: the per-layer tail needs ten micro-batches beyond its p75 even
    # when triggers overrun the window.
    measured_s = 3 * ctx.seconds if ctx.traced else ctx.seconds
    # Processing-time triggers fire on multiples of the window since the
    # epoch. Publishes are due mid-way between two of their slots at a
    # fixed phase to that grid, so the wait for the next trigger is the
    # same in every run rather than drawn from the start time.
    grid, slot = int(WINDOW_S * 1e6), 1_000_000 // PUBLISH_HZ
    t_start = (_now_us() // grid + 1) * grid + slot // 2
    measure_from = t_start + int(WARMUP_S * 1e6)
    traced_from = measure_from + ctx.seconds * 1_000_000
    end = measure_from + measured_s * 1_000_000
    publishes: list[tuple[int, int, int]] = []  # (due, lag, publish wall) in us
    gen_errors: list[str] = []

    def generate() -> None:
        i = 0
        try:
            while True:
                due = t_start + i * 1_000_000 // PUBLISH_HZ
                if due >= end:
                    return
                wait = (due - _now_us()) / 1e6
                if wait > 0:
                    time.sleep(wait)
                t, t_pc = _now_us(), time.perf_counter()
                inp.publish(events.rows(PUBLISH_ROWS, due))
                done = _now_us()
                publishes.append((due, t - due, done - t))
                ctx.add_span("streaming.publisher.publish", t_pc, time.perf_counter())
                i += 1
        except Exception:  # noqa: BLE001 — reported as a failure below
            gen_errors.append(traceback.format_exc(limit=3))

    backlog: list[int] = []
    live_refs: list[tuple[int, float]] = []  # (taken at, wall) in us, s
    with ctx.span("streaming.publisher.open_loop"):
        gen = threading.Thread(target=generate, name="perfbench-generator")
        gen.start()
        while gen.is_alive():
            if ctx.traced and _now_us() >= traced_from:
                backlog.append(inp.queue_size())
            gen.join(REF_EVERY_S)
            live_refs.append((_now_us(), host.reference_s()))
    published = events.next_id
    deadline = time.monotonic() + 30
    while sink.count() < published and time.monotonic() < deadline:
        time.sleep(0.05)
    progress = list(q.recentProgress)
    q.stop()

    # ---- checks -------------------------------------------------------
    failures = [f"generator: {e}" for e in gen_errors]
    with sink.lock:
        seen: dict[int, int] = {}
        for eid in sink.ids:
            seen[eid] = seen.get(eid, 0) + 1
        missing = published - len(seen)
        dupes = sum(c - 1 for c in seen.values())
        oversized = sum(1 for c in sink.chunk_sizes if c > WINDOW_ROWS)
        empty = sum(1 for c in sink.chunk_sizes if c == 0)
    fallbacks = sum(i.arrow_fallbacks() for i in inputs)
    for what, n in (("missing events", missing), ("duplicate deliveries", dupes),
                    ("chunks over 15 rows", oversized), ("empty chunks", empty),
                    ("arrow fallbacks", fallbacks)):
        if n:
            failures.append(f"{n} {what}")
    failed = missing + dupes + oversized + empty + fallbacks + len(gen_errors)

    # ---- metrics ------------------------------------------------------
    def window(lo: int, hi: int) -> tuple[list[float], list[int]]:
        lat, trig = [], []
        for due, ms, tr in zip(sink.due_us, sink.latency_us, sink.trigger):
            if lo <= due < hi:
                lat.append(ms / 1e3)
                trig.append(tr)
        return lat, trig

    untraced_end = traced_from if ctx.traced else end
    lat, trig = window(measure_from, untraced_end)
    triggers = [
        p for p in progress
        if p.numInputRows > 0 and _iso_us(p.timestamp) >= measure_from
    ]
    trigger_s = [p.durationMs["triggerExecution"] / 1e3 for p in triggers]
    # Each non-empty micro-batch of the live query is one execution of
    # the incremental query, so the geometric mean of their durations is
    # this workload's per-query figure.
    untraced_trigger_s = [
        p.durationMs["triggerExecution"] / 1e3 for p in triggers
        if _iso_us(p.timestamp) < untraced_end
    ]
    refs = [r for at, r in live_refs if measure_from <= at < untraced_end]
    live = host.REF_NOMINAL_S / median(refs)
    # An event first waits for the next trigger slot (125 or 375 ms here,
    # set by the schedule, not by the host); only the rest of its latency
    # is host-normalized. Normalizing all of it overcorrected: raw p50s
    # of 421-509 ms read 416-523 normalized while the host sped up by a
    # third.
    grid = int(WINDOW_S * 1e6)
    lat_norm = []
    for due, us in zip(sink.due_us, sink.latency_us):
        if measure_from <= due < untraced_end:
            wait = (due // grid + 1) * grid - due
            lat_norm.append((wait + (us - wait) * live) / 1e3)
    metrics = {
        **setup,
        "pass_norm_s": median(drain_norm[WARM_DRAINS:]),
        "query_geomean_norm_s": geomean(untraced_trigger_s) * live,
        "deliver_p50_norm_ms": median(lat_norm),
        "wall.pass_s": median(drain_walls[WARM_DRAINS:]),
        "wall.query_geomean_s": geomean(untraced_trigger_s),
        "wall.deliver_p50_ms": median(lat),
        "host.ref_ms": 1e3 * median(refs),
        "warm_pass_s": sum(drain_walls[:WARM_DRAINS]),
    }
    detail = {"drain_walls": drain_walls, "drain_norm": drain_norm,
              "drain_refs": drain_refs, "live_refs": live_refs, "published": published,
              "measured_events": len(lat), "measured_triggers": len(set(trig)),
              "trigger_s": trigger_s}
    if ctx.traced:
        all_lat, all_trig = window(measure_from, end)
        lat_t, _ = window(traced_from, end)
        pubs = [p for p in publishes if measure_from <= p[0] < end]
        metrics.update({
            "trace.overhead_deliver_p50_ms": median(lat_t) - metrics["wall.deliver_p50_ms"],
            P + "deliver_p75_ms": percentile(all_lat, 75, groups=all_trig),
            P + "publish_p50_ms": median([p[2] / 1e3 for p in pubs]),
            P + "publish_p90_ms": percentile([p[2] / 1e3 for p in pubs], 90),
            P + "gen_lag_p90_ms": percentile([p[1] / 1e3 for p in pubs], 90),
            P + "drain_events_per_s": backlog_events / metrics["wall.pass_s"],
            P + "trigger_util": median(trigger_s) / WINDOW_S,
            P + "backlog_rows_p75": percentile(backlog, 75),
            P + "rows_per_batch_p50": median([p.numInputRows for p in triggers]),
            P + "chunk_fill": sum(sink.chunk_sizes) / len(sink.chunk_sizes) / WINDOW_ROWS,
            P + "arrow_fallbacks": fallbacks,
        })
        # means, not medians: Spark reports whole milliseconds, so a
        # median of a phase would read the same in most runs
        for phase in _PHASES:
            metrics[f"{P}trigger.{phase}_ms"] = statistics.fmean(
                [p.durationMs.get(phase, 0) for p in triggers]
            )
        detail["backlog_rows"] = backlog
    return Outcome(metrics, published, failed, failures, detail)


def _iso_us(stamp: str) -> int:
    """Progress timestamps are ISO-8601 UTC strings with milliseconds."""
    from datetime import datetime, timezone

    t = datetime.strptime(stamp.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return int(t.replace(tzinfo=timezone.utc).timestamp() * 1e6)


LAYER_METRICS = [
    "wall.setup_s", "wall.pass_s", "wall.query_geomean_s", "wall.deliver_p50_ms",
    "host.ref_ms",
    "trace.overhead_deliver_p50_ms",
    *(P + n for n in (
        "deliver_p75_ms", "publish_p50_ms", "publish_p90_ms", "gen_lag_p90_ms",
        "drain_events_per_s", "trigger_util", "backlog_rows_p75",
        "rows_per_batch_p50", "chunk_fill", "arrow_fallbacks",
    )),
    *(f"{P}trigger.{phase}_ms" for phase in _PHASES),
]
