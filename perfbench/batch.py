"""The ``query_mix`` workload: closed-loop passes over registered query keys.

One client (this process) runs every key, one at a time,
on a noop sink; the next call starts when the previous one returns. Each
pass visits the keys in an order drawn from ``--seed``. Before timing, one
untimed pass collects every key's result and checks it against the
expected digest in ``expected.json``; that pass is also the warm-up.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import traceback

import numpy as np
import pandas as pd

from perfbench import host
from perfbench.stats import Outcome, digest, digest_matches, geomean, median, normalized
from perfbench.trace import COST_FIELDS, Ledger

# Two kinds of key in one loop. The JVM-only keys load scans, Catalyst,
# joins, windows, sketches and the shuffle; the LLM keys run pandas/Arrow
# kernels in Python workers and localCheckpoint chains. Per-module layer
# metrics keep the two kinds apart.
KEYS = [
    "q_join_asof",
    "q_tumbling_window",
    "q_ewma_daily",
    "q_quantile_rollup_kll",
    "q_knn_graph",
    "q_bpe_encode",
    "q_curation_pipeline",
    "q_dedup_exact",
    "q_zipf_slope",
]
# Keys measured by the traced run only: every graph key of llm.clustering
# takes 8-18 s warm at sf0.1 on four cores, about a whole pass of the
# others, so one runs once per traced run, after the passes and outside
# pass_s: its timed call collects the result, which is checked afterwards.
TRACED_KEYS = ["q_kcore"]
# The modules that register those keys; each gets the per-layer metrics.
MODULES = [
    "operators.relational", "operators.analytics", "operators.sketches",
    "streaming.windows", "llm.similarity", "llm.bpe", "llm.curation",
    "llm.dedup", "llm.retrieval", "llm.clustering",
]
# Per-module status-store fields; spill is reported once, over all keys.
MODULE_FIELDS = ("wall_s", *(f for f in COST_FIELDS if f != "spill_bytes"))
# Passes run until --seconds have passed, and at least MIN_PASSES of them.
# Each key is then summarized by the median of its passes, and the figures
# over keys are host-normalized by the median of the reference samples
# (host.py) taken between the timed calls. Per call, both the wall and a
# sample vary by 15-30% on a shared host, so a factor per run tracked the
# host's speed better than one per call. Samples right after a call read
# 22-65 ms, so each gap between calls gets REFS_PER_CALL of them.
MIN_PASSES = 2
REFS_PER_CALL = 2
LAYER_METRICS = [
    "wall.setup_s", "wall.pass_s", "wall.query_geomean_s", "wall.deliver_p50_ms",
    "host.ref_ms",
    "trace.overhead_pass_s",
    "query_mix.spill_bytes",
    *(f"{m}.{f}" for m in MODULES for f in MODULE_FIELDS),
]
_EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def module_of(fn) -> str:
    return fn.__module__.removeprefix("reactor_window_like_flink_spark.")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(ctx, data: str) -> Outcome:
    import __spark_entry__ as entry

    keys = KEYS
    checked = KEYS + TRACED_KEYS if ctx.traced else KEYS
    queries = entry.queries()
    modules = {k: module_of(queries[k]) for k in checked}
    unknown = set(modules.values()) - set(MODULES)
    if unknown:
        raise RuntimeError(f"modules without per-layer metrics: {sorted(unknown)}")
    with open(_EXPECTED) as f:
        expected = json.load(f)
    rng = random.Random(ctx.seed)

    setup = ctx.setup()
    spark = ctx.spark
    attempted = failed = 0
    failures: list[str] = []

    def check(key: str, pdf: pd.DataFrame) -> bool:
        got = digest(pdf)
        if digest_matches(got, expected[key]):
            return True
        failures.append(f"{key}: digest {got} != expected {expected[key]}")
        return False

    # Untimed: output check, which is also the warm-up pass.
    check_s = {}
    for key in rng.sample(keys, len(keys)):
        attempted += 1
        t0 = time.perf_counter()
        try:
            ok = check(key, queries[key](spark, data).toPandas())
        except Exception:  # noqa: BLE001
            ok = False
            failures.append(f"{key}: {traceback.format_exc(limit=3)}")
        failed += not ok
        check_s[key] = time.perf_counter() - t0

    ledger = Ledger(spark) if ctx.traced else None
    # traced runs alternate untraced and traced passes, so the tracing
    # overhead is measured in the same process
    samples: dict[bool, dict[str, list[float]]] = {False: {k: [] for k in checked},
                                                   True: {k: [] for k in checked}}
    costs: dict[str, list[dict]] = {k: [] for k in checked}
    refs: list[float] = []  # reference samples, taken before each timed call

    def timed(key: str, n_pass: int, traced: bool, sink=_noop):
        nonlocal attempted, failed
        attempted += 1
        group = f"{ctx.run_id}:{n_pass}:{key}"
        if traced:
            ledger.tag(group)
        refs.extend(host.reference_s() for _ in range(REFS_PER_CALL))
        try:
            t = time.perf_counter()
            out = sink(queries[key](spark, data))
            wall = time.perf_counter() - t
        except Exception:  # noqa: BLE001
            failed += 1
            failures.append(f"{key} (timed): {traceback.format_exc(limit=3)}")
            return None
        finally:
            if traced:
                ledger.untag()
        samples[traced][key].append(wall)
        if traced:
            costs[key].append(ledger.cost(group, wall))
            ctx.add_span(f"{modules[key]}:{key}", t, t + wall, **costs[key][-1])
        return out

    # A traced run times untraced, traced, untraced passes: one pass fewer
    # than twice MIN_PASSES keeps it within 180 s on a host at half speed.
    min_passes = 2 * MIN_PASSES - 1 if ctx.traced else MIN_PASSES
    seconds = 2 * ctx.seconds if ctx.traced else ctx.seconds
    start = time.perf_counter()
    n_pass = 0
    while n_pass < min_passes or time.perf_counter() - start < seconds:
        traced = ctx.traced and n_pass % 2 == 1
        with ctx.span("query_mix.pass", n=n_pass, traced=traced):
            for key in rng.sample(keys, len(keys)):
                timed(key, n_pass, traced)
        n_pass += 1
    refs.extend(host.reference_s() for _ in range(REFS_PER_CALL))
    if ctx.traced:
        with ctx.span("query_mix.traced_keys"):
            for key in TRACED_KEYS:
                pdf = timed(key, n_pass, True, sink=lambda df: df.toPandas())
                if pdf is not None and not check(key, pdf):
                    failed += 1
    if any(not samples[t][k] for t in {False, ctx.traced} for k in keys) or any(
        not samples[True][k] for k in TRACED_KEYS if ctx.traced
    ):
        raise RuntimeError("a key has no successful timed sample")

    per_key = [median(samples[False][k]) for k in keys]
    # This workload delivers no events: the figure stands in for the
    # metric every workload must report, and is the mean per-key wall
    # (pass_s over the key count). A median over nine keys whose walls
    # vary by 15-30% each jumped from key to key between runs.
    mean_ms = 1e3 * sum(per_key) / len(keys)
    metrics = {
        **setup,
        "pass_norm_s": normalized(sum(per_key), refs, host.REF_NOMINAL_S),
        "query_geomean_norm_s": normalized(geomean(per_key), refs, host.REF_NOMINAL_S),
        "deliver_p50_norm_ms": normalized(mean_ms, refs, host.REF_NOMINAL_S),
        "wall.pass_s": sum(per_key),
        "wall.query_geomean_s": geomean(per_key),
        "wall.deliver_p50_ms": mean_ms,
        "host.ref_ms": 1e3 * median(refs),
        "warm_pass_s": sum(check_s.values()),
    }
    detail = {"keys": checked, "modules": modules, "passes": n_pass, "check_s": check_s,
              "samples": {str(t): s for t, s in samples.items()}, "refs": refs}
    if ctx.traced:
        traced_best = {k: min(s) for k, s in samples[True].items() if s}
        # the traced pass against the mean of the untraced passes either
        # side of it, which cancels the warm-up still going on across passes
        metrics["trace.overhead_pass_s"] = sum(
            statistics.fmean(samples[True][k]) - statistics.fmean(samples[False][k])
            for k in keys
        )
        metrics.update(module_metrics(modules, traced_best, costs))
        detail["costs"] = costs
    return Outcome(metrics, attempted, failed, failures, detail)


def module_metrics(modules: dict[str, str], wall: dict[str, float],
                   costs: dict[str, list[dict]]) -> dict[str, float]:
    """Per registering module, summed over its keys: the key's fastest
    traced wall and the median of each status-store field. Spilled bytes
    are summed over every key into one figure."""
    out = {f"{m}.{f}": 0.0 for m in MODULES for f in MODULE_FIELDS}
    out["query_mix.spill_bytes"] = 0.0
    for key, mod in modules.items():
        out[f"{mod}.wall_s"] += wall[key]
        for field in COST_FIELDS:
            name = "query_mix.spill_bytes" if field == "spill_bytes" else f"{mod}.{field}"
            out[name] += median([c[field] for c in costs[key]])
    return out


# ---- functions.batching.complete_group_chunks --------------------------

_FRAME_ROWS = 10_000
_SHAPES = {
    # (rows per group, rows per input batch)
    "small_groups": (5, 1_000),
    "hot_group": (_FRAME_ROWS, 100),
}


def _frame(rng: np.random.Generator, group_rows: int) -> pd.DataFrame:
    key = np.arange(_FRAME_ROWS) // group_rows
    return pd.DataFrame({"g": key, "v": rng.standard_normal(_FRAME_ROWS)})


def batching_microbench(seed: int, seconds: float = 1.0) -> Outcome:
    """Direct calls into ``complete_group_chunks`` on generated frames in
    two shapes: many small groups, and one group spanning every batch.
    Rows per second is the frame size over the median call; every call's
    output is checked to hold exactly the input, in whole groups."""
    from reactor_window_like_flink_spark.functions.batching import complete_group_chunks

    rng = np.random.default_rng(seed)
    out = Outcome({}, 0, 0)
    for shape, (group_rows, batch_rows) in _SHAPES.items():
        pdf = _frame(rng, group_rows)
        batches = [pdf.iloc[i:i + batch_rows] for i in range(0, _FRAME_ROWS, batch_rows)]
        walls = []
        start = time.perf_counter()
        while len(walls) < 5 or time.perf_counter() - start < seconds:
            t = time.perf_counter()
            chunks = list(complete_group_chunks(iter(batches), ["g"]))
            walls.append(time.perf_counter() - t)
            out.attempted += 1
            joined = pd.concat(chunks, ignore_index=True)
            whole = sum(c["g"].nunique() for c in chunks) == pdf["g"].nunique()
            if not (whole and joined.equals(pdf)):
                out.failed += 1
                out.failures.append(f"complete_group_chunks ({shape}): output differs")
        out.metrics[f"functions.batching.{shape}_rows_per_s"] = _FRAME_ROWS / median(walls)
    return out
