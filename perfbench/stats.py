"""Pure helpers of the benchmark: summaries, output digests and the
``BENCHMARK.json`` schema check. Nothing here touches Spark, so
``perfbench/tests`` can pin every helper without a session."""

from __future__ import annotations

import hashlib
import math
import re
import statistics
from collections.abc import Hashable, Mapping, Sequence
from dataclasses import dataclass, field
from typing import Any

import pandas as pd

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
PATH = re.compile(r"[A-Za-z0-9_./-]{1,200}")
MIN_TAIL = 10


@dataclass
class Outcome:
    """What a workload hands back: every metric it computed (end-to-end
    and per-layer alike), the operation tally and a free-form detail
    record for the artifact."""

    metrics: dict[str, float]
    attempted: int
    failed: int
    failures: list[str] = field(default_factory=list)
    detail: dict[str, Any] = field(default_factory=dict)


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geomean(values: Sequence[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def normalized(wall: float, refs: Sequence[float], nominal: float) -> float:
    """``wall`` as it would read on a host where the reference work takes
    ``nominal``: scaled by ``nominal`` over the median of the reference
    walls measured around it."""
    return wall * nominal / median(refs)


def percentile(
    values: Sequence[float],
    q: float,
    groups: Sequence[Hashable] | None = None,
    min_tail: int = MIN_TAIL,
) -> float:
    """The ``q``-th percentile (nearest rank) of ``values``.

    Refuses when fewer than ``min_tail`` samples lie beyond it. With
    ``groups`` (one label per value) the tail is counted in distinct
    labels instead: stream events delivered by one micro-batch share one
    delivery instant, so there the independent sample is the trigger."""
    if not 0 < q < 100:
        raise ValueError("q must lie strictly between 0 and 100")
    n = len(values)
    if n == 0:
        raise ValueError("percentile of no samples")
    order = sorted(range(n), key=lambda i: values[i])
    rank = max(1, math.ceil(q / 100 * n))
    tail = order[rank:]
    if groups is not None:
        if len(groups) != n:
            raise ValueError("one group label per value")
        beyond = len({groups[i] for i in tail} - {groups[order[rank - 1]]})
    else:
        beyond = len(tail)
    if beyond < min_tail:
        raise ValueError(
            f"p{q:g} has {beyond} samples beyond it; at least {min_tail} needed"
        )
    return values[order[rank - 1]]


# ---- output digests ---------------------------------------------------


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Engine-neutral form of a result: columns sorted by name, integers
    widened to int64 (float64 when nulls are present), floats to float64
    with -0.0 folded into 0.0, timestamps to epoch microseconds, booleans
    and every other type to their string form, rows sorted. The same
    rules as the repository's DuckDB differential, so a digest built from
    the DuckDB oracle matches a Spark result that passes it."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        dt = str(df[c].dtype).lower()
        if dt.startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif dt in ("bool", "boolean") or df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "int" in dt and "interval" not in dt:
            df[c] = df[c].astype("float64" if df[c].isna().any() else "int64")
        elif dt.startswith("float"):
            df[c] = df[c].astype("float64") + 0.0
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df: pd.DataFrame) -> dict[str, Any]:
    """Row count plus an order-insensitive hash of the canonical values."""
    canon = canonical(df)
    text = canon.to_csv(index=False, na_rep="<null>", float_format=repr)
    return {"rows": len(df), "sha256": hashlib.sha256(text.encode()).hexdigest()}


def digest_matches(got: Mapping[str, Any], expected: Mapping[str, Any]) -> bool:
    """Rows-only keys (``sha256`` null in the expectation) pin the count."""
    if got["rows"] != expected["rows"]:
        return False
    return expected.get("sha256") is None or got["sha256"] == expected["sha256"]


# ---- BENCHMARK.json ---------------------------------------------------

_TOP_KEYS = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}


def schema_problems(spec: Mapping[str, Any]) -> list[str]:
    """Everything in ``spec`` that breaks the ``BENCHMARK.json`` format."""
    out: list[str] = []
    if set(spec) != _TOP_KEYS:
        return [f"top-level keys {sorted(spec)} != {sorted(_TOP_KEYS)}"]
    cmd, paths = spec["command"], spec["paths"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32):
        out.append("command must be a list of 1..32 strings")
    else:
        for arg in cmd:
            if not isinstance(arg, str) or len(arg) > 200:
                out.append(f"bad command argument {arg!r}")
            elif arg.startswith("/") or ".." in arg.split("/"):
                out.append(f"command argument leaves the checkout: {arg!r}")
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        out.append("paths must list 1..16 directories")
    else:
        for p in paths:
            if not (isinstance(p, str) and PATH.fullmatch(p)) or p.startswith("/") or ".." in p.split("/"):
                out.append(f"bad path {p!r}")
    rs = spec["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        out.append("run_seconds must be a whole number in 1..60")
    names: list[str] = []
    wl = spec["workloads"]
    if not (isinstance(wl, list) and 2 <= len(wl) <= 8):
        out.append("workloads must hold 2..8 entries")
        wl = []
    for w in wl:
        if set(w) != {"name", "why"}:
            out.append(f"workload keys {sorted(w)}")
            continue
        names.append(w["name"])
        why = w["why"]
        if not (isinstance(why, str) and 0 < len(why) <= 200 and "\n" not in why):
            out.append(f"bad why for {w['name']!r}")
    for section, lo, hi, keys in (
        ("end_to_end", 1, 16, {"name", "unit", "better", "bound"}),
        ("per_layer", 1, 128, {"name", "unit", "better"}),
    ):
        metrics = spec[section]
        if not (isinstance(metrics, list) and lo <= len(metrics) <= hi):
            out.append(f"{section} must hold {lo}..{hi} metrics")
            continue
        for m in metrics:
            if set(m) != keys:
                out.append(f"{section} entry keys {sorted(m)}")
                continue
            names.append(m["name"])
            if not (isinstance(m["unit"], str) and UNIT.fullmatch(m["unit"])):
                out.append(f"bad unit for {m['name']!r}")
            if m["better"] not in ("lower", "higher"):
                out.append(f"bad better for {m['name']!r}")
            if "bound" in keys:
                b = m["bound"]
                if not (isinstance(b, (int, float)) and 0 < b <= 0.25):
                    out.append(f"bound of {m['name']!r} must lie in (0, 0.25]")
    for n in names:
        if not (isinstance(n, str) and METRIC_NAME.fullmatch(n)):
            out.append(f"bad name {n!r}")
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        out.append(f"names used twice: {dupes}")
    setup = [m for m in spec["end_to_end"] if isinstance(m, dict) and m.get("name") == "setup_s"]
    if not setup or setup[0].get("unit") != "s" or setup[0].get("better") != "lower":
        out.append("end_to_end needs setup_s in s, lower is better")
    return out
