"""Benchmark of the windowed analytics engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see perfbench/README.md):
``query_mix`` times closed-loop passes over registered query keys;
``stream_publish`` drives the count-or-time ``WindowedPublisher``. The tables are generated into
``.bench_build/perfbench`` on the first run. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — every end-to-end metric of ``BENCHMARK.json`` with
``--trace 0``, every per-layer metric with ``--trace 1``. Everything else
(progress, the full artifact path) goes to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.stats import normalized  # noqa: E402
from perfbench.trace import Spans  # noqa: E402

WORKLOADS = ("query_mix", "stream_publish")
DRIVER_MEM = "2g"
# Reference samples (host.py) taken right before and right after the set-up.
SETUP_REFS = 5


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark run: its private directories, the Spark session it
    sets up and tears down, and the optional span log."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool) -> None:
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = os.path.join(ROOT, ".bench_build", "perfbench")
        self.dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.run_id = f"{workload}-{seed}-{os.getpid()}"
        self.spans = Spans(self.run_id) if traced else None
        self.spark = None
        self.peak_rss_mb: float | None = None
        self.rss_by_process: dict[str, float] = {}

    def span(self, name: str, **attrs):
        """A span around a call into a layer; nothing when untraced."""
        return self.spans.span(name, **attrs) if self.spans else contextlib.nullcontext()

    def add_span(self, name: str, start: float, end: float, **attrs) -> None:
        if self.spans:
            self.spans.add(name, start, end, **attrs)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def configure_env(self) -> None:
        """Keep every file Spark, the JVM and Python workers write inside
        the checkout, and size the session to this host."""
        tmp = self.path("tmp", "")
        local = self.path("spark-local", "")
        old = os.environ.get("PYTHONPATH")
        os.environ.update(
            SPARK_GRAFT_CPUS=str(host.nproc()),
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
            # no hsperfdata files under the system /tmp, from either JVM
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            PYSPARK_SUBMIT_ARGS=(
                f"--driver-memory {DRIVER_MEM} --conf 'spark.driver.extraJavaOptions="
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}' pyspark-shell"
            ),
        )
        os.environ.pop("SPARK_MASTER", None)

    def setup(self) -> dict[str, float]:
        """``setup_s``: the one ``get_spark`` call of the run, which also
        launches the JVM — the set-up a user pays before the first query —
        host-normalized like the other end-to-end times; ``wall.setup_s``
        is its raw wall. A cold JVM start took 5.2-18 s on the shared host
        the benchmark was built on, in step with the reference samples."""
        from reactor_window_like_flink_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        refs = [host.reference_s() for _ in range(SETUP_REFS)]
        with self.span("session.setup"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
            wall = time.perf_counter() - t0
        refs += [host.reference_s() for _ in range(SETUP_REFS)]
        self.spark.sparkContext.setLogLevel("ERROR")
        return {"setup_s": normalized(wall, refs, host.REF_NOMINAL_S), "wall.setup_s": wall}

    def close(self) -> None:
        """Read peak RSS, stop the session and the JVM, and wait until the
        JVM and every process it started have exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.rss_by_process = {"python": host.peak_rss_mb(os.getpid())}
        if proc is not None:
            self.rss_by_process["jvm"] = host.peak_rss_mb(proc.pid)
        self.peak_rss_mb = sum(self.rss_by_process.values())
        workers = host.descendants(proc.pid) if proc is not None else []
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 20
        while workers and time.monotonic() < deadline:
            workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in workers:
            try:
                os.kill(pid, 9)
            except OSError:
                pass

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(spec: dict, traced: bool, values: dict, attempted: int, failed: int) -> dict:
    """The final stdout object: exactly the metrics the spec lists for
    this mode, each with its unit. A listed metric the run did not
    produce is an error, not a silent zero."""
    section = spec["per_layer"] if traced else spec["end_to_end"]
    missing = [m["name"] for m in section if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in section
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "reactor_window_like_flink_spark"))
    ):
        log("the engine package is not in this checkout; nothing to measure")
        return 2
    spec = _spec()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.configure_env()

    from perfbench import datagen

    data = datagen.ensure(os.path.join(run.work, f"data-v{datagen.VERSION}"))
    artifact: dict = {"workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace,
                      "epoch_start": host.epoch_probe()}
    from perfbench import batch, stream

    workload, other = (stream, batch) if args.workload == "stream_publish" else (batch, stream)
    try:
        outcome = workload.run(run, data)
    finally:
        if run.spark is not None:
            run.close()
        run.cleanup()
    if run.traced:
        bench = batch.batching_microbench(args.seed)
        outcome.metrics.update(bench.metrics)
        outcome.attempted += bench.attempted
        outcome.failed += bench.failed
        outcome.failures += bench.failures
    artifact["epoch_end"] = host.epoch_probe()
    host.stop_probe_helpers()
    # layers only the other kind of workload exercises did no work here
    values = dict.fromkeys(other.LAYER_METRICS, 0.0)
    values.update(outcome.metrics)
    values["peak_rss_mb"] = run.peak_rss_mb
    artifact.update(metrics=values, rss_by_process=run.rss_by_process,
                    detail=outcome.detail, failures=outcome.failures,
                    attempted=outcome.attempted, failed=outcome.failed)

    out_dir = os.path.join(run.work, "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{run.run_id}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if run.spans is not None:
        run.spans.dump(stem + "-spans.json")
    log(f"artifact {stem}.json")
    for failure in outcome.failures[:20]:
        log(f"FAILED {failure}")
    line = result_line(spec, run.traced, values, outcome.attempted, outcome.failed)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
