"""Host facts measured beside each run: an effective-core probe and peak
resident memory, which are recorded only, and a reference piece of work
whose wall the host-normalized metrics are divided by."""

from __future__ import annotations

import concurrent.futures
import multiprocessing
import os
import time

_LOOP = 3_000_000


# Wall of ``reference_s()`` on a quiet host of the kind the benchmark was
# sized on (4 vCPUs of a shared x86 VM): host-normalized figures read as
# seconds on such a host.
REF_NOMINAL_S = 0.03
_REF_LOOP, _REF_ROWS = 400_000, 200_000


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def _spin(_: int = 0) -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(_LOOP):
        x += i
    return time.perf_counter() - t0


def reference_s() -> float:
    """Wall of a fixed piece of CPU work that calls nothing of the
    program: an interpreter loop and a numpy sort, about 30 ms, split
    evenly over every CPU this process may use, this thread pinned to
    each in turn. Sampled around and during timed work, it tells how fast
    the host ran that work: the vCPUs of a shared host run 1.3-2x slower
    for seconds to minutes at a time (time stolen by the hypervisor, or
    busy sibling threads), each on its own schedule, and timed work and
    the reference next to it slow down together. Visiting every CPU
    measures all of them, as Spark's tasks use all of them, instead of
    whichever one the thread happened to run on."""
    import numpy as np

    cpus = sorted(os.sched_getaffinity(0))
    loop, rows = _REF_LOOP // len(cpus), _REF_ROWS // len(cpus)
    t0 = time.perf_counter()
    try:
        for cpu in cpus:
            os.sched_setaffinity(0, {cpu})
            x = 0
            for i in range(loop):
                x += i
            np.sort(np.random.default_rng(cpu).random(rows))
    finally:
        os.sched_setaffinity(0, set(cpus))
    return time.perf_counter() - t0


def epoch_probe() -> dict | None:
    """Run the same pure-CPU loop alone and then in ``nproc`` processes
    at once: ``eff_cores = n * solo / wall`` drops when the host gives
    this checkout fewer cores than it reports. The pool uses the
    ``spawn`` start method, so it never forks a process that holds live
    JVM-gateway threads. Any failure records ``None``."""
    n = nproc()
    try:
        solo = min(_spin() for _ in range(3))
        ctx = multiprocessing.get_context("spawn")
        with concurrent.futures.ProcessPoolExecutor(max_workers=n, mp_context=ctx) as pool:
            list(pool.map(int, range(n)))  # start-up stays outside the window
            t0 = time.perf_counter()
            list(pool.map(_spin, range(n)))
            wall = time.perf_counter() - t0
        return {"n": n, "solo_s": solo, "wall_s": wall, "eff_cores": n * solo / wall,
                "at": time.time()}
    except Exception:  # noqa: BLE001 — the probe must never cost the run
        return None


def stop_probe_helpers() -> None:
    """Stop and reap the resource-tracker process that ``spawn`` pools
    start, so the run leaves no process behind."""
    from multiprocessing import resource_tracker

    try:
        resource_tracker._resource_tracker._stop()
    except Exception:  # noqa: BLE001 — private API; the tracker exits with us anyway
        pass


def peak_rss_mb(pid: int) -> float:
    """Resident high-water mark (VmHWM) of ``pid``; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out
