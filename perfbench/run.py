"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,analytics} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Prints a report (the host, what ran, every
correctness check) and, as the last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics untraced, the per-layer metrics traced.  A traced run also writes its
spans to ``.perfbench_work/traces/``.  Exits non-zero, printing no result,
when the engine sources are not beside ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.metrics import E2E, LAYER  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SEED = 0


def host() -> dict:
    cores = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"nproc": cores, "ram_gb": ram / 2**30}


def size_for_host(h: dict, tmp: str) -> str:
    """Environment sized for the running host, set before the JVM starts:
    cores from nproc, driver heap well below RAM, and the repository root on
    every Python worker's path."""
    driver_gb = max(1, min(2, int(h["ram_gb"]) // 4))
    os.environ["SPARK_GRAFT_CPUS"] = str(h["nproc"])
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    return f"{driver_gb}g"


def descendants() -> list[int]:
    """PIDs of every live descendant of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def stop_all(timeout: float = 30.0) -> None:
    """Shut the py4j gateway down and wait until the JVM and its Python
    workers have exited, killing what is left after ``timeout``."""
    from pyspark import SparkContext

    pids = descendants()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.stdin:
            proc.stdin.close()
    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            if sig is not None:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if pids:
                time.sleep(0.1)
        if not pids:
            return
        deadline = time.monotonic() + 5.0


def _alive(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def result(run, trace: bool) -> dict:
    if trace:
        vals = dict(run.layer)
        vals["failed_ops_ratio"] = run.failed / max(run.attempted, 1)
        metrics = {k: {"value": vals.get(k, 0.0), "unit": u} for k, u in LAYER.items()}
    else:
        metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E.items()}
    return {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def write_trace(run) -> str:
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{run.workload}-seed{run.seed}.json")
    t0 = min((s["start"] for s in run.spans), default=0.0)
    with open(path, "w") as fh:
        json.dump({
            "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
            "self_time_s": run.self_times,
            "layer": run.layer,
            "spans": [
                {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in run.spans
            ],
        }, fh, indent=1)
    return path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "analytics"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")

    try:
        import __spark_entry__  # noqa: F401 — the engine under test
        import linked_maps_spark  # noqa: F401
        import tools.check_oracles  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine sources not found beside perfbench/: {exc}", file=sys.stderr)
        return 2

    import pyspark

    from perfbench import workloads

    work_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    h = host()
    driver_mem = size_for_host(h, os.path.join(work_dir, "tmp"))
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                        work_dir, h["nproc"])
    try:
        workloads.RUNNERS[args.workload](run)
    finally:
        stop_all()
        shutil.rmtree(work_dir, ignore_errors=True)
    print(f"# host: nproc={h['nproc']} ram={h['ram_gb']:.1f}GB spark={pyspark.__version__} "
          f"driver_mem={driver_mem} local[{h['nproc']}]")
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for line in run.lines:
        print(f"# {line}")
    if args.trace:
        print(f"# trace: {write_trace(run)}")
    shown = run.layer if args.trace else run.e2e
    for k, v in sorted(shown.items()):
        print(f"# {k} = {v:.6g}")
    print(json.dumps(result(run, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
