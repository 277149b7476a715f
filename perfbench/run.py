"""Pipeline benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload bulk_parquet --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Makes its inputs from ``--seed``, runs the
workload's operations back to back for ``--seconds`` (always at least one),
checks every operation's outputs, and prints one JSON object as the last
line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it records the host and
inputs. See ``perfbench/README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "log_analysis_system_spark"


def driver_memory_gb() -> int:
    """A driver heap sized to the machine: 30% of RAM (or of the cgroup
    limit when lower), between 1 and 8 GB."""
    with open("/proc/meminfo") as fh:
        total = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limit = fh.read().strip()
        if limit.isdigit():
            total = min(total, int(limit))
    except OSError:
        pass
    return max(1, min(8, int(total * 0.3 / 2**30)))


def host_setup(work: str) -> dict:
    """Environment for the session and its Python workers; all scratch
    space lives under ``work`` inside the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem = f"{driver_memory_gb()}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package by name from the UDFs they run
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return {"cpus": cpus, "driver_memory": mem}


def source_id() -> dict:
    """The git commit when the checkout is a repository, and always a hash
    of the package sources (an exported source tree has no ``.git``)."""
    commit = None
    try:
        top, _, head = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10).stdout.partition("\n")
        # only this checkout's own repository, not one it happens to sit in
        if os.path.realpath(top) == os.path.realpath(ROOT):
            commit = head.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=None,
                   help="input size override (turns per table or drop), "
                   "for quick checks of the benchmark itself")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, "perfbench", "_work", f"run-{os.getpid()}")
    host = host_setup(work)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import workloads  # noqa: E402  (needs the package on sys.path)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result, info = workloads.run(
            args.workload, seed=args.seed, seconds=args.seconds,
            trace_on=bool(args.trace), work=work, t0=T0, turns=args.turns)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    import pyarrow
    import pyspark

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, **host,
        "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        **source_id(), **info,
    }))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
