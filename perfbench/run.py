"""The engine's benchmark: one closed-loop client per run.

    python3 perfbench/run.py --workload crm_interactive --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --workload crm_nightly --seed 1 --recompute-oracle

A run builds (or reuses) the seeded inputs and the DuckDB oracle
results for its workload, then starts the client in its own process
with its own ``TMPDIR``, Spark local dir and work dir, all under
``.perfbench/runs/`` in the checkout, and removes them when the client
has ended. ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer ones. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def _driver_memory() -> str:
    """A quarter of the machine's memory, between 1 and 8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(kb // 4 // 1024, 1024), 8192)}m"


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2 :].split()
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _end_group(pgid: int) -> None:
    """Stop every process left in the client's process group and wait
    until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--recompute-oracle", action="store_true",
        help="rebuild the cached oracle results for this workload and seed, then exit",
    )
    args = ap.parse_args()
    t_start = time.time()

    missing = [
        p for p in ("multi_crm_cross_sell_spark/__init__.py", "tools/check.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources not found in {ROOT}: {missing}", file=sys.stderr)
        return 2

    import inputs
    import oracle

    sys.path.insert(0, ROOT)
    from multi_crm_cross_sell_spark.plans import all_queries

    w = WORKLOADS[args.workload]
    registry = all_queries()
    sf_dir = inputs.build(CACHE, args.seed, w.inputs)
    sqls = {op.query: registry[op.query].oracle for op in w.ops}
    oracle_dir = oracle.ensure(
        ROOT, CACHE, args.seed, w.inputs, sf_dir, sqls, recompute=args.recompute_oracle
    )
    if args.recompute_oracle:
        print(f"oracle results for {len(sqls)} queries in {os.path.relpath(oracle_dir, ROOT)}")
        return 0

    run_dir = os.path.join(CACHE, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    env = dict(os.environ)
    memory = _driver_memory()
    env.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=memory,
        # a fixed heap, touched at start: the JVM's resident set is then
        # the heap plus what the work adds outside it (generated code,
        # metaspace, Arrow buffers), not how far G1 has spread its regions
        SPARK_GRAFT_DRIVER_JAVA_OPTIONS=(
            env.get("SPARK_GRAFT_DRIVER_JAVA_OPTIONS", "")
            + f" -Xms{memory} -XX:+AlwaysPreTouch"
            + f" -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
        ).strip(),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "client.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", ROOT, "--cache", CACHE, "--run-dir", run_dir,
        "--inputs", sf_dir, "--oracle", oracle_dir,
    ]
    sys.stdout.flush()
    child = subprocess.Popen(cmd, env=env, cwd=dirs["work"], start_new_session=True)
    try:
        code = child.wait(timeout=max(RUN_LIMIT_S - (time.time() - t_start), 1))
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        code = 3
    finally:
        _end_group(child.pid)
        child.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code


if __name__ == "__main__":
    raise SystemExit(main())
