"""One closed-loop client: runs a workload's operations on a fresh
Spark session, checks every output, and prints the metrics.

Started by ``run.py`` in an isolated environment; not meant to be run
by hand. The last line of standard output is the result JSON.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from oracle import Checker  # noqa: E402
from workloads import WORKLOADS, Op  # noqa: E402

MB = layers.MB

# name -> unit of every metric a run prints, untraced and traced
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "shuffle_mb": "MB",
}
PER_LAYER = {
    "session.jvm_start_s": "s",
    "session.warmup_s": "s",
    "trace.pass_s": "s",
    "plans.construct_s": "s",
    "plans.eager_jobs": "count",
    "plans.eager_job_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.plan_nodes": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_idle_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.broadcast_mb": "MB",
    "sources.files_read": "count",
    "sources.scan_mb": "MB",
    "sources.scan_rows": "count",
    "sources.rows_per_result": "rows/row",
    "python.boot_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mb": "MB",
    "python.received_mb": "MB",
    "proc.python_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "operators.self_s": "s",
    "operators.calls": "count",
    "functions.self_s": "s",
    "ml.self_s": "s",
    "ml.calls": "count",
    "streaming.self_s": "s",
    "sources.self_s": "s",
    "sinks.self_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "sinks.written_mb": "MB",
    "sinks.files_written": "count",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def _files_since(roots: list[str], since: float) -> tuple[int, int]:
    """(files, bytes) under ``roots`` modified at or after ``since``."""
    n = size = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                try:
                    st = os.stat(os.path.join(dirpath, fn))
                except OSError:
                    continue
                if st.st_mtime >= since:
                    n += 1
                    size += st.st_size
    return n, size


class Client:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.sink_dir = os.path.join(args.run_dir, "sinks")
        os.makedirs(self.sink_dir, exist_ok=True)

        from multi_crm_cross_sell_spark import session
        from multi_crm_cross_sell_spark.plans import all_queries
        from multi_crm_cross_sell_spark.sources import sinks

        self.queries = all_queries()
        self.sinks = sinks
        self.spans = None
        if self.trace:
            self.spans = layers.Spans()
            self.spans.install()
        t0 = time.perf_counter()
        self.spark = session.get_spark(f"perfbench-{self.workload.name}")
        self.jvm_start_s = time.perf_counter() - t0
        self.ready_s = time.time() - PROCESS_START
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tree = layers.ProcTree()
        self.status = layers.Status(self.spark)
        self.stream = layers.StreamProgress(self.spark) if self.trace else None
        self.checker = Checker(args.root, args.oracle)

    # -- one operation -------------------------------------------------
    def execute(self, op: Op) -> dict:
        """Run one operation; the timed part is the engine's work only."""
        q = self.queries[op.query]
        rec: dict = {"op": op.name}
        jvm0, py0 = self.tree.cpu()
        start_ms = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            df = q.fn(self.spark, self.args.inputs)
            t1 = time.perf_counter()
            mid_ms = time.time() * 1e3
            if op.upsert_keys:
                target = os.path.join(self.sink_dir, op.name)
                self.sinks.merge_upsert(self.spark, target, df, list(op.upsert_keys))
                got = None
            else:
                got = df.toPandas()
            t2 = time.perf_counter()
        except Exception:
            rec["error"] = traceback.format_exc(limit=3)
            return rec
        end_ms = time.time() * 1e3
        jvm1, py1 = self.tree.cpu()
        rec.update(
            latency_s=t2 - t0,
            construct_wall_s=t1 - t0,
            action_s=t2 - t1,
            jvm_cpu_s=jvm1 - jvm0,
            python_cpu_s=py1 - py0,
            window_ms=(start_ms, mid_ms, end_ms),
        )
        if self.trace:
            rec.update(layers.catalyst_phases(df))
            self.layer_record(rec)
        if got is None:
            got = self.spark.read.parquet(os.path.join(self.sink_dir, op.name)).toPandas()
        rec["rows"] = len(got)
        rec["problems"] = self.checker.problems(op.query, got)
        return rec

    def layer_record(self, rec: dict) -> None:
        """Attach the status-store view of the jobs an operation ran."""
        win = rec["window_ms"]
        jobs = [j for j in self.status.new_jobs() if layers.in_window(j.get("submissionTime"), win)]
        eager, eager_s = layers.job_seconds(jobs, win[0], win[1])
        rec["plans.eager_jobs"] = eager
        rec["plans.eager_job_s"] = eager_s
        rec["plans.construct_s"] = max(rec["construct_wall_s"] - eager_s, 0.0)
        rec["exec.jobs"] = len(jobs)
        rec.update(layers.stage_totals(self.status.stages(jobs)))
        execs = [e for e in self.status.new_executions() if layers.in_window(e[0], win)]
        rec.update(layers.sql_totals(execs))

    # -- a pass ---------------------------------------------------------
    def run_pass(self) -> list[dict]:
        return [self.execute(op) for op in self.workload.ops]

    def pass_totals(self, recs: list[dict], since: float) -> dict[str, float]:
        ok = [r for r in recs if "latency_s" in r]
        t: dict[str, float] = defaultdict(float)
        for r in ok:
            for k, v in r.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    t[k] += v
        if not self.trace:
            wins = [r["window_ms"] for r in ok]
            jobs = [
                j for j in self.status.new_jobs()
                if any(layers.in_window(j.get("submissionTime"), w) for w in wins)
            ]
            t.update(layers.stage_totals(self.status.stages(jobs)))
        else:
            t.update(self.stream.take())
            t.update(self.spans.take())
            t["sinks.files_written"], t["sinks.written_b"] = _files_since(
                [self.sink_dir, os.environ["TMPDIR"]], since
            )
        t["pass_s"] = t["trace.pass_s"] = sum(r["latency_s"] for r in ok)
        t["cpu_s"] = t["jvm_cpu_s"] + t["python_cpu_s"]
        t["proc.jvm_cpu_s"], t["proc.python_cpu_s"] = t["jvm_cpu_s"], t["python_cpu_s"]
        t["exec.action_s"] = t["action_s"]
        t["exec.core_idle_s"] = (
            self.cores * (t["action_s"] + t["plans.eager_job_s"]) - t["exec.task_run_s"]
        )
        t["sources.rows_per_result"] = t["sources.scan_rows"] / t["rows"] if t["rows"] else 0.0
        for k in [k for k in t if k.endswith("_b")]:
            t[k[:-2] + "_mb"] = t[k] / MB
        return t

    # -- the run --------------------------------------------------------
    def run(self) -> dict:
        warmup_s = 0.0
        if self.workload.warm:
            warm = self.run_pass()
            for r in warm:
                if "error" in r:
                    print(f"warm-up: {r['op']} raised\n{r['error']}", file=sys.stderr)
            self.status.skip()
            if self.trace:
                self.stream.take()
                self.spans.take()
            warmup_s = sum(r.get("latency_s", 0.0) for r in warm)
        # the warm-up's output checks are the benchmark's work, not set-up
        setup_s = self.ready_s + warmup_s

        passes, totals = [], []
        attempted = failed = 0
        steal0 = _steal()
        t_begin = time.perf_counter()
        with layers.RssSampler(self.tree) as rss:
            while True:
                since = time.time()
                recs = self.run_pass()
                totals.append(self.pass_totals(recs, since))
                passes.append(recs)
                print(
                    f"pass {len(passes)}: "
                    + " ".join(f"{r['op']}={r.get('latency_s', float('nan')):.3f}" for r in recs),
                    file=sys.stderr,
                )
                for r in recs:
                    attempted += 1
                    if "error" in r or r["problems"]:
                        failed += 1
                        why = r.get("error") or "; ".join(r["problems"])
                        print(f"FAILED {r['op']}: {why}", file=sys.stderr)
                if time.perf_counter() - t_begin >= self.args.seconds:
                    break
        print("peak memory: jvm %.0f MB, python %.0f MB, %d processes" % rss.peak_parts, file=sys.stderr)
        steal = _steal()
        print(f"cpu steal share while timed: {(steal[0]-steal0[0])/max(steal[1]-steal0[1],1):.3f}", file=sys.stderr)
        by_op = defaultdict(list)
        for recs in passes:
            for r in recs:
                if "latency_s" in r:
                    by_op[r["op"]].append(r["latency_s"])
        lat = [_median(v) for v in by_op.values()]
        med = lambda key: _median([t.get(key, 0.0) for t in totals])  # noqa: E731

        if not self.trace:
            values = {
                "setup_s": setup_s,
                "pass_s": med("pass_s"),
                "query_p50_s": _median(lat),
                "query_p90_s": _p90(lat),
                "cpu_s": med("cpu_s"),
                "peak_rss_mb": rss.peak_mb,
                "shuffle_mb": med("exec.shuffle_write_mb"),
            }
            units = END_TO_END
        else:
            values = {k: med(k) for k in PER_LAYER}
            values["session.jvm_start_s"] = self.jvm_start_s
            values["session.warmup_s"] = warmup_s
            units = PER_LAYER
            self.write_breakdown(passes)
        assert values.keys() == units.keys(), sorted(values.keys() ^ units.keys())
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }

    def write_breakdown(self, passes: list[list[dict]]) -> None:
        from multi_crm_cross_sell_spark.operators import dedup, similarity_search

        import inputs

        counts = inputs.row_counts(self.args.inputs)
        n_docs, n_vecs = counts["documents"], counts["embeddings"]
        branches = {
            "minhash": "large" if n_docs >= dedup.CHECKPOINT_MIN_CORPUS else "small",
            "ivf_assign": similarity_search.adaptive_codebook(n_vecs)[1],
        }
        print(f"scale branches: {json.dumps(branches)} (documents={n_docs}, vectors={n_vecs})")
        out = os.path.join(
            self.args.cache, "traces", f"{self.workload.name}-s{self.args.seed}.json"
        )
        os.makedirs(os.path.dirname(out), exist_ok=True)
        drop = ("window_ms", "problems", "error")
        with open(out, "w") as f:
            json.dump(
                {
                    "workload": self.workload.name,
                    "seed": self.args.seed,
                    "cores": self.cores,
                    "row_counts": counts,
                    "branches": branches,
                    "passes": [
                        [{k: v for k, v in r.items() if k not in drop} for r in recs]
                        for recs in passes
                    ],
                },
                f,
                indent=1,
            )
        print(f"per-query breakdown: {os.path.relpath(out, self.args.root)}")

    def close(self) -> None:
        self.spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--oracle", required=True)
    args = ap.parse_args()
    sys.path.insert(0, args.root)
    client = Client(args)
    try:
        result = client.run()
    finally:
        client.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
