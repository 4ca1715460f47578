#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload, one process.

    python3 perfbench/run.py --workload elt_daily --seed 1 --seconds 5 --trace 0

Run from the repository root. The process generates its input tables
(once per checkout, under ``.perfbench/``), starts one Spark session
(``local[<cores>]``), runs one untimed warm-up pass of the workload's
ops, then timed passes until ``--seconds`` have elapsed and at least
``MIN_PASSES`` have run, checks the outputs the passes left behind, and
prints a report line followed by the result line:

    {"correct": …, "attempted": …, "failed": …, "metrics": {…}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` passes alternate untraced/traced and the metrics are the
per-layer numbers of the traced passes, and every span is written to
``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/``; the per-run directory is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import expected as recorded  # noqa: E402
import fixtures  # noqa: E402
from tracing import (  # noqa: E402
    JOB_METRICS, RssSampler, Tracer, cpu_times, steal_pct, stop_descendants,
    tree_cpu_s, union_length,
)
from workloads import OP_NAMES, STORE_ENVS, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB",
    "write_amp": "ratio",
}
LAYER_UNITS = {
    "session.get_spark_s": "s", "registry.load_all_s": "s",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "catalyst.plan_s": "s", "exec.wall_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.python_nodes": "count",
    "exec.driver_residual_s": "s",
    "store.build_s": "s", "store.builds": "count", "store.hits": "count",
    "store.bytes": "bytes",
    "publish.write_s": "s", "publish.bytes_written": "bytes",
    "publish.files_written": "count",
    "quality.check_s": "s", "plans.build_summary_s": "s",
    "pipelines.backfill_s": "s", "pipelines.retries": "count",
    "pipelines.curate_corpus_s": "s", "streaming.merge_s": "s",
    "trace.unspanned_s": "s", "trace.overhead_s": "s",
}
# child spans of a query op, in order
QUERY_SPANS = ("queries.construct", "catalyst.plan", "exec.write")
# layer spans of call ops → their per-layer metric
CALL_LAYERS = {
    "publish.write": "publish.write_s", "quality.check": "quality.check_s",
    "plans.build_summary": "plans.build_summary_s",
    "pipelines.backfill": "pipelines.backfill_s",
    "pipelines.curate_corpus": "pipelines.curate_corpus_s",
    "streaming.merge": "streaming.merge_s",
}
DRIVER_MEM = "2g"
# A pass takes 9-17 s on 4 cores, so a time window alone would leave one
# noisy sample per run; two passes per run halve the variance of each
# run's medians and keep the number of passes the same on both sides
# of a comparison.
MIN_PASSES = 2


def op_metric(name: str) -> str:
    return "op." + name.replace(":", ".") + ".wall_s"


def per_layer_units() -> dict[str, str]:
    return {**LAYER_UNITS, **{op_metric(n): "s" for names in OP_NAMES.values()
                              for n in names}}


# ------------------------------------------------------------ helpers


def cores() -> int:
    return len(os.sched_getaffinity(0))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond): the highest nearest-rank
    percentile that leaves min(10, n // 4) samples above it."""
    v = sorted(values)
    beyond = min(10, len(v) // 4)
    idx = len(v) - 1 - beyond
    return v[idx], 100.0 * (idx + 1) / len(v), beyond


def file_sizes(roots: list[str]) -> dict[str, tuple[int, int]]:
    out = {}
    for root in roots:
        for dp, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dp, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(path: str) -> int:
    return sum(s for s, _ in file_sizes([path]).values())


def write_amp(roots: list[str]) -> float:
    """Bytes on disk under the published tables ÷ bytes of their
    current generation. A versioned table (``_CURRENT`` pointer)
    counts its pointed-to generation as current; a swap-published
    table counts its live directory; history, claims and staging or
    trash leftovers count only on disk."""
    on_disk = current = 0
    for root in roots:
        if not os.path.isdir(root):
            continue
        on_disk += dir_bytes(root)
        for dp, dirs, files in os.walk(root):
            if "_CURRENT" in files:
                with open(os.path.join(dp, "_CURRENT")) as f:
                    current += dir_bytes(os.path.join(dp, f.read().strip()))
                dirs[:] = []
            elif "_SUCCESS" in files and not any(
                m in os.path.basename(dp) for m in (".staging-", ".trash-")
            ):
                current += dir_bytes(dp)
                dirs[:] = []
    return on_disk / current if current else 1.0


def new_tables(before: dict, after: dict) -> list[str]:
    return [p for p in after if p.endswith("/_CURRENT") and p not in before]


def changed(before: dict, after: dict) -> list[str]:
    return [p for p, v in after.items() if before.get(p) != v]


def tmp_graft_entries() -> set[str]:
    try:
        return {n for n in os.listdir("/tmp") if n.startswith("spark_graft_")}
    except OSError:
        return set()


# ---------------------------------------------------------- op runners


@dataclass
class Pass:
    ops: list[dict]  # one record per op execution
    traced: bool
    cpu_s: float  # CPU seconds of the whole process tree

    @property
    def wall(self) -> float:
        return sum(r["wall"] for r in self.ops)


class Runner:
    """Runs ops untraced (wall time only) or traced (spans, jobs,
    file-system deltas), collecting one record per op execution."""

    def __init__(self, spark, workload, tracer=None):
        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.n = 0

    def run_pass(self, rng: random.Random, traced: bool) -> Pass:
        self.workload.begin_pass()
        # a full GC between passes, as the engine's bench does between
        # queries, so no pass pays for the previous one's garbage
        self.spark.sparkContext._jvm.System.gc()
        cpu0 = tree_cpu_s(os.getpid())
        ops = [self.run_op(op, traced) for op in self.workload.ops(rng)]
        return Pass(ops, traced, tree_cpu_s(os.getpid()) - cpu0)

    def run_op(self, op, traced: bool) -> dict:
        self.n += 1
        rec = {"name": op.name, "op_id": f"{self.n}:{op.name}",
               "error": None, "traced": traced}
        if traced:
            return self._traced(op, rec)
        t0 = time.perf_counter()
        try:
            out = op.fn()
            if op.kind == "query":
                out.write.format("noop").mode("overwrite").save()
        except Exception as e:  # an op that raises is a failed op
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["wall"] = time.perf_counter() - t0
        return rec

    def _traced(self, op, rec: dict) -> dict:
        tr, op_id = self.tracer, rec["op_id"]
        pub_roots = self.workload.published_roots
        store_roots = self.workload.store_roots()
        fs0 = file_sizes(pub_roots + store_roots)
        df = out = None
        jobs: list[dict] = []
        # jobs of the warm-up, untraced passes and earlier ops are not
        # this op's
        tr.skip_jobs()
        with tr.span("op", op_id) as top:
            try:
                if op.kind == "query":
                    with tr.span("queries.construct", op_id):
                        df = op.fn()
                    with tr.span("catalyst.plan", op_id):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.write", op_id):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    with tr.span(op.layer, op_id):
                        out = op.fn()
            except Exception as e:
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
        try:
            jobs = tr.new_jobs()
        except Exception as e:  # e.g. stage data already evicted
            rec["error"] = rec["error"] or (
                f"job metrics unreadable: {type(e).__name__}: {e}"[:500])
        rec["wall"] = top["end"] - top["start"]
        children = [s for s in tr.spans
                    if s["op_id"] == op_id and s["parent"] == "op"]
        rec["spans"] = {}
        for s in children:
            rec["spans"][s["name"]] = (
                rec["spans"].get(s["name"], 0.0) + s["end"] - s["start"]
            )
        rec["unspanned"] = rec["wall"] - sum(rec["spans"].values())
        rec["want_spans"] = sorted(
            QUERY_SPANS if op.kind == "query" else (op.layer,))
        rec["python_nodes"] = tr.python_nodes(df) if df is not None else 0
        rec["retries"] = sum(r.attempts - 1 for r in out) if (
            op.layer == "pipelines.backfill" and isinstance(out, list)) else 0
        rec["jobs"] = jobs
        # jobs fired on other threads (streaming micro-batches) carry
        # their own group rather than one of the op's spans
        rec["other_group_jobs"] = sum(
            1 for j in jobs if not (j["group"] or "").startswith(op_id + "|"))
        lo, hi = tr.epoch(top["start"]), tr.epoch(top["end"])
        # a job submitted outside the op's span was attributed to the
        # wrong op (job times have millisecond resolution)
        rec["stray_jobs"] = [
            j["job_id"] for j in jobs
            if j["submit"] is None or not lo - 0.005 <= j["submit"] <= hi + 0.005]
        busy = [(max(j["submit"], lo), min(j["complete"], hi)) for j in jobs
                if j["submit"] is not None and j["complete"] is not None
                and j["complete"] > lo and j["submit"] < hi]
        rec["driver_residual"] = rec["wall"] - union_length(busy)
        fs1 = file_sizes(pub_roots + store_roots)
        in_store = tuple(r + os.sep for r in store_roots)
        pub = [p for p in changed(fs0, fs1) if not p.startswith(in_store)]
        rec["publish_files"] = len(pub)
        rec["publish_bytes"] = sum(fs1[p][0] for p in pub)
        rec["store_builds"] = len([p for p in new_tables(fs0, fs1)
                                   if p.startswith(in_store)])
        rec["store_bytes"] = sum(fs1[p][0] for p in changed(fs0, fs1)
                                 if p.startswith(in_store))
        rec["uses_stores"] = bool(store_roots)
        return rec


def layer_sums(records: list[dict]) -> dict[str, float]:
    """Per-layer totals of one traced pass."""
    m = {k: 0.0 for k in LAYER_UNITS}
    for r in records:
        sp = r["spans"]
        m["queries.construct_s"] += sp.get("queries.construct", 0.0)
        m["catalyst.plan_s"] += sp.get("catalyst.plan", 0.0)
        m["exec.wall_s"] += sp.get("exec.write", 0.0)
        for layer, metric in CALL_LAYERS.items():
            m[metric] += sp.get(layer, 0.0)
        for j in r["jobs"]:
            if (j["group"] or "").endswith("|queries.construct"):
                m["queries.construct_jobs"] += 1
                continue
            for k in JOB_METRICS:
                m["exec." + k] += j[k]
        m["exec.python_nodes"] += r["python_nodes"]
        m["exec.driver_residual_s"] += r["driver_residual"]
        if r["store_builds"]:
            m["store.build_s"] += r["wall"]
            m["store.builds"] += r["store_builds"]
        elif r["uses_stores"]:
            m["store.hits"] += 1
        m["store.bytes"] += r["store_bytes"]
        m["publish.bytes_written"] += r["publish_bytes"]
        m["publish.files_written"] += r["publish_files"]
        m["pipelines.retries"] += r["retries"]
        m["trace.unspanned_s"] += r["unspanned"]
        m[op_metric(r["name"])] = r["wall"]
    return m


# --------------------------------------------------------------- main


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="scale factor of the generated tables")
    ap.add_argument("--expected", help="JSON file of expected outputs "
                    "(default: the oracle digests in expected.json)")
    return ap.parse_args(argv)


def hermetic_env(run_dir: str) -> dict[str, str]:
    """Point every location the engine and Spark write to inside the
    run directory, pin the core count, and make the engine importable
    by Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        **{e: os.path.join(run_dir, "stores", e) for e in STORE_ENVS},
    }
    os.environ.update(env)
    return env


def load_expected(args) -> dict:
    if args.expected is None:
        return recorded.load(args.sf)
    with open(args.expected) as f:
        return json.load(f)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    """Run one workload and print its report and result lines."""
    args = parse_args(argv)
    # SIGTERM unwinds like an error, so the JVM is stopped and waited
    # for and the run directory is removed
    signal.signal(signal.SIGTERM, _terminate)
    if importlib.util.find_spec("programmers_data_spark") is None:
        print("perfbench: the engine package programmers_data_spark is not "
              f"importable from {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    tmp_before = tmp_graft_entries()
    try:
        env = hermetic_env(run_dir)
        sf_dir = fixtures.ensure_fixtures(os.path.join(state, "fixtures"), args.sf)
        with RssSampler(interval=0.5) as rss:
            report, metrics, attempted, failed = session_run(
                args, sf_dir, run_dir, env, load_expected(args))
        leaked = sorted(tmp_graft_entries() - tmp_before)
    finally:
        # the JVM outlives spark.stop(), and a run cut short (SIGTERM
        # while the JVM starts) has no session to stop: end the JVM and
        # its workers before removing their files
        stop_descendants(os.getpid())
        shutil.rmtree(run_dir, ignore_errors=True)
    if not args.trace:
        metrics["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
    report["hermetic_violations"] = leaked
    report["failed_op_frac"] = failed / attempted
    report["phase_s"]["process"] = time.perf_counter() - T_START
    correct = failed == 0 and not leaked and report["reconciled"]
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def session_run(args, sf_dir: str, run_dir: str, env: dict, expected: dict):
    """Start the session, load the registry, run the workload, stop."""
    t = time.perf_counter()
    from programmers_data_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    })
    phases = {"get_spark": time.perf_counter() - t}
    try:
        t = time.perf_counter()
        from programmers_data_spark import registry

        registry.load_all()
        phases["load_all"] = time.perf_counter() - t
        workload = WORKLOADS[args.workload](
            spark, sf_dir, os.path.join(run_dir, "work"), args.seed, expected)
        return run_workload(args, spark, workload, phases)
    finally:
        from py4j.protocol import Py4JError

        try:
            spark.stop()
        except Py4JError:  # a call cut by SIGTERM leaves the gateway unusable
            pass


def run_workload(args, spark, workload, phases: dict):
    import pyspark

    rng = random.Random(args.seed)
    tracer = Tracer(spark) if args.trace else None
    runner = Runner(spark, workload, tracer)

    t = time.perf_counter()
    warm = runner.run_pass(rng, traced=False)
    phases["warmup"] = time.perf_counter() - t

    # timed passes until the window has elapsed, and at least
    # MIN_PASSES of them; a traced run alternates traced and untraced
    passes: list[Pass] = []
    cpu0, t0 = cpu_times(), time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
        traced = bool(args.trace) and len(passes) % 2 == 0
        passes.append(runner.run_pass(rng, traced))
    steal = steal_pct(cpu0, cpu_times())
    phases["timed"] = time.perf_counter() - t0

    t = time.perf_counter()
    try:
        problems = workload.verify()
    except Exception as e:  # a check that cannot run fails every op
        problems = {r["name"]: [f"verification raised {type(e).__name__}: {e}"]
                    for r in warm.ops}
    phases["verify"] = time.perf_counter() - t
    records = warm.ops + [r for p in passes for r in p.ops]
    bad = {n for n, msgs in problems.items() if msgs}
    failed = sum(1 for r in records if r["error"] or r["name"] in bad)

    n_cores = int(os.environ["SPARK_GRAFT_CPUS"])
    report = {
        "workload": args.workload,
        "key": {
            "sf": args.sf, "cores": n_cores, "master": f"local[{n_cores}]",
            "seed": args.seed, "driver_memory": DRIVER_MEM,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "steal_pct_timed": steal,
        },
        "passes": len(passes),
        "phase_s": phases,
        "warmup_op_wall_s": {r["name"]: r["wall"] for r in warm.ops},
        "errors": {r["op_id"]: r["error"] for r in records if r["error"]},
        "check_problems": {n: m for n, m in problems.items() if m},
        "reconciled": True,
    }
    plain = [p for p in passes if not p.traced]
    if args.trace:
        metrics = layer_metrics(args, report, tracer, passes, phases)
    else:
        metrics = end_to_end_metrics(report, workload, plain, phases)
    return report, metrics, len(records), failed


def end_to_end_metrics(report: dict, workload, plain: list, phases: dict):
    # Op latencies are reported, not gated: a run has only 10-16 of
    # them, and their median and tail move 12-23% (IQR over median)
    # between runs of the same code, against 5-9% for pass_s.
    lat = [r["wall"] for p in plain for r in p.ops]
    tail_v, tail_pct, beyond = tail(lat)
    report.update(op_p50_s=statistics.median(lat), op_tail_s=tail_v,
                  op_tail_pct=tail_pct, op_tail_beyond=beyond,
                  op_samples=len(lat), pass_walls=[p.wall for p in plain],
                  pass_cpus=[p.cpu_s for p in plain],
                  op_walls={n: [r["wall"] for p in plain for r in p.ops
                                if r["name"] == n]
                            for n in sorted({r["name"] for r in plain[0].ops})})
    values = {
        "setup_s": phases["get_spark"] + phases["load_all"] + phases["warmup"],
        "pass_s": statistics.median(p.wall for p in plain),
        "pass_cpu_s": statistics.median(p.cpu_s for p in plain),
        "write_amp": write_amp(workload.published_roots + workload.store_roots()),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def layer_metrics(args, report: dict, tracer, passes: list, phases: dict):
    plain = [p for p in passes if not p.traced]
    traced = [p for p in passes if p.traced]
    units = per_layer_units()
    sums = [layer_sums(p.ops) for p in traced]
    layers = {k: statistics.median(s.get(k, 0.0) for s in sums) for k in units}
    layers["session.get_spark_s"] = phases["get_spark"]
    layers["registry.load_all_s"] = phases["load_all"]
    layers["trace.overhead_s"] = (
        statistics.median(p.wall for p in traced)
        - statistics.median(p.wall for p in plain))
    spans_path = os.path.join(
        ROOT, ".perfbench", "traces",
        f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
    tracer.dump(spans_path)
    recs = [r for p in traced for r in p.ops]
    # every op that ran to the end has exactly the child spans of its
    # kind, and every job it took was submitted while it ran
    report["span_mismatches"] = {
        r["op_id"]: sorted(r["spans"]) for r in recs
        if not r["error"] and sorted(r["spans"]) != r["want_spans"]}
    report["stray_jobs"] = {r["op_id"]: r["stray_jobs"] for r in recs
                            if r["stray_jobs"]}
    report["reconciled"] = not (report["span_mismatches"]
                                or report["stray_jobs"])
    report["jobs_per_traced_pass"] = [
        sum(len(r["jobs"]) for r in p.ops) for p in traced]
    report["spans_file"] = os.path.relpath(spans_path, ROOT)
    report["reconciliation"] = {
        r["op_id"]: {"spans": {k: round(v, 6) for k, v in r["spans"].items()},
                     "unspanned": round(r["unspanned"], 6),
                     "wall": round(r["wall"], 6), "jobs": len(r["jobs"]),
                     "other_group_jobs": r["other_group_jobs"]}
        for r in recs
    }
    return {k: {"value": v, "unit": units[k]} for k, v in layers.items()}


if __name__ == "__main__":
    sys.exit(main())
