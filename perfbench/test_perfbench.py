"""The benchmark's own tests (slow: each run starts a Spark session).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# the spans each workload's traced pass must produce
SPAN_NAMES = {
    "elt_daily": {"op", "pipelines.backfill", "plans.build_summary",
                  "publish.write", "quality.check", "streaming.merge"},
    "corpus_curation": {"op", "store.build", "pipelines.curate_corpus",
                        "queries.construct", "catalyst.plan", "exec.write"},
}


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace),
         "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_one_pass_smoke_prints_every_metric_with_its_unit(workload, trace):
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, report
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if trace:
        with open(os.path.join(ROOT, report["spans_file"])) as f:
            spans = [json.loads(line) for line in f]
        assert {s["name"] for s in spans} == SPAN_NAMES[workload]
        assert report["span_mismatches"] == {} and report["stray_jobs"] == {}
        for parts in report["reconciliation"].values():
            spanned = sum(parts["spans"].values())
            assert spanned + parts["unspanned"] == pytest.approx(parts["wall"],
                                                                  abs=1e-5)
        # only micro-batch jobs, fired on the stream's own thread, carry
        # a group other than the op's spans
        assert {op.split(":", 1)[1] for op, parts
                in report["reconciliation"].items()
                if parts["other_group_jobs"]} <= {"stream:latest_event_per_user"}
        # the one traced pass's exec.jobs holds only the jobs its ops
        # fired, none from the warm-up or the untraced pass
        built = result["metrics"]["queries.construct_jobs"]["value"]
        assert (result["metrics"]["exec.jobs"]["value"] + built
                == report["jobs_per_traced_pass"][0])
    else:
        from workloads import OP_NAMES

        assert set(report["op_walls"]) == set(OP_NAMES[workload])
        assert report["key"]["cores"] == len(os.sched_getaffinity(0))
        assert report["failed_op_frac"] == 0


def test_wrong_expected_output_counts_as_failed_op(tmp_path):
    import expected

    wrong = expected.load(0.001)
    wrong["queries"]["daily_revenue"]["rows"] += 1
    path = tmp_path / "wrong.json"
    path.write_text(json.dumps(wrong))
    report, result = _run("elt_daily", 0, "--expected", str(path))
    # the warm-up pass and each timed pass published once
    assert result["failed"] == 1 + report["passes"]
    assert result["correct"] is False
    assert list(report["check_problems"]) == ["publish:daily_revenue"]
    assert report["failed_op_frac"] == result["failed"] / result["attempted"]


def test_tail_leaves_samples_beyond():
    import run

    value, pct, beyond = run.tail([float(i) for i in range(1, 101)])
    assert (value, pct, beyond) == (90.0, 90.0, 10)
    assert run.tail([3.0]) == (3.0, 100.0, 0)


def test_union_length_counts_overlap_once():
    from tracing import union_length

    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([]) == 0


def test_fixtures_depend_only_on_scale():
    import fixtures

    a, b = fixtures.build_tables(0.001), fixtures.build_tables(0.001)
    assert all(a[t].equals(b[t]) for t in fixtures.TABLES)
    assert {t: a[t].num_rows for t in a} == fixtures.row_counts(0.001)


def test_elt_dates_always_have_orders():
    """The K7 copy refuses an empty day, so no seed may pick one; at
    sf0.001 more than half of all days have no orders."""
    import duckdb

    import fixtures
    from workloads import elt_payloads

    sf_dir = fixtures.ensure_fixtures(
        os.path.join(ROOT, ".perfbench", "fixtures"), 0.001)
    days = {d for (d,) in duckdb.sql(
        f"SELECT DISTINCT o_orderdate::DATE FROM '{sf_dir}/orders.parquet'"
    ).fetchall()}
    for seed in range(100):
        assert set(elt_payloads(seed, sf_dir)["dates"]) <= days
