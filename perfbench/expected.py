"""Expected outputs of the benchmark's query ops, from the DuckDB oracles.

The engine registers a DuckDB oracle SQL for every query the workloads
run or publish (``registry.ORACLE``). Some of those oracles take minutes, too long
to run inside each benchmark run, so their results are recorded once
per scale factor in ``expected.json`` as a row count and a digest of
the canonical rows (``testing._canon_rows``: the comparator
``testing.compare_to_oracle`` uses). A run then compares the Spark
result's digest with the recorded one. The generated tables depend
only on the scale factor, so the record holds for every seed.

Regenerate after changing the table generator:

    python3 perfbench/expected.py 0.01 0.001
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PATH = os.path.join(HERE, "expected.json")
FUNNEL_STAGES = ("raw", "quality_gated", "exact_deduped", "near_deduped")


def digest(pdf) -> dict:
    from programmers_data_spark.testing import _canon_rows

    rows = _canon_rows(pdf)
    h = hashlib.sha256()
    h.update(json.dumps(sorted(pdf.columns)).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load(sf: float) -> dict:
    with open(PATH) as f:
        return json.load(f)[f"{sf:g}"]


def record(sf: float) -> dict:
    import fixtures
    from workloads import CORPUS_QUERIES

    from programmers_data_spark import registry, testing

    registry.load_all()
    sf_dir = fixtures.ensure_fixtures(os.path.join(ROOT, ".perfbench", "fixtures"), sf)
    con = testing.duckdb_connection(sf_dir)
    out = {"queries": {}}
    # daily_revenue is what elt_daily's versioned publish serves
    for name in ("daily_revenue", *CORPUS_QUERIES):
        out["queries"][name] = digest(con.execute(registry.ORACLE[name]).fetchdf())
        print(name, out["queries"][name], flush=True)
    # curate_corpus publishes the near-dedup survivors with their split,
    # so "published" is the sum of the two split stages
    stages = dict(
        (s, n) for _, s, n in con.execute(
            registry.ORACLE["pipeline_funnel_contract"]).fetchall()
    )
    out["funnel"] = {s: int(stages[s]) for s in FUNNEL_STAGES}
    out["funnel"]["published"] = int(stages["split_train"] + stages["split_val"])
    print("funnel", out["funnel"])
    con.close()
    return out


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    try:
        with open(PATH) as f:
            data = json.load(f)
    except FileNotFoundError:
        data = {}
    for arg in sys.argv[1:]:
        data[f"{float(arg):g}"] = record(float(arg))
    with open(PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
