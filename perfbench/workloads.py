"""The benchmark's closed-loop workloads.

A workload is a list of named ops run as one *pass* (one daily batch),
plus the untimed correctness check of the outputs the pass leaves
behind. Each op is either

- a ``query`` op: build a DataFrame through a public engine function
  (``construct``), then execute it through the noop sink, or
- a ``call`` op: one call into a public pipeline-level function
  (``pipelines``, ``plans``, ``publish``, ``quality``, ``streaming``,
  or an artifact-store builder), spanned under its ``layer`` name.

The seed fixes the op order of every pass (a permutation within
dependency groups) and the ``elt_daily`` payloads.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb

CORPUS_QUERIES = ("dedup_minhash", "embedding_neardup_clusters_incremental")
# Every op name, per workload; the per-layer metrics declare an
# ``op.<name>.wall_s`` for each.
OP_NAMES = {
    "elt_daily": (
        "backfill:update_symbol", "backfill:weather", "backfill:table_copy",
        "summary:mau_summary", "summary:channel_summary",
        "publish:daily_revenue", "quality:daily_revenue",
        "stream:latest_event_per_user",
    ),
    "corpus_curation": (
        "store:text_pairs", "store:embedding_clusters",
        "pipelines.curate_corpus", *CORPUS_QUERIES,
    ),
}
# Store-location env vars the corpus workload re-points at fresh
# directories at the start of every pass.
STORE_ENVS = (
    "SPARK_GRAFT_PAIR_STORE", "SPARK_GRAFT_JSONL_STORE",
    "SPARK_GRAFT_IMG_STORE", "SPARK_GRAFT_AUDIO_STORE",
    "SPARK_GRAFT_VIDEO_STORE", "SPARK_GRAFT_EMB_STORE",
    "SPARK_GRAFT_DERIV_STORE",
)
ELT_DATES = 1  # dated runs per backfill


@dataclass
class Op:
    name: str
    kind: str  # "query" or "call"
    layer: str  # span name of the call (call ops) or "queries.construct"
    fn: Callable[[], Any]


@dataclass
class Workload:
    ops: Callable[[random.Random], list[Op]]  # one pass, seeded order
    verify: Callable[[], dict[str, list[str]]]  # op name -> problems
    begin_pass: Callable[[], None] = lambda: None  # untimed
    # directories whose published tables write_amp is measured over
    published_roots: list[str] = field(default_factory=list)
    store_roots: Callable[[], list[str]] = lambda: []


def _shuffled(rng: random.Random, items: list) -> list:
    items = list(items)
    rng.shuffle(items)
    return items


def _reset_caches(spark) -> None:
    from programmers_data_spark.memo import clear_memo_caches

    spark.catalog.clearCache()
    clear_memo_caches()


def _digest_problems(spark, name: str, sf_dir: str, want: dict) -> list[str]:
    """Compare a query's result with its recorded oracle digest."""
    from expected import digest

    from programmers_data_spark import registry

    got = digest(registry.QUERIES[name](spark, sf_dir).toPandas())
    return [] if got == want else [f"result {got} != oracle {want}"]


# ----------------------------------------------------------- elt daily


def elt_payloads(seed: int, sf_dir: str) -> dict[str, Any]:
    """Seeded dated payloads: the run dates, a market-history frame
    per date (a 5-day re-pull window, so consecutive dates overlap)
    and an 8-day forecast document per date."""
    import pandas as pd

    rng = random.Random(seed)
    con = duckdb.connect()
    order_days = {d for (d,) in con.execute(
        "SELECT DISTINCT o_orderdate::DATE FROM "
        f"read_parquet('{os.path.join(sf_dir, 'orders.parquet')}')"
    ).fetchall()}
    con.close()
    # runs start on a day from which every run date has orders, since
    # the K7 copy refuses to publish an empty day
    starts = sorted(
        d for d in order_days
        if all(d + dt.timedelta(days=i) in order_days for i in range(ELT_DATES))
    )
    start = rng.choice(starts)
    dates = [start + dt.timedelta(days=i) for i in range(ELT_DATES)]
    history, forecast = {}, {}
    for d in dates:
        days = [d - dt.timedelta(days=k) for k in range(4, -1, -1)]
        px = [round(rng.uniform(50, 150), 2) for _ in days]
        history[d] = pd.DataFrame({
            "date": [x.isoformat() for x in days],
            "open": px,
            "high": [p + round(rng.uniform(0, 5), 2) for p in px],
            "low": [p - round(rng.uniform(0, 5), 2) for p in px],
            "close": [p + round(rng.uniform(-3, 3), 2) for p in px],
            "volume": [rng.randrange(10**5, 10**7) for _ in days],
        })
        epoch = dt.datetime(d.year, d.month, d.day, 12, tzinfo=dt.timezone.utc)
        forecast[d] = {"daily": [
            {
                "dt": int(epoch.timestamp()) + 86_400 * k,
                "temp": {
                    "day": round(rng.uniform(-5, 30), 1),
                    "min": round(rng.uniform(-10, 10), 1),
                    "max": round(rng.uniform(10, 35), 1),
                },
            }
            for k in range(8)
        ]}
    return {"dates": dates, "history": history, "forecast": forecast}


def elt_daily(spark, sf_dir: str, work: str, seed: int,
              expected: dict) -> Workload:
    """The reference's daily DAGs: K6/K7 backfills, two
    CTAS → check → swap summary builds, a versioned publish and its
    quality gate, and a streaming keep-latest merge. Targets persist
    across passes (re-running a date is idempotent), so every pass
    re-does the same daily batch against the same table state."""
    from programmers_data_spark import (
        pipelines, plans, publish, quality, registry, streaming,
    )
    from programmers_data_spark.catalog import load_table

    # MAU (a distinct-count rollup) and channel attribution (a window);
    # NPS_SUMMARY repeats MAU's plan shape and is left out to keep a run
    # inside the time budget
    SUMMARIES = (plans.MAU_SUMMARY, plans.CHANNEL_SUMMARY)
    p = elt_payloads(seed, sf_dir)
    start, end = p["dates"][0], p["dates"][-1]
    t = os.path.join(work, "tables")
    paths = {
        "symbol": os.path.join(t, "stock_info"),
        "weather": os.path.join(t, "weather_forecast"),
        "orders": os.path.join(t, "orders_copy"),
        "summary": os.path.join(t, "summary"),
        "versioned": os.path.join(t, "daily_revenue_v"),
        "stream": os.path.join(t, "latest_event_per_user"),
    }
    checkpoints = os.path.join(work, "checkpoints")
    n_ck = [0]

    def stream_merge() -> None:
        n_ck[0] += 1
        streaming.stream_incremental_keep_latest(
            streaming.read_events_stream(spark, sf_dir),
            paths["stream"], keys=["user_id"], order_by="ts",
            tie_break="event_id",
            checkpoint=os.path.join(checkpoints, str(n_ck[0])),
        )

    def backfill(job: Callable[[dt.date], Any]) -> Callable[[], Any]:
        return lambda: pipelines.backfill(job, start, end, retries=1)

    checks = [
        quality.CountCheck("daily_revenue>=1", 1, "ge"),
        quality.UniqueKeyCheck(("ship_date",)),
    ]
    units = [
        [Op("backfill:update_symbol", "call", "pipelines.backfill", backfill(
            lambda d: pipelines.update_symbol(
                spark, p["history"][d], paths["symbol"]
            )))],
        [Op("backfill:weather", "call", "pipelines.backfill", backfill(
            lambda d: pipelines.weather(
                spark, p["forecast"][d], paths["weather"]
            )))],
        [Op("backfill:table_copy", "call", "pipelines.backfill", backfill(
            lambda d: pipelines.table_copy(
                spark, load_table(spark, sf_dir, "orders"), paths["orders"],
                upsert_keys=["o_orderkey"], run_date=d,
                date_col="o_orderdate",
            )))],
        *[
            [Op(f"summary:{cfg.table}", "call", "plans.build_summary",
                lambda cfg=cfg: plans.build_summary_table(
                    spark, sf_dir, cfg, paths["summary"]
                ))]
            for cfg in SUMMARIES
        ],
        [
            Op("publish:daily_revenue", "call", "publish.write",
               lambda: publish.publish_versioned(
                   registry.QUERIES["daily_revenue"](spark, sf_dir),
                   paths["versioned"], keep_generations=2,
               )),
            Op("quality:daily_revenue", "call", "quality.check",
               lambda: quality.run_df_checks(
                   publish.read_versioned(spark, paths["versioned"]), checks
               )),
        ],
        [Op("stream:latest_event_per_user", "call", "streaming.merge",
            stream_merge)],
    ]

    return Workload(
        lambda rng: [op for unit in _shuffled(rng, units) for op in unit],
        lambda: verify_elt(sf_dir, p, paths, expected),
        published_roots=[t],
    )


def verify_elt(sf_dir: str, p: dict, paths: dict,
               expected: dict) -> dict[str, list[str]]:
    """Tables are unique on their keys and hold the rows the seeded
    payloads imply; the versioned publish serves the oracle's
    daily_revenue and keeps at most two generations. Everything is
    read back with DuckDB, not Spark."""
    from expected import digest

    con = duckdb.connect()

    def q(sql: str):
        return con.execute(sql).fetchone()

    def scan(path: str) -> str:
        return f"read_parquet('{path}/*.parquet')"

    orders, events = (os.path.join(sf_dir, f"{n}.parquet")
                      for n in ("orders", "events"))
    days = ", ".join(f"DATE '{d.isoformat()}'" for d in p["dates"])
    (want_orders,) = q(f"SELECT count(*) FROM '{orders}' "
                       f"WHERE o_orderdate::DATE IN ({days})")
    event_days, users = q(f"SELECT count(DISTINCT ts::DATE), "
                          f"count(DISTINCT user_id) FROM '{events}'")
    try:
        (latest,) = q(f"SELECT count(*) FROM (SELECT user_id, max(ts) AS ts "
                      f"FROM '{events}' GROUP BY 1) "
                      f"JOIN {scan(paths['stream'])} USING (user_id, ts)")
    except duckdb.Error:  # reported below as the table's own problem
        latest = users
    symbol_days = {d for h in p["history"].values() for d in h["date"]}
    forecast_days = {
        dt.datetime.fromtimestamp(x["dt"], dt.timezone.utc).date()
        for f in p["forecast"].values() for x in f["daily"]
    }
    summary = paths["summary"]
    want = {
        "backfill:update_symbol": (paths["symbol"], "date", len(symbol_days)),
        "backfill:weather": (paths["weather"], "date", len(forecast_days)),
        "backfill:table_copy": (paths["orders"], "o_orderkey", want_orders),
        "summary:mau_summary": (f"{summary}/mau_summary", "date", event_days),
        "summary:channel_summary": (
            f"{summary}/channel_summary", "user_id", users),
        "stream:latest_event_per_user": (paths["stream"], "user_id", users),
    }
    out: dict[str, list[str]] = {}
    for op, (path, key, rows) in want.items():
        try:
            got, keys = q(f"SELECT count(*), count(DISTINCT {key}) "
                          f"FROM {scan(path)}")
        except duckdb.Error as e:  # e.g. the op never wrote its table
            out[op] = [f"cannot read {path}: {e}"]
            continue
        out[op] = [msg for bad, msg in (
            (got != keys, f"{got - keys} duplicate {key} keys"),
            (got != rows, f"{got} rows, payloads imply {rows}"),
        ) if bad]
    if latest != users:
        out["stream:latest_event_per_user"].append(
            f"{users - latest} users without their latest event")

    vdir = paths["versioned"]
    try:
        with open(os.path.join(vdir, "_CURRENT")) as f:
            current = digest(con.execute(
                f"SELECT * FROM {scan(os.path.join(vdir, f.read().strip()))}"
            ).fetchdf())
        gens = [g for g in os.listdir(vdir)
                if g.startswith("gen-") and not g.endswith(".claim")]
    except (OSError, duckdb.Error) as e:
        current, gens = f"unreadable: {e}", []
    con.close()
    want_rev = expected["queries"]["daily_revenue"]
    out["publish:daily_revenue"] = [msg for bad, msg in (
        (current != want_rev, f"current generation {current} != oracle {want_rev}"),
        (len(gens) > 2, f"{len(gens)} generations kept, want <= 2"),
    ) if bad]
    out["quality:daily_revenue"] = []
    return out


# ----------------------------------------------------- corpus curation


def corpus_curation(spark, sf_dir: str, work: str, seed: int,
                    expected: dict) -> Workload:
    """Corpus curation from cold artifact stores: every pass points
    each store env var at a fresh empty directory, builds the shared
    stores as named ``store:<name>`` ops, then runs the consumers."""
    from programmers_data_spark import embedding_index, pipelines, registry
    from programmers_data_spark.queries.dedup_ops import verified_pair_store

    stores_dir = os.path.join(work, "stores")
    curated = os.path.join(work, "tables", "curated_corpus")
    n_pass = [0]
    funnels: list[dict[str, int]] = []

    def begin_pass() -> None:
        shutil.rmtree(stores_dir, ignore_errors=True)
        n_pass[0] += 1
        for env in STORE_ENVS:
            os.environ[env] = os.path.join(stores_dir, str(n_pass[0]), env)
            os.makedirs(os.environ[env])
        _reset_caches(spark)

    def curate() -> dict[str, int]:
        funnel = pipelines.curate_corpus(spark, sf_dir, curated)
        funnels.append(funnel)
        return funnel

    stores = [
        Op("store:text_pairs", "call", "store.build",
           lambda: verified_pair_store(spark, sf_dir)),
        Op("store:embedding_clusters", "call", "store.build",
           lambda: embedding_index.cluster_store(spark, sf_dir)),
    ]
    consumers = [
        Op("pipelines.curate_corpus", "call", "pipelines.curate_corpus", curate),
        *[
            Op(n, "query", "queries.construct",
               lambda n=n: registry.QUERIES[n](spark, sf_dir))
            for n in CORPUS_QUERIES
        ],
    ]

    def verify() -> dict[str, list[str]]:
        want = expected["funnel"]
        bad = [f for f in funnels if f != want]
        out = {"pipelines.curate_corpus": [
            f"funnel {bad[0]} != expected {want}"] if bad else []}
        for n in CORPUS_QUERIES:
            try:
                out[n] = _digest_problems(spark, n, sf_dir, expected["queries"][n])
            except Exception as e:  # one query's failure fails only its op
                out[n] = [f"verification raised {type(e).__name__}: {e}"]
        return out

    return Workload(
        lambda rng: _shuffled(rng, stores) + _shuffled(rng, consumers),
        verify,
        begin_pass=begin_pass,
        published_roots=[os.path.dirname(curated)],
        store_roots=lambda: [os.path.join(stores_dir, str(n_pass[0]))],
    )


WORKLOADS = {
    "elt_daily": elt_daily,
    "corpus_curation": corpus_curation,
}
