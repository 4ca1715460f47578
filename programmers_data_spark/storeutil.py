"""Published artifact stores — the one build-on-miss implementation
behind every shared intermediate table (near-dup pair sets, media and
embedding indexes, derived token/shingle tables, cluster states).

A store is one call to :func:`artifact`. Consumers read the published
parquet instead of re-deriving it, so a composed query pays its
marginal work and the build is charged once per corpus version (the
reference's CTAS -> check -> swap build, through the K8 validated
swap in ``publish.publish_versioned``).

Addressing. The store directory is content-addressed: the ``(path,
size, mtime_ns)`` of every input fixture, the store name, the live
algorithm parameters and a digest of this package's own source. A
regenerated fixture, a changed constant or edited build code
therefore lands in a fresh directory and can never serve a stale
artifact; an old generation is left untouched for whoever still
addresses it.

Location. Each store declares a base-dir env var (``STORE_ENVS``) that
an operator or a benchmark may point anywhere; that location is
trusted as given. Unset, every store shares one per-uid base under the
tempdir, ``spark_graft_store_u<uid>``, created 0700. A pre-existing
default base the current user does not own, or that others can write,
is refused: on a multi-user host a predictable path under the
world-writable tempdir could otherwise be pre-planted with an artifact
consumers would serve unverified.

Memo. Read handles live in ``_ARTIFACT_CACHE`` keyed by
``(applicationId, resolved table dir)``, so a new session, a new
fixture or a re-pointed env var misses naturally; ``memo.
clear_memo_caches`` (bench's ``_reset``) empties it. An EMPTY build
(legal on degenerate fixtures) is returned unpublished and unmemoized
— ``publish_versioned`` rejects empty tables and recomputing nothing
costs nothing.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import stat
import tempfile
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# Base-dir override env vars, one per store family. bench.py, the test
# suite and perfbench point each at a fresh directory for cold-store
# accounting.
STORE_ENVS = (
    "SPARK_GRAFT_PAIR_STORE",
    "SPARK_GRAFT_IMG_STORE",
    "SPARK_GRAFT_AUDIO_STORE",
    "SPARK_GRAFT_VIDEO_STORE",
    "SPARK_GRAFT_EMB_STORE",
    "SPARK_GRAFT_DERIV_STORE",
)

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))

# read handles per (applicationId, resolved table dir)
_ARTIFACT_CACHE: dict[tuple[str, str], DataFrame] = {}


def store_base(env_var: str, name: str) -> str:
    """Resolve the base directory for a named shared-artifact store.

    ``env_var`` overrides unconditionally (operator-owned location).
    Otherwise default to ``$TMPDIR/<name>_u<uid>``, created 0700;
    refuse a pre-existing default the current user does not own or
    that other users can write, instead of silently trusting planted
    content.
    """
    override = os.environ.get(env_var)
    if override:
        return override
    base = os.path.join(
        tempfile.gettempdir(), f"{name}_u{os.getuid()}"
    )
    try:
        os.makedirs(base, mode=0o700)
    except FileExistsError:
        st = os.stat(base)
        if st.st_uid != os.getuid():
            raise PermissionError(
                f"shared-artifact store {base} is owned by uid "
                f"{st.st_uid}, not the current user — refusing to "
                f"serve its content; set ${env_var} to a trusted path"
            )
        if st.st_mode & (stat.S_IWGRP | stat.S_IWOTH):
            raise PermissionError(
                f"shared-artifact store {base} is group/other-"
                f"writable — refusing to serve its content; "
                f"chmod 0700 it or set ${env_var}"
            )
    return base


@functools.cache
def _source_digest(root: str = _PACKAGE_DIR) -> str:
    """md5 over every ``.py`` file under ``root`` (relative path and
    bytes), computed once per process: any edit to build code, a kernel
    or a constant re-keys every store."""
    h = hashlib.md5()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _address(name: str, env: str, inputs: list[str], params: Any) -> str:
    if env not in STORE_ENVS:
        raise ValueError(f"{env} is not a declared store env var (STORE_ENVS)")
    ident = []
    for f in map(os.path.abspath, inputs):
        try:
            st = os.stat(f)
            ident.append(f"{f}|{st.st_size}|{st.st_mtime_ns}")
        except OSError:
            ident.append(f"{f}|missing")
    key = "|".join([*ident, name, repr(params), _source_digest()])
    fp = hashlib.md5(key.encode()).hexdigest()[:16]
    return os.path.join(store_base(env, "spark_graft_store"), fp, name)


def _bucketed_io(name: str, path: str, bucketed: tuple[str, tuple[str, ...], int]):
    """Read/write pair for a store published as an external bucketed
    table: written once by ``sinks.save_bucketed`` (hash-bucketed and
    sorted by the join key, so probes plan with no Exchange on the
    store side); a session whose catalog forgot the table re-registers
    the files already on disk with DDL instead of rewriting them."""
    columns, by, n_buckets = bucketed
    # table identity binds to the FULL path: two store bases in one
    # session must not share a catalog entry
    table = f"{name}_" + hashlib.md5(path.encode()).hexdigest()[:12]

    def read(spark, path):
        if not spark.catalog.tableExists(table):
            if not (os.path.isdir(path) and any(
                f.endswith(".parquet") for f in os.listdir(path)
            )):
                raise FileNotFoundError(f"no bucketed table in {path}")
            spark.sql(
                f"CREATE TABLE {table} ({columns}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(by)}) INTO {n_buckets} BUCKETS "
                f"LOCATION '{path}'"
            )
        return spark.table(table)

    def write(df, path):
        from .sinks import save_bucketed

        save_bucketed(df, table, path, bucket_by=list(by),
                      n_buckets=n_buckets, sort_by=list(by))

    return read, write


def artifact(
    spark: SparkSession,
    name: str,
    *,
    env: str,
    inputs: list[str],
    params: Any,
    build: Callable[[], DataFrame],
    bucketed: tuple[str, tuple[str, ...], int] | None = None,
) -> DataFrame:
    """Return the published store ``name``, building it on a miss.

    ``inputs`` are the fixture files the artifact derives from,
    ``params`` the live algorithm parameters (any value with a stable
    ``repr``), ``build`` a zero-argument function returning the
    DataFrame to publish, and ``env`` the store's base-dir override
    (one of ``STORE_ENVS``). ``bucketed=(columns_ddl, bucket_by, n_buckets)``
    publishes an external bucketed table instead of a versioned one.
    """
    path = _address(name, env, inputs, params)
    key = (spark.sparkContext.applicationId, path)
    stored = _ARTIFACT_CACHE.get(key)
    if stored is not None:
        return stored
    if bucketed is None:
        from .publish import publish_versioned as write
        from .publish import read_versioned as read
    else:
        read, write = _bucketed_io(name, path, bucketed)
    try:
        stored = read(spark, path)
    except FileNotFoundError:
        computed = build()
        if computed.limit(1).count() == 0:  # bounded 1-value scalar
            return computed
        write(computed, path)
        stored = read(spark, path)
    _ARTIFACT_CACHE[key] = stored
    return stored
