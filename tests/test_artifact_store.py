"""The one artifact store (storeutil.artifact): changed store code
re-keys the store, and no other module re-implements build-on-miss."""

from __future__ import annotations

import ast
import glob
import os
import re
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "programmers_data_spark")


def _tree(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dp, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dp, f))
            out[os.path.join(dp, f)] = (st.st_size, st.st_mtime_ns)
    return out


def test_edited_store_source_builds_a_new_generation(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """Edit store code, observe a rebuild: the same store call, after a
    change to the package source, publishes into a NEW directory
    instead of serving the old artifact, and leaves the old one
    untouched."""
    from programmers_data_spark import derived_store as ds
    from programmers_data_spark import storeutil
    from programmers_data_spark.memo import clear_memo_caches

    store = tmp_path / "store"
    monkeypatch.setenv(ds.DERIV_STORE_ENV, str(store))
    clear_memo_caches()
    before = sorted(ds.token_store(spark, sf_smoke).collect())
    [old_dir] = glob.glob(str(store / "*" / "tokens"))
    old_files = _tree(old_dir)

    edited = tmp_path / "src"
    shutil.copytree(
        PACKAGE, edited, ignore=shutil.ignore_patterns("__pycache__")
    )
    with open(edited / "derived_store.py", "a", encoding="utf-8") as f:
        f.write("\n# an edited build function\n")
    real = storeutil._source_digest
    assert real(str(edited)) != real()
    monkeypatch.setattr(
        storeutil, "_source_digest", lambda: real(str(edited))
    )

    after = sorted(ds.token_store(spark, sf_smoke).collect())
    dirs = glob.glob(str(store / "*" / "tokens"))
    assert len(dirs) == 2, dirs
    [new_dir] = [d for d in dirs if d != old_dir]
    assert glob.glob(os.path.join(new_dir, "gen-*")), "nothing published"
    assert _tree(old_dir) == old_files
    assert after == before
    clear_memo_caches()


def _package_sources() -> dict[str, str]:
    paths = glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    paths.append(os.path.join(ROOT, "bench.py"))
    out = {}
    for p in paths:
        with open(p, encoding="utf-8") as f:
            out[os.path.relpath(p, ROOT)] = f.read()
    return out


def _reads_on_missing_file(tree: ast.AST) -> bool:
    """A ``try`` that calls read_versioned and handles
    FileNotFoundError: the build-on-miss shape."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Try):
            continue
        catches = any(
            isinstance(n, ast.Name) and n.id == "FileNotFoundError"
            for h in node.handlers if h.type is not None
            for n in ast.walk(h.type)
        )
        reads = any(
            isinstance(n, ast.Call)
            and getattr(n.func, "id", getattr(n.func, "attr", None))
            == "read_versioned"
            for stmt in node.body
            for n in ast.walk(stmt)
        )
        if catches and reads:
            return True
    return False


def test_build_on_miss_lives_only_in_storeutil():
    """Layout guard: the build-on-miss sequence, the fixture identity
    and the store base resolve appear in storeutil.py alone, and no
    store address carries a hand-written version literal."""
    own = os.path.join("programmers_data_spark", "storeutil.py")
    offenders = []
    for rel, src in _package_sources().items():
        if rel == own:
            continue
        if "st_mtime_ns" in src:
            offenders.append(f"{rel}: st_mtime_ns")
        if "store_base(" in src:
            offenders.append(f"{rel}: store_base(")
        if _reads_on_missing_file(ast.parse(src)):
            offenders.append(f"{rel}: read_versioned in except FileNotFoundError")
    assert offenders == []

    from programmers_data_spark import embedding_index
    from programmers_data_spark.queries import media_lifecycle_ops, round12_ops

    fps = [
        embedding_index._algo_fp(),
        round12_ops.IMAGE_SPEC.algo_fp,
        media_lifecycle_ops.AUDIO_SPEC.algo_fp,
        media_lifecycle_ops.VIDEO_SPEC.algo_fp,
    ]
    assert [fp for fp in fps if re.search(r"\|v\d+(\||$)", fp)] == []
