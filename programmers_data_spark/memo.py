"""Memo-cache contract (see SCALE.md 'Memo-cache contract').

Several queries share expensive derived tables (MinHash signatures,
exact near-dup pairs, SemDeDup verdicts, TF-IDF postings, BPE merge
tables, tokenized projections). Each is memoized in a MODULE-LEVEL
dict whose name ends in ``_CACHE``, keyed by
``(spark.sparkContext.applicationId, sf_dir)`` so a stale entry can
never leak across sessions or scale factors.
Published artifact stores share one such dict,
``storeutil._ARTIFACT_CACHE``.

The convention is load-bearing: ``bench.py``'s per-query ``_reset``
clears every such dict via :func:`clear_memo_caches` so each timed
query pays its own full cost. A shared-helper memo that does NOT
follow the convention (different suffix, instance attribute, closure)
silently escapes bench isolation — the exact failure mode the r5/r6
driver advice flagged. tests/test_round7.py enforces it by importing
every module in the package, planting sentinels in every ``*_CACHE``
dict, and asserting this sweep empties them all.
"""

from __future__ import annotations

import sys


def clear_memo_caches() -> int:
    """Clear every module-level ``*_CACHE`` dict in any imported
    ``programmers_data_spark`` module; returns how many dicts were
    cleared. Safe to call without an active SparkSession (it only
    drops driver-side references — pair with
    ``spark.catalog.clearCache()`` to release executor storage)."""
    prefix = __name__.rsplit(".", 1)[0]
    cleared = 0
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if name != prefix and not name.startswith(prefix + "."):
            continue
        for attr in dir(mod):
            if attr.endswith("_CACHE") and isinstance(
                getattr(mod, attr), dict
            ):
                getattr(mod, attr).clear()
                cleared += 1
    return cleared
