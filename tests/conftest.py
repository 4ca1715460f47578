from __future__ import annotations

import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from programmers_data_spark.session import get_spark  # noqa: E402
from programmers_data_spark.storeutil import STORE_ENVS  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session", autouse=True)
def session_tmp(tmp_path_factory):
    """Pin every store base and the tempdir to one session directory,
    so no result depends on artifacts an earlier process left in /tmp
    and the suite leaves none there."""
    root = tmp_path_factory.mktemp("graft")
    pinned = {env: str(root / "stores") for env in STORE_ENVS}
    pinned["TMPDIR"] = str(root / "tmp")
    os.makedirs(pinned["TMPDIR"])
    saved = {k: os.environ.get(k) for k in pinned}
    saved_tempdir = tempfile.tempdir
    os.environ.update(pinned)
    tempfile.tempdir = pinned["TMPDIR"]
    yield root
    tempfile.tempdir = saved_tempdir
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


@pytest.fixture()
def store_address(monkeypatch):
    """``store_address(store_fn, *args)`` -> the table dir that store
    call resolves to, without reading or building anything."""
    from programmers_data_spark import storeutil

    real = storeutil._address

    class Resolved(Exception):
        pass

    def stop(*args, **kwargs):
        raise Resolved(real(*args, **kwargs))

    monkeypatch.setattr(storeutil, "_address", stop)

    def resolve(store, *args):
        with pytest.raises(Resolved) as hit:
            store(*args)
        return hit.value.args[0]

    return resolve


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pds-tests", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
