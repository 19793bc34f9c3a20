import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datafusion_parallelism_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_oracle():
    return SF_DIR_ORACLE


@contextmanager
def with_conf(spark, pairs):
    """Set session confs for the block; restore (or unset) them on exit."""
    saved = {k: spark.conf.get(k, None) for k in pairs}
    try:
        for k, v in pairs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def arrow_frame(spark, rows, **types):
    """DataFrame of the tuples ``rows``, one column per keyword (name =
    pyarrow type, in tuple order), built from an Arrow table.  A list of
    Python rows would instead pass each input partition through a Python
    worker before the query runs: ~1.1 s per call at 4 cores (~7 s at 32)
    against ~0.45 s from Arrow, which dominated the property tests."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({c: pa.array([r[i] for r in rows], t) for i, (c, t) in enumerate(types.items())})
    )


def spy_calls(monkeypatch, module, name):
    """Wrap ``module.name`` for the test so each call's return value is
    recorded; returns the (growing) list of them."""
    calls = []
    real = getattr(module, name)

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        calls.append(out)
        return out

    monkeypatch.setattr(module, name, spy)
    return calls
