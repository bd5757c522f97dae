from __future__ import annotations

import datetime as dt
import sys
import types
from pathlib import Path

import pytest
from dateutil.relativedelta import relativedelta

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cdk_datalake_ingest_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


class _YearLater(dt.datetime):
    @classmethod
    def now(cls, tz=None):
        return super().now(tz) + relativedelta(years=1)


@pytest.fixture
def year_later_clock(monkeypatch):
    """Move the wall clock the date-window operators read one year on, so
    a test that passes only because today falls in its fixture's window
    fails under it."""
    from cdk_datalake_ingest_spark.operators import incremental, watermark

    shim = types.SimpleNamespace(
        **{k: getattr(dt, k) for k in dir(dt) if not k.startswith("_")}
    )
    shim.datetime = _YearLater
    for mod in (incremental, watermark):
        monkeypatch.setattr(mod, "dt", shim)
    real = incremental.lookback_period_cutoff(0, now=dt.datetime.now())
    assert incremental.lookback_period_cutoff(0) == real + 100
