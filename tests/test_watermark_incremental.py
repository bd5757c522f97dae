import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from cdk_datalake_ingest_spark.operators.incremental import (
    between_filter,
    filter_expression,
    get_limits_for_filter,
    lookback_period_cutoff,
    range_slices,
    slice_predicates,
)
from cdk_datalake_ingest_spark.operators.watermark import (
    WatermarkStore,
    clamp_future,
    max_watermark,
)
from cdk_datalake_ingest_spark.sources.jdbc import (
    DIALECTS,
    build_full_query,
    build_incremental_query,
    render_date_literal,
)
from cdk_datalake_ingest_spark.specs import TableSpec

NOW = dt.datetime(2026, 8, 13, 12, 0, 0)


def test_clamp_future():
    assert clamp_future("2026-01-01 00:00:00", NOW) == "2026-01-01 00:00:00"
    assert clamp_future("2027-01-01 00:00:00", NOW) == "2026-08-12 23:59:59"


def test_max_watermark_greatest_and_defaults(spark):
    df = spark.createDataFrame(
        [
            Row(a=dt.datetime(2024, 1, 5), b=None),
            Row(a=dt.datetime(2024, 2, 1), b=None),
        ],
        "a timestamp, b timestamp",
    )
    assert max_watermark(df, ["a"], now=NOW) == "2024-02-01 00:00:00"
    # b all NULL -> default 2000-01-01; greatest-of-two still picks a
    assert max_watermark(df, ["a", "b"], now=NOW) == "2024-02-01 00:00:00"


def test_watermark_store_advance(tmp_path):
    ws = WatermarkStore(tmp_path / "wm.json")
    assert ws.get("t") == ("2000-01-01 00:00:00", "2000-01-01 00:00:00")
    ws.advance("t", "2024-01-01 00:00:00")
    assert ws.get("t") == ("2000-01-01 00:00:00", "2024-01-01 00:00:00")
    ws.advance("t", "2024-02-01 00:00:00")
    # I1: START <- previous END
    assert ws.get("t") == ("2024-01-01 00:00:00", "2024-02-01 00:00:00")


@settings(max_examples=50, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=16),
    hours=st.integers(min_value=1, max_value=10_000),
)
def test_range_slices_cover_without_overlap(n, hours):
    start = dt.datetime(2024, 1, 1)
    end = start + dt.timedelta(hours=hours)
    slices = range_slices(start, end, n)
    assert slices[0].start == start and slices[-1].end == end
    for a, b in zip(slices, slices[1:]):
        assert a.end == b.start  # half-open: no boundary duplicates


def test_slice_predicates_shape():
    preds = slice_predicates(
        "upd", dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2), 2
    )
    assert preds[0] == (
        "upd >= '2024-01-01 00:00:00' AND upd < '2024-01-01 12:00:00'"
    )
    assert preds[1].endswith("upd <= '2024-01-02 00:00:00'")


def test_get_limits_aje_encodings():
    lo, hi = get_limits_for_filter(-2, "aje_period", now=NOW)
    assert (lo, hi) == ("202606", "202608")
    lo, hi = get_limits_for_filter(-2, "aje_date", now=NOW)
    # magic day numbers: month-snapped, 1900-01-01 epoch + 693596
    base = dt.datetime(1900, 1, 1)
    assert lo == str((dt.datetime(2026, 6, 1) - base).days + 693596)
    assert hi == str((dt.datetime(2026, 8, 31) - base).days + 693596)


def test_lookback_period_cutoff():
    assert lookback_period_cutoff(-2, now=NOW) == 202606


def test_date_windows_ignore_wall_clock(year_later_clock):
    test_clamp_future()
    test_get_limits_aje_encodings()
    test_lookback_period_cutoff()


def test_between_filter_and_expression(spark):
    df = spark.createDataFrame(
        [Row(a=5, b=1), Row(a=15, b=2), Row(a=None, b=3), Row(a=25, b=4)]
    )
    got = {r.b for r in df.filter(between_filter(["a"], 10, 20)).collect()}
    assert got == {2}
    pred = filter_expression("b >= {0}", "a is not null", start=2)
    got = {r.b for r in df.filter(pred).collect()}
    assert got == {2, 4}


def test_filter_expression_neutral_element(spark):
    df = spark.createDataFrame([Row(a=1)])
    assert df.filter(filter_expression("", "")).count() == 1


def test_render_date_literal_dialects():
    v = "2026-01-02 03:04:05.123456"
    assert render_date_literal(v, "smalldatetime") == (
        "CONVERT(smalldatetime, '2026-01-02 03:04:05.123456', 120)"
    )
    assert render_date_literal(v, "DATE") == (
        "TO_DATE('2026-01-02 03:04:05', 'YYYY-MM-DD HH24:MI:SS')"
    )
    assert render_date_literal(v, "TIMESTAMP(6)").startswith("TO_TIMESTAMP(")
    assert render_date_literal(v, "SQL_DATETIME").startswith("CONVERT(DATETIME")
    assert render_date_literal("1970-01-02 00:00:00", "BIGINT").isdigit()


def _spec(**kw):
    base = dict(
        target_table_name="T",
        source_schema="SYSADM",
        source_table="LINEITEM",
        query_by_glue="select * from SYSADM.LINEITEM",
    )
    base.update(kw)
    return TableSpec.from_dict(base)


def test_build_incremental_query_single_and_two_column():
    q = build_incremental_query(
        _spec(filter_column="upd"), "2026-01-01 00:00:00", "2026-02-01 00:00:00"
    )
    assert (
        q == "select * from SYSADM.LINEITEM WHERE upd is not null and "
        "upd BETWEEN 2026-01-01 00:00:00 AND 2026-02-01 00:00:00"
    )
    q2 = build_incremental_query(
        _spec(filter_column="c1,c2", filter_type="DATE"), "2026-01-01 00:00:00", "2026-02-01 00:00:00"
    )
    assert "(c1 IS NOT NULL and c1 BETWEEN TO_DATE(" in q2
    assert "OR (c2 IS NOT NULL and c2 BETWEEN" in q2


def test_build_full_query_projection_join_filter():
    q = build_full_query(
        _spec(
            columns="a, b",
            id_column="a",
            join_expr="inner join SYSADM.DIM d on d.a = LINEITEM.a",
            filter_exp="b >= {0}",
            filter_column="a is not null",
        ),
        start=5,
    )
    assert q == (
        "select a, b, a as id from SYSADM.LINEITEM "
        "inner join SYSADM.DIM d on d.a = LINEITEM.a "
        "WHERE (b >= 5) AND (a is not null)"
    )


def test_dialect_urls():
    assert DIALECTS["oracle"].url("h", 1521, "db") == "jdbc:oracle:thin:@h:1521:db"
    assert DIALECTS["mysql"].url("h", 3306, "db") == "jdbc:mysql://h:3306/db"
    assert (
        DIALECTS["mssql"].url("h", 1433, "db")
        == "jdbc:sqlserver://h:1433;databaseName=db"
    )


def test_max_watermark_requires_columns(spark):
    import pytest

    from cdk_datalake_ingest_spark.operators.watermark import max_watermark

    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="at least one column"):
        max_watermark(df, [])
