"""UDF + error-path tests (reference: test_query_results.py:1405-1566)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import run_query_case


def test_python_udf(trips_groupby):
    from vinum_spark import register_python

    register_python("cube_py", lambda x: x ** 3)
    run_query_case(
        trips_groupby,
        "SELECT cube_py(id) from t ORDER BY cube_py(id) DESC",
        {"cube_py": (512, 343, 216, 125, 64, 27, 8, 1)},
    )


def test_numpy_udf(trips_groupby):
    from vinum_spark import register_numpy

    register_numpy("cube_np", lambda x: np.power(x, 3))
    run_query_case(
        trips_groupby,
        "SELECT cube_np(id) from t ORDER BY cube_np(id) DESC",
        {"cube_np": (512, 343, 216, 125, 64, 27, 8, 1)},
    )


def test_udf_update_replaces(trips_groupby):
    from vinum_spark import register_python

    register_python("udf_upd", lambda x: x ** 2)
    register_python("udf_upd", lambda x: x ** 3)
    run_query_case(
        trips_groupby,
        "select udf_upd(id) as pow from t order by pow",
        {"pow": (1, 8, 27, 64, 125, 216, 343, 512)},
    )


def test_udf_case_insensitive(trips_groupby):
    from vinum_spark import register_numpy

    register_numpy("MyFn", lambda x: x * 2)
    pdf = trips_groupby.sql_pd("select MYFN(id) as d from t order by d limit 2")
    assert pdf["d"].tolist() == [2.0, 4.0]


def test_reducing_udf_in_group_context_raises(trips_groupby):
    from vinum_spark import register_numpy

    register_numpy("corr2", lambda x, y: np.corrcoef(x, y)[0, 1])
    with pytest.raises(Exception):
        trips_groupby.sql(
            "SELECT city_to, corr2(tip, tax) from t GROUP BY city_to "
            "ORDER BY corr2(tip, tax) DESC"
        ).to_pandas()


def test_missing_column_raises(trips):
    with pytest.raises(Exception):
        trips.sql("select bla from t").to_pandas()


def test_missing_udf_raises(trips):
    with pytest.raises(Exception):
        trips.sql("select udf_missing_xyz(vendor_id) from t").to_pandas()


def test_mixed_agg_nonagg_raises(trips):
    with pytest.raises(Exception):
        trips.sql("select city_from, count(total>100) from t").to_pandas()


def test_non_groupby_column_in_select_raises(trips_groupby):
    with pytest.raises(Exception):
        trips_groupby.sql(
            "select city_to, city_from, count(*) from t group by city_from"
        ).to_pandas()


def test_np_namespace_autoregisters(trips):
    pdf = trips.sql_pd("select np.floor(total) as f from t order by f")
    assert pdf["f"].tolist() == [2.0, 33.0, 53.0, 143.0]


@pytest.mark.parametrize("function", ["date", "datetime", "now"])
def test_datetime_now(trips, function):
    # reference test_query_results.py:1573-1583: 'now' literal resolves to
    # the current clock within tolerance
    sql = f"select {function}('now')" if function != "now" else "select now()"
    pdf = trips.sql_pd(sql)
    assert len(pdf) == 1
    import pandas as pd

    actual = pd.Timestamp(pdf.iloc[0, 0])
    expected = pd.Timestamp.utcnow().tz_localize(None)
    if function == "date":  # day resolution (reference uses unit 'D')
        assert actual.date() == expected.date()
    else:
        assert abs((expected - actual).total_seconds()) < 300


def test_np_scalar_tail_literal_ok(trips):
    """np.round(x, 2): a literal tail argument resolves as a scalar per
    the reference's Literal-arg contract (vinum/core/base.py)."""
    totals = trips.sql_pd("select total from t")["total"].tolist()
    pdf = trips.sql_pd("select np.round(total / 7, 2) as r from t order by r")
    expected = sorted(float(np.round(v / 7, 2)) for v in totals)
    assert pdf["r"].tolist() == pytest.approx(expected)


def test_np_scalar_tail_varying_column_raises_actionably(trips):
    """DOCUMENTED RUNTIME CONTRACT (functions/udf.py): a scalar-tail
    argument fed a VARYING column raises mid-query with an actionable
    message. Plan-time rejection is infeasible (a pandas UDF cannot see
    the expression tree), so the error surfaces at execution — and only
    the error behavior depends on batch boundaries; values are never
    silently wrong (the first row's tail value is never broadcast over a
    varying batch)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError)) as exc_info:
        # id varies 1..8 within the single test batch -> constancy
        # check fails -> actionable TypeError from the wrapper
        trips.sql_pd("select np.round(total, id) as r from t")
    assert "SQL literals" in str(exc_info.value)


def test_udf_null_passthrough_matches_reference(spark):
    """Null-handling parity with the reference's bare ``np.vectorize``
    wrap (vinum/core/udf.py:134 — no masking, no special-casing):
    float nulls arrive as NaN inside the vectorized fn; string nulls
    arrive as Python None objects, so ``str(None)`` yields the literal
    'None' (the same quirk the `||` concat operator pins)."""
    import numpy as np

    from vinum_spark.api.table import Table
    from vinum_spark.functions.udf import register_numpy, register_python

    t = Table.from_pydict({"x": [1.0, None, 3.0], "s": ["a", None, "c"]}, spark=spark)
    register_numpy("nan_flag_", lambda x: np.isnan(x), "boolean")
    assert t.sql_pd("select nan_flag_(x) f from t").f.tolist() == [False, True, False]
    register_python("str_of_", lambda s: str(s), "string")
    assert t.sql_pd("select str_of_(s) r from t").r.tolist() == ["a", "None", "c"]


def test_numpy_agg_registers_without_deprecation_warning(trips_groupby):
    """The grouped-agg wrapper's type hints let Spark infer GROUPED_AGG;
    the deprecated PandasUDFType argument printed a UserWarning."""
    import warnings

    from vinum_spark import register_numpy_agg

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        register_numpy_agg("spread_nowarn", lambda x: float(np.max(x) - np.min(x)))
        pdf = trips_groupby.sql_pd(
            "SELECT vendor_id, spread_nowarn(total) AS s FROM t "
            "GROUP BY vendor_id ORDER BY vendor_id"
        )
    assert pdf["s"].tolist() == pytest.approx([30.97, 130.0, 0.0])
