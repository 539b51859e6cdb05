"""Every queries() entry must match its DuckDB oracle at sf0.001 (fast) —
the same check the driver runs at sf0.01."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_check import check


def _names():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    return sorted(k for k in qs if k in oracles)


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, name):
    check(spark, name, SF_SMOKE)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    n = df.count()
    assert n > 0
    assert df.columns[0] == "conv_id"


def test_fit_predict_bit_exact_incl_sign_zero(spark):
    """The driver's parity gate hashes VALUES, so allclose is not enough:
    slope/intercept/pred must agree with the oracle at the BIT level —
    including IEEE -0.0 vs +0.0 (the round-2 failure: DuckDB's round keeps
    the sign of a tiny negative slope; both sides now normalize with
    `+ 0`)."""
    import numpy as np

    import __spark_entry__ as e
    from tests.oracle_check import run_oracle

    got = (
        e.queries()["asof_fit_predict"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    want = (
        run_oracle(e.oracle_sql()["asof_fit_predict"], SF_SMOKE)
        .sort_values("probe_id")
        .reset_index(drop=True)
    )
    for c in ("slope", "intercept", "pred"):
        g = got[c].to_numpy(dtype="float64")
        w = want[c].to_numpy(dtype="float64")
        nan_both = np.isnan(g) & np.isnan(w)
        neq = (g.view("int64") != w.view("int64")) & ~nan_both
        assert not neq.any(), f"{c}: {int(neq.sum())} bit-level mismatches"
        assert not np.signbit(g[~np.isnan(g)]).any() or (g[np.signbit(g) & ~np.isnan(g)] != 0).all(), (
            f"{c}: -0.0 present in Spark output"
        )


def test_all_queries_have_oracles():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    missing = [k for k in os_ if k not in qs]
    assert not missing, f"oracle without query: {missing}"
