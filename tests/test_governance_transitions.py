"""Governance audit (k-anonymity / l-diversity), Markov transition
matrix, per-key OLS trend, and mutual information."""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.operators.drift import mutual_information
from fs2_data_spark.operators.encoding import trend_slope
from fs2_data_spark.operators.governance import k_anonymity_audit
from fs2_data_spark.operators.sessionize import session_transitions


def _ts(m):
    return dt.datetime(2024, 1, 1 + m // 1440, (m // 60) % 24, m % 60, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, "
              "ts timestamp, value double")


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity
# ---------------------------------------------------------------------------

def test_k_anonymity_flags_small_and_uniform_classes(spark):
    rows = ([(i, i, "a", _ts(0), 1.0) for i in range(6)]          # n=6, 6 users
            + [(10 + i, 77, "b", _ts(0), 1.0) for i in range(3)]  # n=3, 1 user
            + [(20 + i, i, "c", _ts(0), 1.0) for i in range(5)])  # n=5, 5 users
    audit = {r.event_type: r for r in k_anonymity_audit(
        _events(spark, rows), quasi=["event_type"], sensitive="user_id",
        k=5, ell=2).collect()}
    assert not audit["a"].k_violation and not audit["a"].l_violation
    assert audit["b"].k_violation and audit["b"].l_violation
    assert audit["b"].n == 3 and audit["b"].n_sensitive == 1
    assert not audit["c"].k_violation and not audit["c"].l_violation


# ---------------------------------------------------------------------------
# Markov transitions
# ---------------------------------------------------------------------------

def test_transitions_hand_counted_and_rows_normalized(spark):
    rows = [(1, 1, "a", _ts(0), 0.0), (2, 1, "b", _ts(1), 0.0),
            (3, 1, "a", _ts(2), 0.0), (4, 1, "b", _ts(3), 0.0),
            (5, 1, "c", _ts(4), 0.0),
            (6, 2, "a", _ts(0), 0.0), (7, 2, "b", _ts(1), 0.0)]
    got = {(r.from_state, r.to_state): r for r in
           session_transitions(_events(spark, rows)).collect()}
    assert got[("a", "b")].cnt == 3
    assert got[("b", "a")].cnt == 1
    assert got[("b", "c")].cnt == 1
    assert ("c", "a") not in got  # c is last, key 2's first row has no prev
    assert got[("a", "b")].p == 1.0
    assert got[("b", "a")].p == 0.5 and got[("b", "c")].p == 0.5


def test_transitions_never_cross_keys(spark):
    # key 1 ends with "x", key 2 starts with "y": (x, y) must NOT appear
    rows = [(1, 1, "w", _ts(0), 0.0), (2, 1, "x", _ts(1), 0.0),
            (3, 2, "y", _ts(2), 0.0), (4, 2, "z", _ts(3), 0.0)]
    got = {(r.from_state, r.to_state) for r in
           session_transitions(_events(spark, rows)).collect()}
    assert got == {("w", "x"), ("y", "z")}


# ---------------------------------------------------------------------------
# OLS trend
# ---------------------------------------------------------------------------

def test_trend_slope_exact_line(spark):
    # value = 2*x + 10 where x is seconds from the key's first event
    rows = [(i, 1, "a", _ts(i), 10.0 + 2.0 * (i * 60)) for i in range(5)]
    r = trend_slope(_events(spark, rows)).collect()[0]
    assert r.n == 5
    assert r.slope == pytest.approx(2.0, abs=1e-10)
    assert r.intercept == pytest.approx(10.0, abs=1e-6)


def test_trend_slope_degenerate_null(spark):
    rows = [(1, 1, "a", _ts(0), 5.0),                       # single point
            (2, 2, "a", _ts(0), 5.0), (3, 2, "a", _ts(0), 9.0)]  # zero x-var
    got = {r.user_id: r for r in trend_slope(_events(spark, rows)).collect()}
    assert got[1].slope is None and got[1].intercept is None
    assert got[2].slope is None


def test_trend_slope_matches_numpy(spark):
    import numpy as np
    vals = [3.0, 7.0, 4.0, 9.0, 12.0, 5.0, 8.0]
    rows = [(i, 1, "a", _ts(i * 3), v) for i, v in enumerate(vals)]
    r = trend_slope(_events(spark, rows)).collect()[0]
    x = np.array([i * 180.0 for i in range(len(vals))])
    slope, intercept = np.polyfit(x, np.array(vals), 1)
    assert r.slope == pytest.approx(slope, abs=1e-9)
    assert r.intercept == pytest.approx(intercept, abs=1e-6)


# ---------------------------------------------------------------------------
# Mutual information
# ---------------------------------------------------------------------------

def test_mi_independent_near_zero_dependent_positive(spark):
    # independent: value bin unrelated to type
    ind = [(i, 1, "t" + str(i % 2), _ts(i), float((i // 2) % 10))
           for i in range(200)]
    got = mutual_information(_events(spark, ind), cat="event_type").collect()
    assert got and abs(got[0].mi) < 0.01
    # dependent: type determines the bin exactly -> MI = H(type) = ln 2
    dep = [(i, 1, "lo" if i % 2 == 0 else "hi", _ts(i),
            0.0 if i % 2 == 0 else 9.0) for i in range(200)]
    got = mutual_information(_events(spark, dep), cat="event_type").collect()
    assert got[0].mi == pytest.approx(math.log(2), abs=1e-6)


def test_mi_cells_marginals_consistent(spark):
    rows = [(i, 1, "abc"[i % 3], _ts(i), float(i % 7)) for i in range(100)]
    cells = mutual_information(_events(spark, rows), cat="event_type").collect()
    n = cells[0].n
    assert n == 100
    assert sum(c.n_tb for c in cells) == 100
    # row marginal: sum of n_tb within a cat equals that cat's n_t
    for cat in {c.cat for c in cells}:
        sub = [c for c in cells if c.cat == cat]
        assert sum(c.n_tb for c in sub) == sub[0].n_t
