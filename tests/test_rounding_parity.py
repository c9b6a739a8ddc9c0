"""Pin ``round_half_away`` to DuckDB's ROUND(DOUBLE, dp) bit-for-bit.

The class bug this pins (VERDICT r05 #1): Spark ``round(double, dp)`` rounds
the *shortest decimal repr* HALF_UP, DuckDB rounds the *scaled double*
(``std::round(x * 10^dp) / 10^dp``).  Integer-ratio data (expanding means of
int64 gaps) lands on the disagreement boundary at ~0.4% density, so
``interarrival_events`` must round with the replica, not ``F.round``.  The
sweep below feeds exactly that class — ratios of random int64s — plus dense
half-boundary neighborhoods, and requires the replica to equal DuckDB on
every value at full (repr) precision.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from fs2_data_spark.functions.rounding import round_half_away


def _adversarial_values() -> list[float]:
    rng = random.Random(421)
    vals: list[float] = []
    # integer-ratio expanding means (the interarrival_events shape)
    for _ in range(4000):
        a = rng.randint(1, 10**14)
        b = rng.randint(1, 10**4)
        vals.append(a / b)
    # dense half-quantum neighborhoods at several magnitudes
    for mag in (1e-3, 1.0, 1e3, 1e8, 1e12):
        for k in range(200):
            base = (rng.randint(0, 10**6) + 0.5) / 1e4 * mag
            vals.append(base)
            vals.append(base + mag * 1e-13)
            vals.append(base - mag * 1e-13)
    # signs, zeros, exact quanta
    vals += [-v for v in vals[:500]]
    vals += [0.0, -0.0, 0.00005, -0.00005, 123.45675, 123.45665]
    return vals


@pytest.mark.parametrize("dp", [4, 6])
def test_round_half_away_matches_duckdb(spark, dp):
    vals = _adversarial_values()
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "i long, x double")
    got = {r["i"]: r["r"] for r in
           df.select("i", round_half_away(F.col("x"), dp).alias("r"))
           .collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, v) for i, v in enumerate(vals)])
    want = {i: r for i, r in
            con.execute(f"SELECT i, ROUND(x, {dp}) FROM t").fetchall()}
    bad = [(i, vals[i], repr(got[i]), repr(want[i]))
           for i in range(len(vals)) if repr(got[i]) != repr(want[i])]
    assert not bad, f"{len(bad)} mismatches, first 5: {bad[:5]}"


def test_interarrival_uses_replica_not_f_round(spark):
    """The query's rounded columns must disagree with F.round exactly where
    DuckDB does — i.e. the replica is actually wired in (a regression to
    F.round would silently pass the loose %.10g canon this repo used to
    have).  sf0.001 holds such a boundary row (an expanding mean gap)."""
    from conftest import SF_SMOKE

    from fs2_data_spark.operators.encoding import interarrival_stats
    from fs2_data_spark.queries import REGISTRY

    fn, _ = REGISTRY["interarrival_events"]
    raw = interarrival_stats(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_id", "user_id", "ts"),
        key="user_id", ts="ts", tiebreak="event_id")
    rows = (fn(spark, SF_SMOKE).join(raw, "event_id")
            .select("event_id", "mean_dt4", "burst4", "mean_dt_us", "burst",
                    F.round("mean_dt_us", 4).alias("f_mean"),
                    F.round("burst", 4).alias("f_burst"))
            .collect())
    con = duckdb.connect()
    duck = {x: con.execute("SELECT ROUND(?::DOUBLE, 4)", [x]).fetchone()[0]
            for r in rows for x in (r.mean_dt_us, r.burst) if x is not None}
    witnesses = [
        (r.event_id, col)
        for r in rows
        for col, got, f_round, x in (
            ("mean_dt4", r.mean_dt4, r.f_mean, r.mean_dt_us),
            ("burst4", r.burst4, r.f_burst, r.burst))
        if x is not None and got != f_round and repr(got) == repr(duck[x])]
    assert witnesses, "no row tells the DuckDB ROUND replica from F.round"


def test_banded_levenshtein_matches_spark(spark):
    """The r6 banded-DP kernel in blocked_edit_pairs must reproduce
    F.levenshtein exactly on every surviving pair (and drop the same
    over-threshold pairs)."""
    import random

    from pyspark.sql import functions as F

    from fs2_data_spark.operators.linkage import blocked_edit_pairs

    rng = random.Random(5)
    base = "abcdefgh " * 8
    rows = []
    for i in range(120):
        s = list(base)
        for _ in range(rng.randint(0, 24)):
            p = rng.randrange(len(s))
            op = rng.random()
            if op < 0.4:
                s[p] = rng.choice("abcxyz ")
            elif op < 0.7:
                s.insert(p, rng.choice("qrs"))
            elif s:
                del s[p]
        rows.append((i, "".join(s)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): r.lev
           for r in blocked_edit_pairs(df, prefix_len=4, max_dist=12)
           .collect()}
    n = df.select("doc_id", F.col("text"),
                  F.substring("text", 1, 4).alias("blk"),
                  F.length("text").alias("ln"))
    ref_pairs = (n.alias("a").join(
        n.alias("b"),
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.ln") - F.col("b.ln")) <= 12))
        .select(F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
                F.levenshtein(F.col("a.text"), F.col("b.text")).alias("d")))
    want = {(r.ia, r.ib): r.d for r in ref_pairs.collect() if r.d <= 12}
    assert got == want and want
