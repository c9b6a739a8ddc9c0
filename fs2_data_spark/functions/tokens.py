"""Token-array operators — jq / JSONPath array semantics on ``array<int>``.

Re-expresses fs2-data's selection/iteration operators (reference
``json/src/main/scala/fs2/data/json/jq/ast.scala:22-66``: ``Index``,
``Slice``, ``Iterator``; ``json/src/main/scala/fs2/data/json/selectors.scala``)
over the input_hint payload column ``tokens: array<int>``. All pure
higher-order-function expressions — whole-stage codegen, no Python.

Index/slice conventions follow jq: 0-based, slice end-exclusive, out-of-range
-> null (the lenient / non-mandatory mode of ``NameSelector``/``IndexSelector``;
strict mode is the caller raising on null).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

FINGERPRINT_MOD = 1_000_000_007


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tok_index(tokens: Column | str, i: int, mandatory: bool = False) -> Column:
    """jq ``.[i]``: 0-based element access.

    ``mandatory=False``: out-of-range -> null (``IndexSelector``
    non-mandatory semantics, reference
    ``json/src/main/scala/fs2/data/json/selectors.scala:59-80``).
    ``mandatory=True``: out-of-range fails the job with a descriptive error,
    the ``mandatory`` selector error of ``selectors.scala:30-57`` (wrong
    *container kind* — index selection on a non-array column — is already a
    strict error: Spark's analyzer rejects it at plan time)."""
    t = _c(tokens)
    in_range = (F.size(t) > i) if i >= 0 else (F.size(t) >= -i)
    hit = F.element_at(t, i + 1 if i >= 0 else i)
    if not mandatory:
        return F.when(in_range, hit)
    return F.when(in_range, hit).otherwise(
        F.raise_error(F.concat(
            F.lit(f"tok_index: mandatory index {i} out of range for size "),
            F.size(t).cast("string"))))


def tok_slice(tokens: Column | str, start: int, end: int | None = None) -> Column:
    """jq ``.[a:b]``: 0-based, end-exclusive, clamped (never errors) —
    reference ``json/src/main/scala/fs2/data/json/jq/ast.scala:51``."""
    t = _c(tokens)
    lo = F.greatest(F.lit(start), F.lit(0))
    hi = F.size(t) if end is None else F.least(F.lit(end), F.size(t))
    length = F.greatest(hi - lo, F.lit(0))
    return F.slice(t, lo + 1, length)


def tok_iterate(df: DataFrame, tokens: str = "tokens", keep: list[str] | None = None) -> DataFrame:
    """jq ``.[]`` iterator: one row per (position, token), document order kept
    via the ``pos`` ordinal — the analogue of ``StartArrayElement(idx)``
    tagging (reference ``json/.../tagged/JsonTagger.scala:84-103``)."""
    keep = keep if keep is not None else [c for c in df.columns if c != tokens]
    return df.select(*keep, F.posexplode(tokens).alias("pos", "token"))


def tok_fingerprint(tokens: Column | str, mod: int = FINGERPRINT_MOD) -> Column:
    """Deterministic positional fingerprint ``sum((i+1) * t_i) mod m`` —
    a rolling-hash-style document fingerprint that is order-sensitive (two
    permutations of the same tokens differ) and exactly reproducible in ANSI
    SQL. Uses an indexed transform + aggregate, all JVM-side."""
    t = _c(tokens)
    weighted = F.transform(t, lambda x, i: (i + 1).cast("bigint") * x.cast("bigint"))
    return F.pmod(
        F.aggregate(weighted, F.lit(0).cast("bigint"), lambda a, x: F.pmod(a + x, F.lit(mod))),
        F.lit(mod),
    )


def tok_stats(df: DataFrame, tokens: str = "tokens") -> DataFrame:
    """Per-row token statistics via higher-order functions (no explode)."""
    t = F.col(tokens)
    as_dbl = F.transform(t, lambda x: x.cast("double"))
    return df.withColumns({
        "tok_min": F.array_min(t),
        "tok_max": F.array_max(t),
        "tok_sum": F.aggregate(t, F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")),
        "tok_mean": F.when(F.size(t) > 0,
                           F.aggregate(as_dbl, F.lit(0.0), lambda a, x: a + x) / F.size(t)),
        "tok_distinct": F.size(F.array_distinct(t)),
    })


def tok_ngrams(tokens: Column | str, n: int = 3) -> Column:
    """Token n-gram shingles encoded as bigints (base-VOCAB positional mix) —
    the shingle set for MinHash/Jaccard dedup."""
    t = _c(tokens)
    idx = F.sequence(F.lit(0), F.size(t) - n)
    base = F.lit(50261).cast("bigint")  # prime > vocab
    def shingle(i):
        acc = F.lit(0).cast("bigint")
        for j in range(n):
            acc = F.pmod(acc * base + F.element_at(t, i + j + 1).cast("bigint"),
                         F.lit(FINGERPRINT_MOD))
        return acc
    return F.when(F.size(t) >= n, F.transform(idx, shingle)).otherwise(
        F.array().cast("array<bigint>")
    )


def token_entropy(tokens: Column | str) -> Column:
    """Shannon entropy (nats) of the token unigram distribution of one
    sequence: ``-sum_d (c_d/n) ln(c_d/n)`` over the distinct tokens —
    a standard repetition/diversity quality signal (a low-entropy
    sequence is boilerplate or a degenerate repetition loop; compare the
    reference's duplicate-run detection, ``operators/dedup.py``
    repetition signals).

    Pure per-row Catalyst (O(n·d) counting over the distinct list — the
    honest per-row cost; n is a training sequence, not a corpus).  The
    distinct list is SORTED before the fold so the double summation order
    is engine-independent: any SQL mirror that sorts the same way
    reproduces the same IEEE bits.
    """
    t = _c(tokens)
    n = F.size(t).cast("double")
    d = F.array_sort(F.array_distinct(t))
    cnt = lambda x: F.size(F.filter(t, lambda v: v == x)).cast("double")  # noqa: E731
    term = lambda x: (cnt(x) / n) * F.log(n / cnt(x))  # noqa: E731
    return F.when(F.size(t) == 0, F.lit(0.0)).otherwise(
        F.aggregate(d, F.lit(0.0), lambda acc, x: acc + term(x)))
