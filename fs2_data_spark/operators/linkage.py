"""Record linkage: blocked edit-distance pair generation.

The fuzzy-matching tier between exact dedup (hash equality) and
shingle/MinHash near-dup (set overlap): Levenshtein distance catches
small character-level edits (typos, OCR noise, version strings) that
shingling dilutes and hashing misses entirely.

Reference heritage: fs2-data never compares two streams — its analogue is
the per-event pattern-match dispatch (``finite-state/.../pattern/
DecisionTree.scala``); pairing is a target-engine addition per SURVEY §2.3,
built Spark-first as a blocked self-equi-join.

Scale design (100 TB): all-pairs edit distance is O(n^2) and unshippable;
this operator only ever compares records that share a BLOCK KEY (prefix +
coarse length bucket), so the cost is sum(|block|^2) — the sorted-
neighborhood / standard-blocking discipline of the record-linkage
literature.  Within a block, two more guards bound per-pair cost:

- a length-difference prefilter ``|len_a - len_b| <= max_dist`` (the
  cheapest Levenshtein lower bound) runs as a join predicate before any
  distance call;
- the distance itself uses Spark's banded form ``levenshtein(l, r,
  threshold)`` which abandons the DP once the band exceeds ``max_dist``
  (O(max_dist * min(len)) per pair instead of O(len^2)) and returns -1.

Recall contract (stated, not hidden): a pair whose first ``prefix_len``
characters differ is NEVER generated — prefix blocking trades recall for
the n^2 fence.  Run multiple passes with different keys (e.g. suffix,
normalized words) and union if higher recall is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def blocked_edit_pairs(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 16,
    max_dist: int = 16,
) -> DataFrame:
    """Emit candidate record pairs ``(id_a < id_b)`` whose texts share a
    ``prefix_len``-character block key and sit within Levenshtein
    distance ``max_dist``.

    Output: ``id_a``, ``id_b``, ``len_a``, ``len_b``, ``lev`` — one row
    per surviving pair, exact distances (the banded call returns the
    true distance for every pair it keeps).

    Plan shape: two scans of the id/text projection, one shuffle per
    side on the block key (equi-join, never cartesian), the length
    prefilter evaluated as a join predicate, the banded distance as a
    post-join filter.  Deterministic: no sampling, no floats.
    """
    n = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text).alias("_tx"),
        F.length(text).cast("int").alias("_len"),
        F.substring(F.col(text), 1, prefix_len).alias("_blk"))
    a = n.select(F.col("_id").alias("id_a"), F.col("_tx").alias("_ta"),
                 F.col("_len").alias("len_a"), "_blk")
    b = n.select(F.col("_id").alias("id_b"), F.col("_tx").alias("_tb"),
                 F.col("_len").alias("len_b"), "_blk")
    pairs = a.join(b, on=(
        (a["_blk"] == b["_blk"])
        & (F.col("id_a") < F.col("id_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(max_dist))))
    # r6: the post-join banded distance runs as an Arrow kernel — Spark's
    # thresholded levenshtein measured ~4.6 ms/pair on 300-char strings
    # (26 s for 5.7k pairs at sf1); the banded DP below computes the same
    # exact integer distance (codepoint semantics, like Spark's) in ~1 ms
    # of Python per pair, parallel across tasks.  A distance-parity test
    # pins the kernel against F.levenshtein.  The ids ride through the
    # runner untouched, so string/UUID ids come back as themselves.
    from fs2_data_spark.functions.arrow_kernel import run_kernel

    def _lev_banded(s: str, t: str, kb: int) -> int:
        la, lb = len(s), len(t)
        if abs(la - lb) > kb:
            return -1
        inf = kb + 1
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            lo, hi = max(1, i - kb), min(lb, i + kb)
            cur = [inf] * (lb + 1)
            if i <= kb:
                cur[0] = i
            ca = s[i - 1]
            for j in range(lo, hi + 1):
                c = prev[j - 1] + (ca != t[j - 1])
                pj = prev[j] + 1
                if pj < c:
                    c = pj
                cj = cur[j - 1] + 1
                if cj < c:
                    c = cj
                cur[j] = c if c <= inf else inf
            prev = cur
        return prev[lb] if prev[lb] <= kb else -1

    def fn(ta, tb):
        rows, ol = [], []
        for x, (a, b) in enumerate(zip(ta.to_pylist(), tb.to_pylist())):
            d = _lev_banded(a or "", b or "", max_dist)
            if d >= 0:
                rows.append(x)
                ol.append(d)
        return rows, [ol]

    return run_kernel(pairs, fn, ["_ta", "_tb"], "lev int",
                      keys=["id_a", "id_b", "len_a", "len_b"])
