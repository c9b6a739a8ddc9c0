"""Arrow/numpy kernels for the word-hash token pipelines.

The dedup/similarity text tier (word codes, per-word polynomial hashes,
shingles, MinHash permutations, SimHash votes) runs its per-character and
per-word arithmetic as interpreted Catalyst higher-order folds — measured
the dominant cost of ``jaccard_pairs`` / ``simhash_docs`` /
``minhash_band_buckets`` at sf1.  These kernels compute the identical
integer values (pure int64 arithmetic — bit-exactness is trivial, unlike the
float kernels in ``veckernels.py``) over whole Arrow batches, each through
the one runner (``functions/arrow_kernel.run_kernel``): the id rides through
uncast, so string and UUID ids come back as themselves.

Tokenization contract (replicates ``functions/text.py``): words are maximal
runs of non-space (U+0020) *codepoints* (``split(text, ' ')`` + empty
filter).  Catalyst's ``length``/``ascii``/``substring``/``split(w, '')``
are code-point based over the whole range (``length('a😀b x')`` = 5,
``ascii('😀')`` = 128512), and the UTF-32 view below keeps every code point
up to U+10FFFF unnarrowed, so astral text (emoji) hashes exactly like the
Catalyst expressions.  Where a Catalyst expression overflows bigint —
``word_code * a + b`` once the code passes ~3.47e9 for SimHash (a word
starting at about U+CF1B) or ~8.36e9 for the word-code MinHash (about
U+1F22F: most emoji) — ANSI Spark raises ``ARITHMETIC_OVERFLOW``; the
kernels raise ``ArithmeticError`` on the same rows instead of wrapping.

NULL rule: NULL text reads as the empty string (no words) — the same final
rows the Catalyst NULL propagation produces for every consumer below (empty
shingle set, NULL minhash components, SimHash 0).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from fs2_data_spark.functions.arrow_kernel import run_kernel

HASH_PRIME = 2_147_483_647
_B = 1_000_003

__all__ = [
    "decode_batch",
    "word_segments",
    "shingle_minhash_kernel",
    "word_code_minhash_kernel",
    "simhash_kernel",
]


def decode_batch(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """String column -> (uint32 codepoint array, per-row char offsets).

    One UTF-8 decode + UTF-32 re-encode pass over the batch's contiguous
    data buffer (C speed); row offsets are converted from bytes to chars by
    counting non-continuation bytes per row."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if n == 0:
        return (np.empty(0, dtype=np.uint32),
                np.zeros(1, dtype=np.int64))
    # normalize nulls to '' and force a compact offsets/data layout
    if col.null_count:
        col = col.fill_null("")
    off_dtype = np.int64 if pa.types.is_large_string(col.type) else np.int32
    o = col.offset
    byte_offs = np.frombuffer(col.buffers()[1], dtype=off_dtype,
                              offset=0)[o:o + n + 1].astype(np.int64)
    buf = col.buffers()[2]
    if buf is None or byte_offs[-1] == byte_offs[0]:
        return (np.empty(0, dtype=np.uint32),
                np.zeros(n + 1, dtype=np.int64))
    raw = np.frombuffer(buf, dtype=np.uint8,
                        count=int(byte_offs[-1]))[int(byte_offs[0]):]
    byte_offs = byte_offs - byte_offs[0]
    text = raw.tobytes().decode("utf-8")
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    # byte offsets -> char offsets: chars = non-continuation bytes
    is_start = (raw & 0xC0) != 0x80
    char_cum = np.zeros(raw.size + 1, dtype=np.int64)
    np.cumsum(is_start, out=char_cum[1:])
    char_offs = char_cum[byte_offs]
    return cp, char_offs


def word_segments(cp: np.ndarray, char_offs: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Maximal non-space runs per row -> (starts, lens, row_id) per word.

    A run starts at a non-space char whose predecessor is a space OR that
    sits on a row boundary, and ends at a non-space char whose successor is
    a space OR that is its row's last char — so runs never span rows even
    though the codepoint array is one concatenated buffer."""
    if cp.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, z
    nonsp = cp != 32
    row_first = char_offs[:-1]
    row_first = row_first[row_first < cp.size]
    row_last = char_offs[1:] - 1
    row_last = row_last[(row_last >= 0) & (row_last < cp.size)]
    at_row_start = np.zeros(cp.size, dtype=bool)
    at_row_start[row_first] = True
    at_row_end = np.zeros(cp.size, dtype=bool)
    at_row_end[row_last] = True
    prev_nonsp = np.empty_like(nonsp)
    prev_nonsp[0] = False
    prev_nonsp[1:] = nonsp[:-1]
    next_nonsp = np.empty_like(nonsp)
    next_nonsp[-1] = False
    next_nonsp[:-1] = nonsp[1:]
    starts = np.nonzero(nonsp & (~prev_nonsp | at_row_start))[0]
    ends = np.nonzero(nonsp & (~next_nonsp | at_row_end))[0]
    if len(starts) != len(ends):
        raise AssertionError("word segmentation mismatch")
    lens = ends - starts + 1
    row_id = np.searchsorted(char_offs, starts, side="right") - 1
    return starts.astype(np.int64), lens.astype(np.int64), \
        row_id.astype(np.int64)


def _word_hash_poly31(cp: np.ndarray, starts: np.ndarray, lens: np.ndarray,
                      mod: int) -> np.ndarray:
    """Per-word fold ``h = (h*31 + codepoint) mod m`` (ascending char
    order) — ``functions/text.word_hash`` exactly."""
    nw = len(starts)
    h = np.zeros(nw, dtype=np.int64)
    if nw == 0:
        return h
    active = np.arange(nw)
    p = 0
    maxlen = int(lens.max())
    cpi = cp.astype(np.int64)
    while p < maxlen:
        active = active[lens[active] > p]
        c = cpi[starts[active] + p]
        h[active] = (h[active] * 31 + c) % mod
        p += 1
    return h


def _word_codes(cp: np.ndarray, starts: np.ndarray, lens: np.ndarray
                ) -> np.ndarray:
    """``functions/text.word_code``: first*65536 + last*256 + len."""
    cpi = cp.astype(np.int64)
    first = cpi[starts]
    last = cpi[starts + lens - 1]
    return first * 65536 + last * 256 + lens.astype(np.int64)


_MINHASH_COEF = [(1_103_515_245 + 2 * i + 1, 12_345 + 7919 * i)
                 for i in range(64)]
_I64_MAX = np.iinfo(np.int64).max


def _affine_checked(x: np.ndarray, a: int, b: int) -> np.ndarray:
    """``x*a + b`` over non-negative int64 ``x``, raising where the bigint
    Catalyst expression raises ``ARITHMETIC_OVERFLOW`` (ANSI) instead of
    wrapping."""
    if x.size and int(x.max()) > (_I64_MAX - b) // a:
        raise ArithmeticError(
            f"long overflow in code*{a}+{b} (a word's first code point is "
            f"too large for this hash; Catalyst raises ARITHMETIC_OVERFLOW)")
    return x * a + b


def _key(id_col: str, name: str):
    import pyspark.sql.functions as F  # noqa: PLC0415
    return F.col(id_col).alias(name)


def _segmented_min(vals: np.ndarray, seg_id: np.ndarray, n_seg: int
                   ) -> tuple[np.ndarray, np.ndarray]:
    """(min per segment, has-any per segment) for sorted seg_id."""
    out = np.full(n_seg, _I64_MAX, dtype=np.int64)
    np.minimum.at(out, seg_id, vals)
    has = np.zeros(n_seg, dtype=bool)
    has[seg_id] = True
    return out, has


def _mh_batch(n_doc: int, dom: np.ndarray, dom_doc: np.ndarray,
              k: int, inner_mod: bool) -> list[pa.Array]:
    """k MinHash components over a per-doc integer domain (sorted by doc).
    ``inner_mod``: apply ``s mod P`` before the affine map (the shingle
    variant); word codes skip it, like ``text.minhash_signature_from``."""
    s = dom % HASH_PRIME if inner_mod else dom
    cols = []
    for i in range(k):
        a, b = _MINHASH_COEF[i]
        v = _affine_checked(s, a, b) % HASH_PRIME
        mn, has = _segmented_min(v, dom_doc, n_doc)
        cols.append(pa.array(mn, mask=~has))
    return cols


def _mh_fields(k: int) -> str:
    return ", ".join(f"mh{i} long" for i in range(k))


def shingle_minhash_kernel(df, id_col: str, text_col: str, k: int = 8,
                           shingle_n: int = 3):
    """Kernel emitting ``(id, sh array<bigint>, mh0..mh{k-1})`` —
    value-identical to ``functions/text.shingle_hashes`` (as a set) and
    ``text.minhash_signature_shingles``: per-word poly-31 hashes mod
    1000003, base-1000003 positional ``shingle_n``-gram mix, first-seen
    distinct, then ``min((s mod p)*a_i + b_i mod p)`` per component (NULL
    components for docs with < shingle_n words, empty ``sh``)."""

    def fn(text):
        nrow = len(text)
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        wh = _word_hash_poly31(cp, starts, lens, _B)
        sh, sdoc = _positional_shingles(wh, wdoc, shingle_n, _B, None)
        # distinct per doc (order irrelevant downstream: set semantics)
        sv, cnt = _per_doc_distinct_sorted(sh, sdoc, nrow)
        return [_list_array(sv, cnt),
                *_mh_batch(nrow, sv, np.repeat(np.arange(nrow), cnt), k,
                           inner_mod=True)]

    return run_kernel(df, fn, [text_col],
                      "sh array<bigint>, " + _mh_fields(k),
                      keys=[_key(id_col, "id")])


def word_code_minhash_kernel(df, id_col: str, text_col: str, k: int = 8):
    """Kernel emitting ``(id, mh0..mh{k-1})`` over the *word-code* domain —
    ``functions/text.minhash_signature_from(word_codes(...))`` exactly (no
    inner mod; raises where that expression overflows)."""

    def fn(text):
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        codes = _word_codes(cp, starts, lens)
        return _mh_batch(len(text), codes, wdoc, k, inner_mod=False)

    return run_kernel(df, fn, [text_col], _mh_fields(k),
                      keys=[_key(id_col, "id")])


def _list_array(vals: np.ndarray, counts: np.ndarray) -> pa.ListArray:
    offsets = pa.array(np.concatenate(
        ([0], np.cumsum(counts))).astype(np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(vals, pa.int64()))


def _per_doc_distinct_sorted(vals: np.ndarray, doc: np.ndarray, nrow: int
                             ) -> tuple[np.ndarray, np.ndarray]:
    """(sorted distinct values per doc concatenated, per-doc counts)."""
    cnt = np.zeros(nrow, dtype=np.int64)
    if vals.size == 0:
        return vals, cnt
    key = np.lexsort((vals, doc))
    v, d = vals[key], doc[key]
    keep = np.empty(v.size, dtype=bool)
    keep[0] = True
    keep[1:] = (v[1:] != v[:-1]) | (d[1:] != d[:-1])
    v, d = v[keep], d[keep]
    np.add.at(cnt, d, 1)
    return v, cnt


def _positional_shingles(wh: np.ndarray, wdoc: np.ndarray, n: int, mult: int,
                         mod: int | None
                         ) -> tuple[np.ndarray, np.ndarray]:
    """Rolling ``n``-gram mixes of per-word hashes in position order,
    fenced to same-doc windows: ``fold (a*mult + x) [mod]``."""
    if len(wh) < n:
        z = np.empty(0, dtype=np.int64)
        return z, z
    m = len(wh) - n + 1
    g = wh[:m].copy()
    for j in range(1, n):
        g = g * mult + wh[j: m + j]
        if mod is not None:
            g %= mod
    same = wdoc[:m] == wdoc[n - 1:]
    return g[same], wdoc[:m][same]


def winnow_fp_kernel(df, id_col: str, text_col: str, k: int = 3, w: int = 4):
    """Kernel emitting ``(doc_id, fp array<bigint>)`` — the winnowing
    fingerprint set of ``functions/text.winnow_fingerprints_from`` exactly:
    positional ``k``-gram shingle hashes (no distinct), per-``w``-window
    minima (docs with 0 < |grams| < w keep one global min), then distinct
    ascending.  Pure int64 arithmetic."""

    def fn(text):
        nrow = len(text)
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        wh = _word_hash_poly31(cp, starts, lens, _B)
        hs, hdoc = _positional_shingles(wh, wdoc, k, _B, None)
        # per-doc gram counts
        ghn = np.zeros(nrow, dtype=np.int64)
        np.add.at(ghn, hdoc, 1)
        mins_list = [np.empty(0, dtype=np.int64)]
        doc_list = [np.empty(0, dtype=np.int64)]
        if hs.size >= w:
            # full windows: min over w consecutive same-doc grams
            mw = hs[: hs.size - w + 1].copy()
            for j in range(1, w):
                np.minimum(mw, hs[j: hs.size - w + 1 + j], out=mw)
            full = hdoc[: hs.size - w + 1] == hdoc[w - 1:]
            mins_list.append(mw[full])
            doc_list.append(hdoc[: hs.size - w + 1][full])
        # short docs (0 < |grams| < w): one global min
        short_docs = np.nonzero((ghn > 0) & (ghn < w))[0]
        if short_docs.size:
            gmin = np.full(nrow, _I64_MAX, dtype=np.int64)
            np.minimum.at(gmin, hdoc, hs)
            mins_list.append(gmin[short_docs])
            doc_list.append(short_docs.astype(np.int64))
        fv, fc = _per_doc_distinct_sorted(np.concatenate(mins_list),
                                          np.concatenate(doc_list), nrow)
        return [_list_array(fv, fc)]

    return run_kernel(df, fn, [text_col], "fp array<bigint>",
                      keys=[_key(id_col, "doc_id")])


def shingles_kernel(df, text_col: str, keep: list[str], n: int = 3):
    """Kernel emitting ``(keep..., sh array<bigint>)`` — the DISTINCT
    word-``n``-gram shingle set of ``functions/text.shingle_hashes``
    (first-occurrence distinct is a set downstream; emitted ascending).
    Passthrough columns keep their types."""

    def fn(text):
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        wh = _word_hash_poly31(cp, starts, lens, _B)
        sh, sdoc = _positional_shingles(wh, wdoc, n, _B, None)
        return [_list_array(*_per_doc_distinct_sorted(sh, sdoc, len(text)))]

    return run_kernel(df, fn, [text_col], "sh array<bigint>", keys=keep)


_TOPGRAM_P = 1_000_000_007


def _seg_max_runs(g: np.ndarray, gd: np.ndarray, nrow: int) -> np.ndarray:
    """Per doc, the longest run of equal values in each doc's sorted
    gram list (0 for docs without grams)."""
    best = np.zeros(nrow, dtype=np.int64)
    if g.size == 0:
        return best
    key = np.lexsort((g, gd))
    v, d = g[key], gd[key]
    new_run = np.empty(v.size, dtype=bool)
    new_run[0] = True
    new_run[1:] = (v[1:] != v[:-1]) | (d[1:] != d[:-1])
    run_id = np.cumsum(new_run) - 1
    np.maximum.at(best, d[new_run], np.bincount(run_id))
    return best


def top_ngram_kernel(df, id_col: str, text_col: str,
                     ns: tuple[int, ...] = (2, 3, 4)):
    """Kernel emitting ``(doc_id, n_words, top{n}_count ...)`` — the
    per-document most-frequent-n-gram counts of
    ``operators/quality.top_ngram_fraction`` (rolling-hash grams
    ``fold (a*1000003 + x) mod 1e9+7``, max run count over the sorted gram
    list).  All-integer; the caller derives the fractions with the same
    JVM expressions as before."""

    def fn(text):
        nrow = len(text)
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        wh = _word_hash_poly31(cp, starts, lens, _B)
        nw = np.bincount(wdoc, minlength=nrow)
        return [nw] + [
            _seg_max_runs(*_positional_shingles(wh, wdoc, n, _B, _TOPGRAM_P),
                          nrow) for n in ns]

    return run_kernel(df, fn, [text_col],
                      "n_words int, " + ", ".join(f"top{n}_count int"
                                                  for n in ns),
                      keys=[_key(id_col, "doc_id")])


def _token_codes(cp: np.ndarray, starts: np.ndarray, lens: np.ndarray
                 ) -> np.ndarray:
    """``tables.tokens_col``: len(word)*256 + first codepoint, int."""
    if len(starts) == 0:
        return np.empty(0, dtype=np.int64)
    return lens * 256 + cp[starts].astype(np.int64)


def token_spans_kernel(df, id_col: str, text_col: str, k: int = 8):
    """Kernel emitting ``(doc_id, pos, span_h)`` for every ``k``-token
    window — the rolling span hash of ``operators/dedup._token_spans``
    (``fold (a*31 + x) mod 1e9+7`` over ``tokens_col`` codes), pure int64."""

    def fn(text):
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        codes = _token_codes(cp, starts, lens)
        if len(codes) < k:
            return None
        m = len(codes) - k + 1
        g = codes[:m].copy()
        for j in range(1, k):
            g = (g * 31 + codes[j: m + j]) % 1_000_000_007
        gidx = np.nonzero(wdoc[:m] == wdoc[k - 1:])[0]
        gdoc = wdoc[gidx]
        doc_start = np.searchsorted(wdoc, np.arange(len(text)))
        return gdoc, [gidx - doc_start[gdoc], g[gidx]]

    return run_kernel(df, fn, [text_col], "pos int, span_h long",
                      keys=[_key(id_col, "doc_id")])


def skipgram_partial_kernel(df, text_col: str, window: int = 2):
    """Kernel emitting per-batch partial ``(center, context, c)``
    counts — the skip-gram pair multiset of
    ``operators/seqops.skipgram_pairs`` over ``tokens_col`` codes, doc-
    fenced, distances 1..window both sides.  Caller sums the partials
    (one map-side-combined aggregation, same key space)."""

    def fn(text):
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        codes = _token_codes(cp, starts, lens)
        cs, xs = [], []
        for dist in range(1, min(window, codes.size - 1) + 1):
            same = wdoc[dist:] == wdoc[:-dist]
            # right context: center i, context i+dist; left: i, i-dist
            cs += [codes[:-dist][same], codes[dist:][same]]
            xs += [codes[dist:][same], codes[:-dist][same]]
        if not cs:
            return None
        key = np.concatenate(cs) * (1 << 32) + np.concatenate(xs)
        uniq, cnt = np.unique(key, return_counts=True)
        return [uniq >> 32, uniq & ((1 << 32) - 1), cnt]

    return run_kernel(df, fn, [text_col], "center int, context int, c long")


def cdc_chunks_kernel(df, id_col: str, text_col: str, k: int = 4,
                      divisor: int = 16):
    """Kernel emitting ``(doc_id, chunk_no, start_pos, chunk_len,
    chunk_h)`` — ``operators/dedup.cdc_chunks`` over ``tokens_col`` codes:
    cut after end positions ``i`` in ``[k-1, n-2]`` whose ``k``-window
    31-fold hash (mod 1e9+7) is ``% divisor == 0``; chunk hashes are the
    same fold over each chunk's tokens.  Pure int64."""
    P = 1_000_000_007

    def fn(text):
        nrow = len(text)
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        codes = _token_codes(cp, starts, lens)
        nwords = np.bincount(wdoc, minlength=nrow)
        doc_start = np.concatenate(([0], np.cumsum(nwords)[:-1]))
        # window hashes (gram start p covers p..p+k-1, end i = p+k-1)
        g, gdoc = _positional_shingles(codes, wdoc, k, 31, P)
        # recover each gram's global start index to derive its end pos
        if len(codes) >= k:
            m = len(codes) - k + 1
            gidx = np.nonzero(wdoc[:m] == wdoc[k - 1:])[0]
        else:
            gidx = np.empty(0, dtype=np.int64)
        end_in_doc = gidx + (k - 1) - doc_start[gdoc]
        # cuts: hash % divisor == 0 AND end <= n-2 for that doc
        is_cut = (g % divisor == 0) & (end_in_doc <= nwords[gdoc] - 2)
        cut_doc = gdoc[is_cut]
        cut_end = end_in_doc[is_cut]
        # chunk segment starts per doc: 0 plus (cut+1)s; ends: next
        # start or n — assemble per doc in order (cut_doc is sorted)
        ch_doc, ch_start, ch_len, ch_no = [], [], [], []
        cut_ptr = 0
        n_cuts = len(cut_doc)
        for d in np.nonzero(nwords > 0)[0]:
            cs = []
            while cut_ptr < n_cuts and cut_doc[cut_ptr] == d:
                cs.append(cut_end[cut_ptr])
                cut_ptr += 1
            bounds = [0] + [c + 1 for c in cs] + [int(nwords[d])]
            for cno in range(len(bounds) - 1):
                ch_doc.append(d)
                ch_start.append(bounds[cno])
                ch_len.append(bounds[cno + 1] - bounds[cno])
                ch_no.append(cno)
        if not ch_doc:
            return None
        ch_doc = np.asarray(ch_doc, dtype=np.int64)
        ch_start = np.asarray(ch_start, dtype=np.int64)
        ch_start_g = doc_start[ch_doc] + ch_start
        ch_len_a = np.asarray(ch_len, dtype=np.int64)
        # chunk hashes: 31-fold over each chunk's codes — same
        # shrinking-active-set fold as the word hash
        h = np.zeros(len(ch_doc), dtype=np.int64)
        active = np.arange(len(ch_doc))
        for p in range(int(ch_len_a.max())):
            active = active[ch_len_a[active] > p]
            h[active] = (h[active] * 31 + codes[ch_start_g[active] + p]) % P
        return ch_doc, [ch_no, ch_start, ch_len_a, h]

    return run_kernel(
        df, fn, [text_col],
        "chunk_no int, start_pos int, chunk_len int, chunk_h long",
        keys=[_key(id_col, "doc_id")])


def word_segment_rows_kernel(df, id_col: str, text_col: str,
                             seg_words: int = 8):
    """Kernel emitting ``(id_col, seg_no, seg)`` — the non-overlapping
    ``seg_words``-word segments of ``operators/dedup._word_segment_rows``
    (words = split-on-' ' with empties dropped, segment text = the words
    re-joined with single spaces, final segment may be shorter; wordless
    docs emit no rows).  Python ``str`` is code-point indexed, like
    Catalyst's ``split``/``slice``."""

    def fn(text):
        rows, on, os_ = [], [], []
        for r, tx in enumerate(text.to_pylist()):
            words = [w for w in (tx or "").split(" ") if w]
            for sno in range(0, len(words), seg_words):
                rows.append(r)
                on.append(sno // seg_words)
                os_.append(" ".join(words[sno:sno + seg_words]))
        return rows, [on, os_]

    return run_kernel(df, fn, [text_col], "seg_no int, seg string",
                      keys=[id_col])


def hashed_bow_kernel(df, id_col: str, text_col: str, dim: int = 32):
    """Kernel emitting ``(doc_id, n_words, vec array<bigint>)`` — the
    hashing-trick BoW of ``functions/text.hashed_bow`` over poly-31 word
    hashes (bucket ``d`` counts words with ``hash mod dim == d``)."""

    def fn(text):
        nrow = len(text)
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        wh = _word_hash_poly31(cp, starts, lens, _B)
        vec = np.zeros((nrow, dim), dtype=np.int64)
        np.add.at(vec, (wdoc, wh % dim), 1)
        return [np.bincount(wdoc, minlength=nrow),
                _list_array(vec.reshape(-1), np.full(nrow, dim))]

    return run_kernel(df, fn, [text_col], "n_words long, vec array<bigint>",
                      keys=[_key(id_col, "doc_id")])


def token_entropy_kernel(df, id_col: str, text_col: str):
    """Kernel emitting ``(doc_id, n_tok, n_distinct, max_freq,
    entropy_raw)`` — the per-row unigram triplet of ``tok_entropy_docs``
    over the corpus ``tokens_col`` codes (``len(word)*256 + ascii(word)``):
    counts exact; ``entropy_raw`` replicates the Catalyst fold bit-for-bit
    — terms ``(c/n) * log(n/c)`` accumulated over the ASCENDING distinct
    codes with scalar libm ``log`` (the values the DuckDB oracle pins).
    ``max_freq`` is NULL for wordless docs like the legacy
    ``array_max(empty)``."""
    import math  # noqa: PLC0415

    def fn(text):
        nrow = len(text)
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        codes = _token_codes(cp, starts, lens)
        nt = np.bincount(wdoc, minlength=nrow)
        # sorted distinct codes + run counts per doc
        key = np.lexsort((codes, wdoc))
        v, d = codes[key], wdoc[key]
        new = np.ones(v.size, dtype=bool)
        new[1:] = (v[1:] != v[:-1]) | (d[1:] != d[:-1])
        run_cnt = np.bincount(np.cumsum(new) - 1) if v.size else d
        run_doc = d[new]
        nd = np.bincount(run_doc, minlength=nrow)
        mf = np.zeros(nrow, dtype=np.int64)
        np.maximum.at(mf, run_doc, run_cnt)
        ent = np.zeros(nrow, dtype=np.float64)
        # left-fold per doc over the ascending-code runs (scalar libm
        # log — the summation order and per-term bits of the Catalyst
        # fold); run_doc is non-decreasing, so runs per doc are
        # contiguous
        pos = 0
        nruns = len(run_cnt)
        while pos < nruns:
            doc = run_doc[pos]
            nf = float(nt[doc])
            acc = 0.0
            while pos < nruns and run_doc[pos] == doc:
                c = float(run_cnt[pos])
                acc += (c / nf) * math.log(nf / c)
                pos += 1
            ent[doc] = acc
        return [nt, nd, pa.array(mf, pa.int32(), mask=(nt == 0)), ent]

    return run_kernel(
        df, fn, [text_col],
        "n_tok int, n_distinct int, max_freq int, entropy_raw double",
        keys=[_key(id_col, "doc_id")])


def simhash_kernel(df, id_col: str, text_col: str, bits: int = 16):
    """Kernel emitting ``(doc_id, sh)`` — the SimHash over word codes
    (``(code*2654435761 + 104729) mod p``, per-bit ±1 majority votes),
    value-identical to both the HOF ``functions/text.simhash`` and the
    relational vote formulation in ``queries.simhash_docs``; empty/NULL
    docs emit 0 like the restored left join did."""

    def fn(text):
        nrow = len(text)
        cp, offs = decode_batch(text)
        starts, lens, wdoc = word_segments(cp, offs)
        codes = _word_codes(cp, starts, lens)
        h = _affine_checked(codes, 2_654_435_761, 104_729) % HASH_PRIME
        sh = np.zeros(nrow, dtype=np.int64)
        for b in range(bits):
            votes = np.bincount(wdoc, weights=((h >> b) & 1) * 2 - 1,
                                minlength=nrow)
            sh += (votes > 0).astype(np.int64) << b
        return [sh]

    return run_kernel(df, fn, [text_col], "sh long",
                      keys=[_key(id_col, "doc_id")])
