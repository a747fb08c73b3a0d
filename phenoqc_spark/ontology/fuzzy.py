"""Fuzzy string scoring with rapidfuzz ``fuzz.WRatio`` semantics.

The reference resolves unmapped terms with
``rapidfuzz.process.extractOne(term, keys, scorer=fuzz.WRatio,
score_cutoff=threshold, processor=None)`` (reference:
src/phenoqc/mapping.py:365-371).  rapidfuzz is a C extension that is not
available in every runtime, so this module provides:

* the real rapidfuzz scorer when importable (production path — at cluster
  scale you want the SIMD `process.cdist` inside the Arrow UDF), and
* a pure-Python reimplementation of the published WRatio algorithm
  (Indel ratio + token_sort/token_set + partial variants with the standard
  0.95 / 0.9 / 0.6 scale factors) used as a deterministic fallback.

The fallback's Indel distance uses the bit-parallel LCS algorithm
(Hyyrö 2004) on arbitrary-precision ints, so it is O(n·m/64) for any
pattern length.  ``extract_one`` preserves rapidfuzz tie-breaking: first
key (in insertion order) achieving the maximum score wins.
"""

from __future__ import annotations

import itertools

import numpy as np

try:  # pragma: no cover - exercised only where rapidfuzz exists
    from rapidfuzz import fuzz as _rf_fuzz
    from rapidfuzz import process as _rf_process

    HAVE_RAPIDFUZZ = True
except Exception:  # pragma: no cover
    _rf_fuzz = None
    _rf_process = None
    HAVE_RAPIDFUZZ = False


# ---------------------------------------------------------------------------
# Indel distance / ratio (pure python, bit-parallel LCS)
# ---------------------------------------------------------------------------

def _char_masks(pattern: str) -> dict:
    masks: dict = {}
    bit = 1
    for ch in pattern:
        masks[ch] = masks.get(ch, 0) | bit
        bit <<= 1
    return masks


def _lcs(masks: dict, m: int, s2: str) -> int:
    """LCS length of ``s2`` with the m-character pattern whose
    :func:`_char_masks` are ``masks`` (one bit-parallel pass)."""
    full = (1 << m) - 1
    S = full
    for ch in s2:
        M = masks.get(ch, 0)
        u = S & M
        S = ((S + u) | (S - u)) & full
    # zeros in S mark matched pattern positions
    return m - bin(S).count("1")


def lcs_length(s1: str, s2: str) -> int:
    """Length of the longest common subsequence (bit-parallel)."""
    m = len(s1)
    if m == 0 or len(s2) == 0:
        return 0
    return _lcs(_char_masks(s1), m, s2)


def indel_distance(s1: str, s2: str) -> int:
    return len(s1) + len(s2) - 2 * lcs_length(s1, s2)


def indel_ratio(s1: str, s2: str) -> float:
    """rapidfuzz ``fuzz.ratio``: normalized Indel similarity in [0, 100]."""
    total = len(s1) + len(s2)
    if total == 0:
        return 100.0
    return 100.0 * (total - indel_distance(s1, s2)) / total


# ---------------------------------------------------------------------------
# partial / token variants (fuzzywuzzy/rapidfuzz published algorithms)
# ---------------------------------------------------------------------------

def partial_ratio(s1: str, s2: str) -> float:
    """Best Indel ratio of the shorter string vs. equal-length windows of
    the longer one (sliding-window definition of fuzz.partial_ratio)."""
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    if not s1:
        return 0.0
    m, n = len(s1), len(s2)
    if m == n:
        return indel_ratio(s1, s2)
    best = 0.0
    masks = _char_masks(s1)
    # score every window with one bit-parallel pass each
    for start in range(0, n - m + 1):
        lcs = _lcs(masks, m, s2[start : start + m])
        score = 100.0 * lcs / m  # equal lengths: (2m - 2(m-lcs))/2m
        if score > best:
            best = score
            if best == 100.0:
                break
    return best


def _tokens(s: str):
    return s.split()


def token_sort_ratio(s1: str, s2: str) -> float:
    return indel_ratio(" ".join(sorted(_tokens(s1))), " ".join(sorted(_tokens(s2))))


def token_set_ratio(s1: str, s2: str) -> float:
    t1, t2 = set(_tokens(s1)), set(_tokens(s2))
    if not t1 or not t2:
        return 0.0
    sect = t1 & t2
    diff1 = sorted(t1 - t2)
    diff2 = sorted(t2 - t1)
    if sect and (not diff1 or not diff2):
        return 100.0
    sect_s = " ".join(sorted(sect))
    s1_full = (sect_s + " " + " ".join(diff1)).strip()
    s2_full = (sect_s + " " + " ".join(diff2)).strip()
    scores = [indel_ratio(s1_full, s2_full)]
    if sect_s:
        scores.append(indel_ratio(sect_s, s1_full))
        scores.append(indel_ratio(sect_s, s2_full))
    return max(scores)


def token_ratio(s1: str, s2: str) -> float:
    return max(token_sort_ratio(s1, s2), token_set_ratio(s1, s2))


def partial_token_ratio(s1: str, s2: str) -> float:
    srt1 = " ".join(sorted(_tokens(s1)))
    srt2 = " ".join(sorted(_tokens(s2)))
    best = partial_ratio(srt1, srt2)
    t1, t2 = set(_tokens(s1)), set(_tokens(s2))
    if t1 and t2:
        sect = t1 & t2
        if sect:
            return 100.0
        d1 = " ".join(sorted(t1 - t2))
        d2 = " ".join(sorted(t2 - t1))
        if d1 and d2:
            best = max(best, partial_ratio(d1, d2))
    return best


def wratio(s1: str, s2: str) -> float:
    """Pure-Python fuzz.WRatio (weighted ratio), rapidfuzz semantics."""
    if not s1 or not s2:
        return 0.0
    len1, len2 = len(s1), len(s2)
    len_ratio = max(len1, len2) / min(len1, len2)
    end_ratio = indel_ratio(s1, s2)
    UNBASE = 0.95
    if len_ratio < 1.5:
        return max(end_ratio, token_ratio(s1, s2) * UNBASE)
    partial_scale = 0.9 if len_ratio < 8 else 0.6
    end_ratio = max(end_ratio, partial_ratio(s1, s2) * partial_scale)
    return max(end_ratio, partial_token_ratio(s1, s2) * UNBASE * partial_scale)


def score(s1: str, s2: str) -> float:
    if HAVE_RAPIDFUZZ:  # pragma: no cover
        return _rf_fuzz.WRatio(s1, s2, processor=None)
    return wratio(s1, s2)


# ---------------------------------------------------------------------------
# extractOne over an ordered key list
# ---------------------------------------------------------------------------

def _bag(s: str) -> dict:
    b: dict = {}
    for ch in s:
        b[ch] = b.get(ch, 0) + 1
    return b


def _bag_common(b1: dict, b2: dict) -> int:
    if len(b2) < len(b1):
        b1, b2 = b2, b1
    return sum(min(n, b2.get(ch, 0)) for ch, n in b1.items())


def _str_stats(s: str):
    """(len, token_set, bag, sorted_len, sorted_bag, uniq_len, uniq_bag)
    for the WRatio upper bound: the original string, its token-sorted
    join (token_sort/partial_token operand), and its unique-token join
    (token_set/diff operand)."""
    toks = s.split()
    ks = " ".join(sorted(toks))
    ku = " ".join(sorted(set(toks)))
    bag = _bag(s)
    return (
        len(s),
        set(toks),
        bag,
        len(ks),
        bag if ks == s else _bag(ks),
        len(ku),
        bag if ku == s else _bag(ku),
    )


def _wratio_upper_bound(q, k) -> float:
    """Provable upper bound on wratio(s1, s2) from character-bag overlap.

    Every WRatio component is an Indel ratio of (rearrangements /
    windows / token-subset joins) of the two strings, and an Indel
    ratio is 200·LCS/(l1+l2) with LCS ≤ the character-multiset
    intersection of its operands — so each component is bounded by bag
    overlap over the operands it actually compares:

    - ratio: 200·C/(l1+l2) on the originals;
    - token_sort: same on the token-sorted joins (multiset preserved);
    - token_set: 100 iff a token is shared (the sect shortcut),
      else the diff strings are the unique-token joins → bound there;
    - partial_*: each window's LCS ≤ C and score = 100·LCS/m with m
      the shorter operand.

    WRatio's own 0.95/0.9/0.6 scale factors and length-ratio branches
    are applied exactly as in :func:`wratio`.
    """
    (lq, tq, bq, lsq, bsq, luq, buq) = q
    (lk, tk, bk, lsk, bsk, luk, buk) = k
    c = _bag_common(bq, bk)
    r = 200.0 * c / (lq + lk)
    shared = not tq.isdisjoint(tk)
    lo, hi = (lq, lk) if lq <= lk else (lk, lq)
    if hi < 1.5 * lo:
        ts_sort = (
            200.0 * _bag_common(bsq, bsk) / (lsq + lsk) if lsq + lsk else 0.0
        )
        if shared:
            tok = 100.0
        elif luq and luk:
            tok = max(ts_sort, 200.0 * _bag_common(buq, buk) / (luq + luk))
        else:
            tok = ts_sort
        return max(r, 0.95 * tok)
    sc = 0.9 if hi < 8 * lo else 0.6
    pr = 100.0 * min(c, lo) / lo
    if shared:
        pt = 100.0
    else:
        ms = min(lsq, lsk)
        mu = min(luq, luk)
        pt = max(
            100.0 * min(_bag_common(bsq, bsk), ms) / ms if ms else 0.0,
            100.0 * min(_bag_common(buq, buk), mu) / mu if mu else 0.0,
        )
    return max(r, sc * pr, 0.95 * sc * pt)


class KeyIndex:
    """Per-key character counts for the character-bag WRatio bound, laid
    out so a query evaluates the bound once per bucket of keys and reads
    it off for the keys that can still reach the cutoff.

    The count matrix ``m0`` is stored transposed as ``(chars, keys)`` in
    the smallest unsigned type that holds the counts, so a query's
    characters read contiguous rows.  Columns are ordered by the keys'
    lengths (l0 original, l1 token-sorted join, l2 unique-token join) and
    joiner spaces that the key's own spaces do not back, so each bucket
    of keys equal in all four is one contiguous column range (``b_off``),
    and ``kid`` maps a column back to the key's insertion index.  A
    token→columns index (one offsets and one ids array) finds the keys
    that share a token with the query.

    :meth:`_grid` evaluates :func:`_wratio_upper_bound`'s branch math,
    with the same float expressions, per bucket and original-bag overlap;
    :meth:`candidates` reads both its integer filter thresholds and every
    candidate's bound from that one table.  The table bound is never
    below the scalar bound, and equals it when query and key are
    single-spaced and repeat no token (tests/test_properties.py), so
    :func:`extract_one` returns the same (key, score) as a full scan.

    ``TermResolver`` builds one per ontology when it is constructed on the
    driver; the index rides the broadcast pickle, so a worker only
    unpickles arrays and never builds one.
    """

    def __init__(self, keys):
        n = len(keys)
        rows = np.arange(n, dtype=np.int64)
        l0 = np.fromiter(map(len, keys), dtype=np.int64, count=n)
        # character rows: the keys' code points plus ' ', the joiner of
        # the token variants; one bincount over (row, key) fills m0
        cps = np.frombuffer(
            "".join(keys).encode("utf-32-le", "surrogatepass"), dtype=np.uint32
        )
        seen = np.bincount(cps, minlength=33)
        seen[32] = 1
        chars = seen.nonzero()[0]
        C = len(chars)
        lut = np.zeros(len(seen), dtype=np.int64)
        lut[chars] = np.arange(C)
        m0 = np.bincount(lut[cps] * n + np.repeat(rows, l0), minlength=C * n).reshape(C, n)
        m0 = m0.astype(np.min_scalar_type(int(m0.max(initial=0))))
        char_list = [chr(c) for c in chars.tolist()]
        self.char_ix = {ch: j for j, ch in enumerate(char_list)}
        # keys holding each character: the filter takes rare rows first
        self.df = np.count_nonzero(m0, axis=1)
        # token-sorted join: str.split() drops every isspace run, and the
        # join puts ntok-1 single spaces back
        toks = [k.split() for k in keys]
        ntok = np.fromiter(map(len, toks), dtype=np.int64, count=n)
        spaces = np.maximum(ntok - 1, 0)
        ws = np.array([ch.isspace() for ch in char_list], dtype=bool)
        l1 = l0 - m0[ws].sum(axis=0, dtype=np.int64) + spaces
        # joiner spaces that the key's own spaces do not back
        gap = np.maximum(spaces - m0[self.char_ix[" "]], 0)
        # token→keys, deduplicated per key
        flat = list(itertools.chain.from_iterable(toks))
        tok_id = dict(zip(dict.fromkeys(flat), itertools.count()))
        tids = np.fromiter(map(tok_id.__getitem__, flat), dtype=np.int64, count=len(flat))
        pairs = np.unique(tids * n + np.repeat(rows, ntok))
        ptok, pkey = np.divmod(pairs, n)
        # unique-token join: the key's distinct tokens and one joiner
        # space fewer than them
        tlen = np.fromiter(map(len, tok_id), dtype=np.int64, count=len(tok_id))
        nuniq = np.bincount(pkey, minlength=n)
        l2 = np.bincount(pkey, weights=tlen[ptok], minlength=n).astype(np.int64)
        l2 += np.maximum(nuniq - 1, 0)
        # lay the columns out by (l0, l1, l2, gap), so each bucket of keys
        # equal in all four is one contiguous range
        kid = np.lexsort((gap, l2, l1, l0))
        col = np.empty(n, dtype=np.int64)
        col[kid] = rows
        self.kid = kid.astype(np.int32)
        self.m0 = m0.take(kid, axis=1)
        l0, l1, l2, gap = (x[kid] for x in (l0, l1, l2, gap))
        self.tok_id = tok_id
        self.tok_off = np.concatenate(
            ([0], np.cumsum(np.bincount(ptok, minlength=len(tok_id))))
        ).astype(np.int32)
        self.tok_cols = col[pkey].astype(np.int32)
        # buckets of the non-empty keys (empty keys sort first)
        ne = int(np.searchsorted(l0, 1))
        starts = ne + np.flatnonzero(
            np.diff(l0[ne:], prepend=0)
            | np.diff(l1[ne:], prepend=-1)
            | np.diff(l2[ne:], prepend=-1)
            | np.diff(gap[ne:], prepend=-1)
        )
        self.b_off = np.append(starts, n)
        self.b_len, self.b_l1, self.b_l2, self.b_gap = (
            x[starts] for x in (l0, l1, l2, gap)
        )

    def _common(self, bag, cols):
        """Original-bag overlap of ``bag`` with the keys in columns ``cols``."""
        top = np.iinfo(self.m0.dtype).max
        out = np.zeros(len(cols), dtype=np.int64)
        for ch, cnt in bag.items():
            j = self.char_ix.get(ch)
            if j is not None:
                # clipping at the type's top cannot change min(count, key count)
                out += self.m0[j].take(cols).clip(0, min(cnt, top))
        return out

    def _sharing(self, tq):
        """Columns of the keys that share a token with the query."""
        off, parts = self.tok_off, []
        for t in tq:
            j = self.tok_id.get(t)
            if j is not None:
                parts.append(self.tok_cols[off[j] : off[j + 1]])
        return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int32)

    def _grid(self, qstat):
        """:func:`_wratio_upper_bound` per bucket (rows) and original-bag
        overlap c0 = 0..lq (columns), in two planes: keys that share no
        token with the query, then keys that share one.

        The token-sorted joins drop whitespace and put ntok−1 spaces back,
        so c1 = c0 − (whitespace overlap) + min(joiner spaces), which is at
        most e(c0) = c0 + min(dq, max(gq, gk)): dq is the query's joiner
        spaces, and gq, gk the joiner spaces that a string's own spaces do
        not back (0 for single-spaced text).  A unique-token bag is
        pointwise no larger than a sorted one, so c2 ≤ c1.  Every branch
        of the bound grows with the overlaps, so plane 0 evaluates it at
        c1 = c2 = e(c0): never below the scalar bound, equal to it when
        both strings are single-spaced and repeat no token, and monotone
        in c0.  For a token-sharing key token_set and partial_token are
        100, and the bound reads c0 alone, so plane 1 is exact.
        """
        (lq, tq, bq, lsq, bsq, luq, buq) = qstat
        c0 = np.arange(lq + 1)
        l0, l1, l2 = (x[:, None] for x in (self.b_len, self.b_l1, self.b_l2))
        dq = bsq.get(" ", 0)
        gq = max(dq - bq.get(" ", 0), 0)
        c1 = c2 = c0 + np.minimum(dq, np.maximum(gq, self.b_gap))[:, None]
        shared = np.array([False, True])[:, None, None]
        r = 200.0 * c0 / (lq + l0)
        lo = np.minimum(lq, l0)
        hi = np.maximum(lq, l0)
        # branch 1: hi < 1.5*lo
        den1 = lsq + l1
        ts_sort = np.where(den1 > 0, 200.0 * c1 / np.maximum(den1, 1), 0.0)
        den2 = luq + l2
        uniq = np.where(den2 > 0, 200.0 * c2 / np.maximum(den2, 1), 0.0)
        uniq_ok = (luq > 0) & (l2 > 0)
        tok = np.where(
            shared, 100.0, np.where(uniq_ok, np.maximum(ts_sort, uniq), ts_sort)
        )
        b1 = np.maximum(r, 0.95 * tok)
        # branch 2
        sc = np.where(hi < 8 * lo, 0.9, 0.6)
        pr = 100.0 * np.minimum(c0, lo) / lo
        ms = np.minimum(lsq, l1)
        mu = np.minimum(luq, l2)
        pt_s = np.where(ms > 0, 100.0 * np.minimum(c1, ms) / np.maximum(ms, 1), 0.0)
        pt_u = np.where(mu > 0, 100.0 * np.minimum(c2, mu) / np.maximum(mu, 1), 0.0)
        pt = np.where(shared, 100.0, np.maximum(pt_s, pt_u))
        b2 = np.maximum(r, np.maximum(sc * pr, 0.95 * sc * pt))
        return np.where(hi < 1.5 * lo, b1, b2)

    def candidates(self, qstat, cutoff):
        """``(cols, ubs)``: columns, ascending, of a superset of the keys
        whose bound + 1e-6 reaches ``cutoff``, and each one's bound read
        from :meth:`_grid`.

        A key that shares no token with the query needs c0 ≥ t, its
        bucket's first overlap whose plane-0 bound + 1e-6 reaches the
        cutoff: it may miss at most lq − t of the query's character
        occurrences.  A query character that no key holds is a miss for
        every key.  The others are taken rarest first (fewest keys), and
        each drops the keys whose misses so far exceed that slack: over
        every column while most survive, then over the survivors only.  A
        survivor's accumulator is its slack plus its exact c0, and plane 0
        at c0 is its bound.  A key that shares a token with the query
        (token index) always stays, with plane 1's bound at its c0.
        """
        lq, tq, bq = qstat[:3]
        ix, df = self.char_ix, self.df
        top = np.iinfo(self.m0.dtype).max
        absent = sum(n for ch, n in bq.items() if ch not in ix)
        rows = sorted((df[ix[ch]], ix[ch], n) for ch, n in bq.items() if ch in ix)
        grid = self._grid(qstat)
        ok = grid[0] + 1e-6 >= cutoff
        # no key can hold more than min(lq, l0) of the query's characters
        t = np.where(ok.any(axis=1), ok.argmax(axis=1), np.minimum(lq, self.b_len) + 1)
        # acc: a column's slack plus its overlap so far, |acc| ≤ 2·lq + 1;
        # a column is dropped once acc < the occurrences taken so far.
        # Dense over every non-empty column until few survive, then gathered.
        a = int(self.b_off[0])
        slack = lq - absent - t
        acc_t = np.promote_types(np.int16, np.min_scalar_type(-2 * lq - 1))
        acc = np.repeat(slack, np.diff(self.b_off)).astype(acc_t)
        taken, cols = 0, None
        for _, j, n in rows:
            have = self.m0[j, a:] if cols is None else self.m0[j].take(cols)
            acc += have.clip(0, min(n, top))
            taken += n
            ok = acc >= taken
            if cols is not None:
                cols, acc = cols[ok], acc[ok]
                if not len(cols):
                    break
            elif 4 * np.count_nonzero(ok) < len(ok):
                cols = np.flatnonzero(ok)
                acc = acc[cols]
                cols += a
        if cols is None:
            ok = acc >= taken
            cols, acc = np.flatnonzero(ok) + a, acc[ok]
        b = np.searchsorted(self.b_off, cols, side="right") - 1
        ubs = grid[0, b, acc - slack[b]]
        sh = self._sharing(tq)
        if not len(sh):
            return cols, ubs
        # a sharing key's plane-1 bound replaces any plane-0 one
        b = np.searchsorted(self.b_off, sh, side="right") - 1
        cols, first = np.unique(np.concatenate((sh, cols)), return_index=True)
        return cols, np.concatenate((grid[1, b, self._common(bq, sh)], ubs))[first]


def build_key_index(keys) -> KeyIndex:
    """The fuzzy prune's :class:`KeyIndex` over ``keys`` (insertion order)."""
    return KeyIndex(keys)


def extract_one(query: str, keys, score_cutoff: float, key_stats=None):
    """First key (insertion order) with the maximum WRatio ≥ cutoff, or None.

    Matches ``rapidfuzz.process.extractOne`` tie-breaking: later keys must
    *strictly* beat the current best to replace it, so with preserved OBO
    term order the chosen key (and thus the mapped id) is identical to the
    reference (SURVEY.md §7.4 risk 1).

    Without ``key_stats`` this is the plain WRatio scan over every key.
    ``key_stats`` (a :class:`KeyIndex` from :func:`build_key_index`)
    prunes it: :meth:`KeyIndex.candidates` filters the keys with integer
    tests and reads each candidate's character-bag bound from one
    per-query table, and WRatio runs, in insertion order, only on keys
    whose bound can still reach max(cutoff, best).  At HPO dictionary scale (50k keys) a
    distinct unmatched surface pays a handful of WRatio evaluations.  The
    prune only skips keys that provably cannot win, so the returned
    (key, score) is bit-identical to the full scan.  The rapidfuzz path
    ignores ``key_stats``.
    """
    if not query:
        return None
    if HAVE_RAPIDFUZZ:  # pragma: no cover
        res = _rf_process.extractOne(
            query, keys, scorer=_rf_fuzz.WRatio, score_cutoff=score_cutoff, processor=None
        )
        return None if res is None else (res[0], float(res[1]))
    best_key = None
    best_score = -1.0
    if key_stats is None:
        ids, ubs = [i for i, key in enumerate(keys) if key], None
    else:
        # the keys whose bound reaches the cutoff, in insertion order —
        # identical tie-break, identical result
        qstat = _str_stats(query)
        cols, ubs = key_stats.candidates(qstat, score_cutoff)
        if not len(cols):
            return None
        ubs = ubs + 1e-6
        keep = ubs >= score_cutoff
        ids, ubs = key_stats.kid[cols[keep]], ubs[keep]
        order = ids.argsort()
        ids, ubs = ids[order], ubs[order]
    i = 0
    while i < len(ids):
        key = keys[ids[i]]
        i += 1
        s = wratio(query, key)
        if s >= score_cutoff and s > best_score:
            best_key = key
            best_score = s
            if best_score == 100.0:
                break
            if ubs is not None:
                # later keys must strictly beat s: keep those whose bound can
                rest = ubs[i:] > s
                ids, ubs, i = ids[i:][rest], ubs[i:][rest], 0
    if best_key is None:
        return None
    return (best_key, best_score)
