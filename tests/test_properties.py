"""Property-based tests (hypothesis) over the pure resolver kernels —
no SparkSession needed, so these run in milliseconds.

Targets: vectorized/scalar normalization agreement, LCS fallback vs the
reference DP definition, fuzzy extract_one contract, imputation
unknown-strategy warning parity."""

import pandas as pd
from hypothesis import example, given, settings, strategies as st

from phenoqc_spark.ontology.fuzzy import extract_one, wratio
from phenoqc_spark.ontology.normalize import normalize_series, normalize_text

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=40
)
letters = st.text(alphabet=st.sampled_from("abcdefghij"), min_size=1, max_size=8)
word_st = st.builds(" ".join, st.lists(letters, min_size=1, max_size=3))


@settings(max_examples=300, deadline=None)
@given(text_st)
def test_normalize_series_matches_scalar(s):
    out = normalize_series(pd.Series([s], dtype="object")).iloc[0]
    assert out == normalize_text(s)


@settings(max_examples=300, deadline=None)
@given(text_st)
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


def _lcs_dp(a: str, b: str) -> int:
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0]
        for j, y in enumerate(b):
            cur.append(prev[j] + 1 if x == y else max(prev[j + 1], cur[-1]))
        prev = cur
    return prev[-1]


@settings(max_examples=100, deadline=None)
@given(st.lists(text_st, min_size=0, max_size=12), st.integers(min_value=1, max_value=3))
def test_pdf_writer_structure_holds_for_any_content(texts, n_pages):
    """The hand-rolled PDF 1.4 writer (pdfgen.py) must emit structurally
    valid output for ANY text content: header/EOF framing, startxref
    pointing at the xref table, every xref offset pointing at its 'N 0
    obj' header, and parenthesis/backslash-safe literal strings."""
    from phenoqc_spark.pdfgen import PdfCanvas

    c = PdfCanvas()
    for p in range(n_pages - 1):
        c.new_page()
    for i, s in enumerate(texts):
        c.text(50, 50 + 14 * (i % 40), s, size=9)
        c.rect(40, 40 + (i % 5), 10 + i, 4)
    data = c.build()
    assert data.startswith(b"%PDF-1.4") and data.rstrip().endswith(b"%%EOF")
    xref_at = int(data.rsplit(b"startxref", 1)[1].split(b"%%EOF")[0].strip())
    assert data[xref_at : xref_at + 4] == b"xref"
    body = data[xref_at:].split(b"trailer")[0].decode()
    entries = body.splitlines()[2:]
    for i, line in enumerate(entries):
        if line.endswith("n "):
            off = int(line.split()[0])
            assert data[off:].startswith(f"{i} 0 obj".encode()), (i, off)
    # stream lengths are exact: /Length N matches the bytes between
    # stream\n and \nendstream for every content stream
    import re as _re

    for m in _re.finditer(rb"<< /Length (\d+) >>\nstream\n", data):
        n = int(m.group(1))
        start = m.end()
        assert data[start + n : start + n + 10] == b"\nendstream"


@settings(max_examples=200, deadline=None)
@given(word_st, word_st)
def test_wratio_bounds_and_identity(a, b):
    s = wratio(a, b)
    assert 0.0 <= s <= 100.0
    assert wratio(a, a) == 100.0
    # symmetry of the composed scorer
    assert abs(wratio(a, b) - wratio(b, a)) < 1e-9


@settings(max_examples=200, deadline=None)
@given(st.lists(word_st, min_size=1, max_size=8, unique=True))
def test_extract_one_self_retrieval(keys):
    # querying with an existing key must return that key at score 100
    term = keys[0]
    got = extract_one(term, keys, score_cutoff=80.0)
    assert got is not None
    key, score = got[0], got[1]
    assert score == 100.0
    # insertion-order tie-break: the first key scoring 100 wins
    first_100 = next(k for k in keys if wratio(term, k) == 100.0)
    assert key == first_100


@settings(max_examples=150, deadline=None)
@given(word_st, st.lists(word_st, min_size=1, max_size=6))
def test_extract_one_cutoff_contract(term, keys):
    cutoff = 80.0
    got = extract_one(term, keys, score_cutoff=cutoff)
    best = max(wratio(term, k) for k in keys)
    if got is None:
        assert best < cutoff
    else:
        assert got[1] >= cutoff and abs(got[1] - best) < 1e-9


@settings(max_examples=400, deadline=None)
@given(word_st, word_st)
def test_wratio_bag_upper_bound_is_sound(a, b):
    # the character-bag prune bound must dominate the true score —
    # otherwise extract_one's prune could skip the real best key
    from phenoqc_spark.ontology.fuzzy import _str_stats, _wratio_upper_bound

    assert wratio(a, b) <= _wratio_upper_bound(_str_stats(a), _str_stats(b)) + 1e-9


@settings(max_examples=200, deadline=None)
@given(word_st, st.lists(word_st, min_size=1, max_size=8), st.sampled_from([0.0, 50.0, 80.0, 95.0]))
def test_extract_one_prune_is_behavior_identical(term, keys, cutoff):
    # key_stats enables the filter + bag-bound prune; the result must be
    # bit-identical to the full scan
    from phenoqc_spark.ontology.fuzzy import build_key_index

    keys = tuple(keys)
    assert extract_one(term, keys, cutoff) == extract_one(
        term, keys, cutoff, key_stats=build_key_index(keys)
    )


# keys beyond single-spaced ASCII words: leading/trailing/doubled spaces,
# tabs and NBSP (str.split() whitespace), repeated tokens, non-ASCII
# letters, the empty key, and one key past 255 copies of a character
# (the count matrices widen from uint8)
odd_token = st.text(alphabet=st.sampled_from("abcéß"), min_size=1, max_size=4)
odd_sep = st.sampled_from([" ", "  ", "\t", "\xa0", " \t"])
odd_key_st = st.one_of(
    word_st,
    st.just(""),
    st.just("a" * 300),
    st.builds(lambda t, sep: sep.join([t, t, "b"]), odd_token, odd_sep),
    st.builds(
        lambda pre, toks, sep, post: pre + sep.join(toks) + post,
        st.sampled_from(["", " ", "\t", "\xa0"]),
        st.lists(odd_token, min_size=1, max_size=4),
        odd_sep,
        st.sampled_from(["", " ", "  ", "\xa0"]),
    ),
)


@settings(max_examples=150, deadline=None)
@given(
    st.one_of(word_st, odd_key_st.filter(bool)),
    st.lists(odd_key_st, min_size=1, max_size=8),
    st.sampled_from([0.0, 50.0, 80.0, 95.0]),
)
def test_key_index_vector_bound_matches_scalar(term, keys, cutoff):
    # every candidate's table bound must be at least its scalar bound (so
    # the prune inherits the scalar soundness proof) and equal to it when
    # query and key are single-spaced and repeat no token, also after a
    # pickle round trip (the index rides the resolver broadcast); at
    # cutoff 0 every non-empty key is a candidate.  The pruned
    # extract_one must be bit-identical to the unpruned one
    import pickle

    from phenoqc_spark.ontology.fuzzy import (
        _str_stats,
        _wratio_upper_bound,
        build_key_index,
    )

    def plain(s):
        toks = s.split()
        return s == " ".join(toks) and len(set(toks)) == len(toks)

    keys = tuple(keys)
    ki = build_key_index(keys)
    q = _str_stats(term)
    assert sorted(ki.kid.tolist()) == list(range(len(keys)))
    shipped = pickle.loads(pickle.dumps(ki))
    for cut in sorted({0.0, cutoff}):
        cols, ubs = ki.candidates(q, cut)
        ids = ki.kid[cols].tolist()
        if cut == 0.0:
            assert sorted(ids) == [i for i, k in enumerate(keys) if k]
        for i, ub in zip(ids, ubs.tolist()):
            ref = _wratio_upper_bound(q, _str_stats(keys[i]))
            assert ub >= ref - 1e-9
            if plain(term) and plain(keys[i]):
                assert abs(ub - ref) < 1e-9
        got = shipped.candidates(q, cut)
        assert got[0].tolist() == cols.tolist() and got[1].tolist() == ubs.tolist()
    assert extract_one(term, keys, cutoff) == extract_one(term, keys, cutoff, key_stats=ki)


def test_key_index_bounds_token_sharing_keys_at_partial_scale():
    # keys that share the token "ab" with the query and are >= 8x its
    # length fall in WRatio's 0.6 partial branch, where the exact bound
    # is max(r, 0.6·pr, 0.57·100) = 60: the token index keeps both keys,
    # their bound cuts them at cutoff 80 and admits them at 50, where
    # both score 60 and the first in insertion order wins
    from phenoqc_spark.ontology.fuzzy import (
        _str_stats,
        _wratio_upper_bound,
        build_key_index,
    )

    term = "ab"
    keys = ("ab cdefghijklmnop", "xy ab qrstuvwxyzab")
    ki = build_key_index(keys)
    q = _str_stats(term)
    cols, ubs = ki.candidates(q, 80.0)
    assert sorted(ki.kid[cols].tolist()) == [0, 1]
    for i, ub in zip(ki.kid[cols].tolist(), ubs.tolist()):
        assert abs(ub - _wratio_upper_bound(q, _str_stats(keys[i]))) < 1e-9
    assert ubs.max() < 80.0
    assert extract_one(term, keys, 80.0, key_stats=ki) is None
    assert extract_one(term, keys, 50.0, key_stats=ki) == extract_one(term, keys, 50.0)
    assert extract_one(term, keys, 50.0) == ("ab cdefghijklmnop", 60.0)


def _edge_keys(term, fill):
    """Keys at WRatio's length-ratio edges around ``term``: exactly 1.5x
    and 8x its length and one short of each (the term, then ``fill``), the
    term's prefixes the query is 1.5x and 8x longer than, and its tokens
    reversed (same characters, most likely no shared token) joined by a
    space and by ``fill`` (a tab: joiner spaces no original space backs)."""
    lq = len(term)
    longer = {3 * lq // 2, 3 * lq // 2 - 1, 8 * lq, 8 * lq - 1}
    shorter = {-(-2 * lq // 3), 2 * lq // 3, lq // 8, -(-lq // 8)}
    rev = [t[::-1] for t in reversed(term.split())]
    return (
        [(term + fill * L)[:L] for L in sorted(longer) if L > 0]
        + [term[:L] for L in sorted(shorter) if L > 0]
        + [" ".join(rev), fill.join(rev)]
    )


# whitespace-only keys, and keys past 255 copies of a character, of spaces
# and of tokens (the joiner-space count outgrows every character count)
ws_key_st = st.sampled_from([" ", "\t", "  ", "\xa0 \t"])
long_key_st = st.sampled_from(
    ["é" * 256 + " b", "a" + " " * 300 + "b", " ".join(["ab"] * 300), "\t".join(["a"] * 260)]
)


@settings(max_examples=120, deadline=None)
@given(
    st.one_of(word_st, odd_key_st.filter(bool)),
    st.lists(st.one_of(odd_key_st, ws_key_st), min_size=0, max_size=6),
    st.lists(long_key_st, max_size=2, unique=True),
    st.sampled_from(["a", "b", "é", " ", "\t"]),
    st.sampled_from([0.0, 50.0, 80.0, 95.0, 100.0]),
)
@example("abc de", [], [], "\t", 95.0)  # a tab-joined key's joiner space
@example("ab\tcd", [], [], "a", 95.0)  # a tab-joined query's joiner space
def test_key_index_filter_is_complete(term, keys, long_keys, fill, cutoff):
    # the integer filter must keep every key whose scalar bound + 1e-6
    # reaches the cutoff, so extract_one equals the plain full scan
    import numpy as np

    from phenoqc_spark.ontology.fuzzy import (
        _str_stats,
        _wratio_upper_bound,
        build_key_index,
    )

    keys = tuple(keys + long_keys + _edge_keys(term, fill))
    ki = build_key_index(keys)
    q = _str_stats(term)
    cand, _ = ki.candidates(q, cutoff)
    assert np.all(np.diff(cand) > 0)
    need = {
        i
        for i, k in enumerate(keys)
        if k and _wratio_upper_bound(q, _str_stats(k)) + 1e-6 >= cutoff
    }
    assert need <= set(ki.kid[cand].tolist())
    assert extract_one(term, keys, cutoff, key_stats=ki) == extract_one(term, keys, cutoff)


def test_key_index_counts_joiner_spaces_past_255():
    # 300 two-character tokens joined by tabs and spaces: no character
    # repeats 256 times, yet the token-sorted join holds 299 spaces.  The
    # query shares no token (each gains an "x") and scores 81.4 on
    # token_sort, so a joiner count wrapped at 255 would prune its key
    from phenoqc_spark.ontology.fuzzy import build_key_index

    toks = [chr(0x4E00 + 2 * i) + chr(0x4E01 + 2 * i) for i in range(300)]
    key = "".join(t + "\t "[i % 2] for i, t in enumerate(toks))[:-1]
    term = " ".join(t + "x" for t in toks)
    keys = (key,)
    hit = extract_one(term, keys, 80.0)
    assert hit is not None and hit[0] == key
    assert extract_one(term, keys, 80.0, key_stats=build_key_index(keys)) == hit


def test_key_index_filter_keeps_few_keys_at_dictionary_scale():
    # 50k phrases of 2-4 random lowercase words: one-letter typos of keys
    # keep few candidates (a median of <= 1%), never fewer than the bound
    # needs, and still find a key at least as close as the one they typo
    import random
    import string

    import numpy as np

    from phenoqc_spark.ontology.fuzzy import (
        _str_stats,
        _wratio_upper_bound,
        build_key_index,
    )

    rng = random.Random(5)
    letters = string.ascii_lowercase
    keys = list(
        dict.fromkeys(
            " ".join(
                "".join(rng.choices(letters, k=rng.randint(4, 10)))
                for _ in range(rng.randint(2, 4))
            )
            for _ in range(50_500)
        )
    )[:50_000]
    assert len(keys) == 50_000
    ki = build_key_index(keys)
    stats = [_str_stats(k) for k in keys]
    fracs = []
    for src in keys[::2_500]:
        j = rng.randrange(len(src))
        term = src[:j] + rng.choice(letters) + src[j + 1 :]
        q = _str_stats(term)
        cand, _ = ki.candidates(q, 80.0)
        need = [i for i, k in enumerate(stats) if _wratio_upper_bound(q, k) + 1e-6 >= 80.0]
        assert set(need) <= set(ki.kid[cand].tolist())
        fracs.append(len(cand) / len(keys))
        hit = extract_one(term, keys, 80.0, key_stats=ki)
        assert hit is not None and hit[1] >= wratio(term, src)
    assert sorted(fracs)[len(fracs) // 2] <= 0.01, fracs


def test_impute_unknown_strategy_warns(spark):
    import warnings

    from phenoqc_spark.operators.imputation import impute

    df = spark.createDataFrame(
        [(1, None), (2, 5.0)], "id long, v double"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = impute(df, "not_a_strategy")
        rows = {r.id: r.v for r in out.collect()}
    assert any("unknown imputation strategy" in str(x.message) for x in w)
    # data unchanged (reference: warn + no-op)
    assert rows[1] is None and rows[2] == 5.0
