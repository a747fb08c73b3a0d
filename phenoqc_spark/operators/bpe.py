"""Distributed byte-pair-encoding merge training — the tokenizer-training
step of a training-data pipeline (Sennrich et al.; the algorithm GPT-2/
RoBERTa-style tokenizers train with), re-expressed on Spark aggregates.

Why it distributes cleanly: BPE training never needs the corpus after
the first pass — it needs the WORD VOCABULARY with counts (a frame that
is orders of magnitude smaller than the corpus and bounded by distinct
word forms), and each merge step needs only (a) the global
adjacent-symbol-pair counts over that vocabulary (one explode +
hash-aggregate, map-side combining) and (b) a per-row symbol rewrite
(one JVM ``replace`` — no Python anywhere).  The driver holds just the
argmax pair per step (one row) and the growing merge list.

Determinism: ties on pair count break by pair string ascending, so the
merge sequence is a pure function of the corpus — partitioning- and
rerun-invariant, twin-checkable against a pure-Python reference
(scripts/gen_bpe_golden.py).

Scale shape: the corpus is touched ONCE (tokenize + word count); every
iteration then runs on the vocab frame (distinct words), whose symbol
strings it rewrites in place.  ``localCheckpoint`` every few merges
truncates the replace-chain lineage.  Reference analogue: none — the
reference QCs tabular records; this is a beyond-reference
training-data extra (SURVEY §2 extras).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["bpe_train", "bpe_pair_counts", "apply_merges"]

# merges between localCheckpoints of the vocab frame (lineage truncation)
_CHECKPOINT_EVERY = 5


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) distinct lowercase whitespace words with corpus counts
    — the only corpus-sized pass in BPE training."""
    toks = F.split(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " ")
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(toks).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _to_symbols(word_col):
    """' c h a r s ' — space-joined single-char symbols, space-padded so
    a merge replace ' a b ' -> ' ab ' can never match inside a larger
    symbol (symbols themselves never contain spaces)."""
    return F.concat(
        F.lit(" "), F.array_join(F.split(word_col, ""), " "), F.lit(" ")
    )


def bpe_pair_counts(vocab_syms: DataFrame) -> DataFrame:
    """(left, right, n) adjacent-symbol pair counts over the symbolized
    vocab frame, weighted by word count — one explode + one aggregate."""
    syms = F.split(F.trim(F.col("syms")), " ")
    idx = F.sequence(F.lit(0), F.size(syms) - 2)
    pairs = F.when(F.size(syms) >= 2, F.transform(
        idx, lambda i: F.struct(
            F.element_at(syms, i + 1).alias("left"),
            F.element_at(syms, i + 2).alias("right"),
        )
    )).otherwise(F.array().cast("array<struct<left:string,right:string>>"))
    return (
        vocab_syms.select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.left").alias("left"), F.col("p.right").alias("right"))
        .agg(F.sum("cnt").alias("n"))
    )


def apply_merges(df: DataFrame, merges, text_col: str = "text", out_col: str = "bpe_tokens") -> DataFrame:
    """Tokenize ``text_col`` with a trained merge list: per word, split to
    chars and apply every merge in order (the standard greedy encoder) —
    pure JVM ``replace`` chain over the space-joined symbol string, one
    ``transform`` per row, no Python."""
    toks = F.split(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " ")

    def encode(w):
        s = F.concat(F.lit(" "), F.array_join(F.split(w, ""), " "), F.lit(" "))
        for a, b in merges:
            s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        return F.split(F.trim(s), " ")

    return df.withColumn(out_col, F.flatten(F.transform(toks, encode)))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
):
    """Train ``n_merges`` BPE merges over the corpus.

    Returns ``(merges, vocab_syms)``: the ordered merge list
    ``[(left, right, pair_count), …]`` and the final symbolized vocab
    frame (word, cnt, syms) for inspection.  See module docstring for
    the distribution argument; the driver only ever receives the argmax
    pair per step.
    """
    vocab = _word_vocab(df, text_col).select(
        "word", "cnt", _to_symbols(F.col("word")).alias("syms")
    ).localCheckpoint(eager=True)
    merges: list = []
    for step in range(n_merges):
        top = (
            bpe_pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0].n < 2:
            break
        a, b, n = top[0].left, top[0].right, int(top[0].n)
        merges.append((a, b, n))
        vocab = vocab.withColumn(
            "syms", F.replace(F.col("syms"), F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        )
        if (step + 1) % _CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges, vocab
