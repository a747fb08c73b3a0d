"""Bucketed Bloom-filter membership for incremental exact dedup.

The plain :func:`~phenoqc_spark.operators.dedup.dedup_exact_incremental`
anti-joins every new batch against the FULL seen-content hash state — at
the 100 TB tier that join touches a state table that grows with the
corpus, even though the overwhelming majority of batch rows are new
content that matches nothing.  A Bloom filter inverts the cost: a compact
bitmap (≈ 1.2 bytes/item at 1 % fpp) answers "definitely unseen" for
most rows map-side, and only the bloom-POSITIVE remainder (true dups +
the fpp sliver) is exactly verified — by broadcasting its distinct
hashes into a map-side scan of the state, so the state itself never
enters an Exchange (measured: 518.9 MB vs <1 MB shuffled per 1M-doc
batch at a 16M-hash state, BENCH/DEDUP.md; local wall-clock honestly
still favors the plain join).  Because Bloom filters have no false
negatives and every positive is exactly verified, the operator's output
is bit-identical to the plain anti-join — which is what the DuckDB
oracle checks (``dd_exact_bloom``).

Spark-first shape (nothing RDD-side, no row-at-a-time Python):

- the 128-bit md5 every dedup operator already computes IS the hash
  source: ``h1 = first 64 bits, h2 = last 64 bits``, probe positions by
  Kirsch–Mitzenmacher double hashing ``(h1 + i·h2) mod m_bucket`` — no
  extra hashing of document text anywhere;
- the bitmap is built DISTRIBUTEDLY: state hashes group by
  ``pmod(xxhash64(md5), n_buckets)`` (JVM-side), one
  ``applyInPandas`` per bucket packs that bucket's positions into a
  numpy bitmap — the shuffle carries 16-byte hashes, the result is
  ``n_buckets`` rows of ``m_bucket/8`` bytes;
- the probe is one Arrow ``pandas_udf`` over (md5, bucket) with the
  bucket→bitmap dict in a spark broadcast — per-executor one copy of
  the whole filter, never a per-row bitmap join (an equi-join on bucket
  would replicate the bitmap onto every row of its Arrow batch).

Driver/broadcast memory is the full bitmap (``m/8`` bytes), so
:func:`bloom_from_state` takes a ``max_bytes`` guard (default 256 MB ≈
2×10⁹ items at 1 % fpp) and raises past it; the documented scale-out
past that point is sharding the state by hash prefix and running one
bloom per shard (the same escape hatch as the paragraph-dedup literal
guard).  Reference analogue: none — PhenoQC's chunked pandas loop
re-reads its whole dedup index per chunk (batch_processing.py); this is
the from-scratch 100 TB replacement, not a port.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, BooleanType, IntegerType, StructField, StructType

__all__ = [
    "bloom_from_state",
    "bloom_might_contain",
    "dedup_exact_incremental_bloom",
    "prefer_bloom",
]


def prefer_bloom(
    state_rows: int,
    batch_rows: int,
    state_is_remote: bool = True,
    reps_per_build: int = 1,
) -> bool:
    """Should an ingest loop prefilter the incremental exact dedup with a
    Bloom filter, or just run the plain state anti-join?

    The bloom's win is STRUCTURAL, not local wall-clock: the state never
    enters an Exchange (<1 MB vs 519 MB shuffled per 1M-doc batch at a
    16M-hash state, BENCH/DEDUP.md), which matters when the state is a
    remote Iceberg/Delta table re-shuffled per tick on a real cluster.
    On a single node with the state already local, the plain anti-join is
    honestly ~2.6× FASTER (6.0 s vs 2.3 s at 16M hashes) because the
    bloom pays an Arrow probe plus a bitmap build that one local shuffle
    does not.  Heuristic encoded here:

    - tiny state (≤ ~1M hashes): the anti-join broadcast path in
      ``dedup_exact_incremental`` already avoids shuffling anything big —
      bloom never pays off;
    - local state: plain join wins on wall-clock; prefer bloom only when
      the filter is REUSED across many batches per build
      (``reps_per_build ≥ 4`` amortizes the build);
    - remote state at ≥ state≫batch scale: bloom wins — each tick's
      Exchange of the full state is the dominant cost it removes.
    """
    if state_rows <= 1_000_000:
        return False
    if not state_is_remote:
        return reps_per_build >= 4
    return state_rows >= 10 * max(1, batch_rows)


def _bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """Classic sizing: m = -n·ln p / ln²2 bits, k = (m/n)·ln 2 probes."""
    n = max(1, int(expected_items))
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _positions(hex_hashes: pd.Series, k: int, m_bucket: int) -> np.ndarray:
    """(len, k) int64 probe positions from md5 hex strings — h1/h2 are the
    two 64-bit halves of the md5 itself (already uniform; no re-hash)."""
    raw = np.frombuffer(
        bytes.fromhex("".join(hex_hashes)), dtype=">u8"
    ).reshape(-1, 2)
    h1 = raw[:, 0].astype(np.uint64)
    h2 = raw[:, 1].astype(np.uint64) | np.uint64(1)  # odd → full-period stride
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bucket)).astype(
        np.int64
    )


def bloom_from_state(
    state: DataFrame,
    value_col: str = "content_hash",
    fpp: float = 0.01,
    n_buckets: int = 64,
    expected_items: "int | None" = None,
    max_bytes: int = 256 * 1024 * 1024,
) -> tuple[DataFrame, dict]:
    """Build a bucketed Bloom filter over a hash-state column.

    Returns ``(bloom_df, params)``: ``bloom_df`` has one
    (bucket int, bitmap binary) row per bucket (size ``m/8/n_buckets``
    bytes each), ``params`` carries (k, m_bucket, n_buckets) and must be
    passed to the probe so build and probe agree bit-for-bit.

    ``expected_items`` defaults to ``state.count()`` (one cheap
    count-only job over the 16-byte hash column); pass it explicitly on
    hot paths that already know the state size.
    """
    if value_col not in state.columns:
        raise ValueError(f"state needs a '{value_col}' column")
    if expected_items is None:
        expected_items = state.count()
    m_total, k = _bloom_params(expected_items, fpp)
    if m_total // 8 > max_bytes:
        raise ValueError(
            f"bloom bitmap would be {m_total // 8 >> 20} MB > max_bytes; shard the "
            "state by hash prefix and build one bloom per shard"
        )
    # round m_bucket up so total capacity never shrinks below m_total
    m_bucket = max(8, int(math.ceil(m_total / n_buckets / 8)) * 8)
    params = {"k": k, "m_bucket": m_bucket, "n_buckets": n_buckets}

    schema = StructType(
        [StructField("bucket", IntegerType()), StructField("bitmap", BinaryType())]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bm = np.zeros(m_bucket // 8, dtype=np.uint8)
        pos = _positions(pdf["_h"], k, m_bucket).ravel()
        np.bitwise_or.at(bm, pos >> 3, np.left_shift(1, pos & 7).astype(np.uint8))
        return pd.DataFrame({"bucket": [int(pdf["_b"].iloc[0])], "bitmap": [bm.tobytes()]})

    # no dropDuplicates: re-setting a present hash's bits is idempotent,
    # so duplicate state rows cost nothing and the build's only shuffle
    # is the bucket grouping itself
    hashes = state.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).alias("_h"),
        F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_buckets)).cast("int").alias("_b"),
    )
    return hashes.groupBy("_b").applyInPandas(pack, schema), params


def bloom_might_contain(
    df: DataFrame,
    bloom_df: DataFrame,
    params: dict,
    hash_col: str,
    out_col: str = "might_seen",
) -> DataFrame:
    """Add a boolean ``out_col``: False ⇒ the hash is DEFINITELY not in
    the state (no false negatives); True ⇒ verify exactly.

    The bloom table is collected (bounded: ``n_buckets × m_bucket/8``
    bytes, guarded at build time) and spark-broadcast; the probe is one
    Arrow batch udf — empty buckets (absent rows) answer False.
    """
    spark = df.sparkSession
    k, m_bucket, n_buckets = params["k"], params["m_bucket"], params["n_buckets"]
    # flatten the per-bucket bitmaps into ONE contiguous array indexed by
    # bucket·m_bucket + pos — the probe then vectorizes over the whole
    # Arrow batch with no per-bucket slicing (empty buckets stay zero ⇒
    # probe False, the correct definitely-unseen answer)
    flat = getattr(bloom_df, "_phenoqc_bloom_flat", None)
    if flat is None:
        flat = np.zeros(n_buckets * (m_bucket // 8), dtype=np.uint8)
        for r in bloom_df.collect():
            bm = np.frombuffer(r.bitmap, dtype=np.uint8)
            flat[int(r.bucket) * (m_bucket // 8) : (int(r.bucket) + 1) * (m_bucket // 8)] = bm
        # memoize on the DataFrame handle: an ingest loop passing the same
        # bloom= across batches collects the bitmap once, not per batch
        bloom_df._phenoqc_bloom_flat = flat  # type: ignore[attr-defined]
    bc = spark.sparkContext.broadcast(flat)

    @F.pandas_udf(BooleanType())
    def probe(h: pd.Series, b: pd.Series) -> pd.Series:
        bm = bc.value
        out = np.zeros(len(h), dtype=bool)
        # null hash (md5 of null text — realistic web-crawl input where
        # extraction failed) can never be IN the hash state: answer the
        # definitely-unseen False instead of crashing bytes.fromhex
        mask = h.notna().to_numpy()
        if not mask.any():
            return pd.Series(out)
        pos = _positions(h[mask], k, m_bucket)
        gpos = b.to_numpy().astype(np.int64)[mask][:, None] * np.int64(m_bucket) + pos
        hits = (bm[gpos >> 3] & np.left_shift(1, gpos & 7).astype(np.uint8)) != 0
        out[mask] = hits.all(axis=1)
        return pd.Series(out)

    bucket = F.pmod(F.xxhash64(F.col(hash_col)), F.lit(n_buckets)).cast("int")
    return df.withColumn(out_col, probe(F.col(hash_col), bucket))


def dedup_exact_incremental_bloom(
    new_df: DataFrame,
    seen_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fpp: float = 0.01,
    n_buckets: int = 64,
    expected_items: "int | None" = None,
    bloom: "tuple[DataFrame, dict] | None" = None,
) -> DataFrame:
    """Exact-dedup a new batch against the seen-content state, with the
    state join prefiltered by a Bloom filter — output identical to
    :func:`~phenoqc_spark.operators.dedup.dedup_exact_incremental`
    (oracle-checked), cost proportional to the batch plus only its
    bloom-positive sliver touching the state.

    Pass ``bloom=(bloom_df, params)`` from a prior :func:`bloom_from_state`
    to amortize the build across an ingest loop — the filter only needs
    rebuilding when the state epoch advances (a stale bloom that misses
    the newest state rows is still CORRECT here only if the state passed
    in matches it; the verify join runs against ``seen_hashes`` as given,
    so keep the pair consistent).

    **When NOT to use this**: on a single node with a local, small
    (≤ ~1M-hash) state, the plain
    :func:`~phenoqc_spark.operators.dedup.dedup_exact_incremental`
    anti-join is ~2.6× faster in wall-clock (BENCH/DEDUP.md) — the
    bloom's win is the removed state Exchange, which only dominates for
    a remote state re-shuffled per ingest tick.  Use
    :func:`prefer_bloom` to pick per regime.
    """
    from .dedup import dedup_exact

    if "content_hash" not in seen_hashes.columns:
        raise ValueError("seen_hashes state needs a 'content_hash' column")
    bloom_df, params = bloom or bloom_from_state(
        seen_hashes, "content_hash", fpp, n_buckets, expected_items
    )
    hashed = new_df.withColumn("_ch", F.md5(F.col(text_col)))
    flagged = bloom_might_contain(hashed, bloom_df, params, "_ch")
    # the probed batch feeds BOTH the sliver branch and the final
    # anti-join — a lazy local checkpoint (filled by dedup_exact's
    # drop-list count) so the Arrow probe runs once, not per branch
    flagged = flagged.localCheckpoint(eager=False)
    # Verify WITHOUT shuffling the state (a sliver-LEFT-ANTI-state join
    # would shuffle the full state — the exact cost the bloom exists to
    # avoid): the sliver's distinct hashes are batch-bounded, so
    # broadcast them INTO a map-side scan of the state; the inner join
    # yields the confirmed-dup hashes (≤ sliver), which broadcast back
    # against the whole batch.  The state is scanned once map-side and
    # never enters an Exchange; neither does the batch until
    # ``dedup_exact``'s own (md5, id) projection.  A definite-new row can
    # never carry a confirmed hash (state members always probe True), so
    # one anti-join over the full batch replaces the two-branch union.
    sliver = flagged.filter(F.col("might_seen")).select("_ch").distinct()
    confirmed = seen_hashes.join(
        F.broadcast(sliver),
        F.col("content_hash") == F.col("_ch"),
        "inner",
    ).select("_ch")
    batch_new = flagged.join(F.broadcast(confirmed), "_ch", "left_anti").drop(
        "_ch", "might_seen"
    )
    return dedup_exact(batch_new, text_col, id_col)
