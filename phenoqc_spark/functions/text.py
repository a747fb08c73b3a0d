"""Page-level text processing: Arrow pandas UDFs and SQL expression text.

All per-row Python in the engine is vectorized through Arrow batches
(BASELINE.json input_hint: "no per-row Python") — these are Series→Series
pandas UDFs, JVM↔Python transfer is columnar.  JVM-side expressions are
built as SQL text (one driver call per projection, not one per Column
node); ``sql_ident``/``sql_string`` quote every name spliced into it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

HTML_PREFIX = b"<html><body><p>"
HTML_SUFFIX = b"</p></body></html>"


def _extract_one(b) -> str | None:
    if b is None:
        return None
    if b.startswith(HTML_PREFIX) and b.endswith(HTML_SUFFIX):
        return b[len(HTML_PREFIX) : -len(HTML_SUFFIX)].decode("utf-8")
    # Generic fallback: deterministic tag-strip (still byte-stable per input).
    import re

    return re.sub(rb"<[^>]*>", b"", b).decode("utf-8", errors="replace")


@pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Deterministic, byte-identical text extraction per url.

    The per-row invariant (BASELINE.md): for synthetic pages the html is
    exactly ``<html><body><p>`` + utf-8(text) + ``</p></body></html>``, so
    extraction is the exact inverse.  This replaces the reference's
    chunked CSV/JSON readers (reference: src/phenoqc/input.py:4-79) as the
    record-acquisition step.

    The conforming-wrapper path is fully vectorized: one ``.str.decode``
    over the batch, then C-level startswith/endswith/slice on the decoded
    strings (the wrapper is pure ASCII, so character slicing equals byte
    slicing and the result is byte-identical to the bytes-level inverse).
    Only non-conforming rows fall back to the per-row regex tag-strip.
    """
    decoded = html.str.decode("utf-8", "replace")
    prefix, suffix = HTML_PREFIX.decode(), HTML_SUFFIX.decode()
    mask = (decoded.str.startswith(prefix) & decoded.str.endswith(suffix)).fillna(False)
    out = pd.Series([None] * len(html), index=html.index, dtype=object)
    if mask.any():
        out[mask] = decoded[mask].str.slice(len(prefix), -len(suffix))
    slow = ~mask & html.notna()
    if slow.any():
        out[slow] = html[slow].map(_extract_one)
    return out


def extract_text_expr(col: str) -> str:
    """JVM twin of :func:`extract_text`, as SQL expression text over the
    binary column ``col``; the default extraction path.

    For the conforming wrapper (``<html><body><p>…</p></body></html>``,
    ASCII, so character offsets equal byte offsets) this is a codegen
    ``substr``; non-conforming rows fall back to the same ``<[^>]*>``
    tag-strip as the UDF, applied to the decoded string.  The html bytes
    never cross the JVM↔Python Arrow boundary.

    Byte-parity caveat (why the UDF remains available): for INVALID
    UTF-8, Java's binary→string cast and Python's ``decode('utf-8',
    'replace')`` can emit different U+FFFD replacement runs, and the
    tag-strip regex runs on decoded characters here vs raw bytes in the
    UDF.  The page generator never produces such rows; corpora that can
    should pass ``jvm_extract=False`` to ``extract_records``.
    """
    prefix, suffix = HTML_PREFIX.decode(), HTML_SUFFIX.decode()
    pl, sl = len(prefix), len(suffix)
    c = sql_ident(col)
    d = f"CAST({c} AS STRING)"
    return (
        f"CASE WHEN {c} IS NULL THEN CAST(NULL AS STRING) ELSE CASE"
        f" WHEN startswith({d}, {sql_string(prefix)})"
        f" AND endswith({d}, {sql_string(suffix)})"
        f" THEN substr({d}, {pl + 1}, length({d}) - {pl + sl})"
        f" ELSE regexp_replace({d}, '<[^>]*>', '') END END"
    )


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: any column name,
    dots and backticks included, refers to that one top-level column."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(value: str) -> str:
    """``value`` as a single-quoted SQL string literal, under the default
    backslash-escape parsing (``spark.sql.parser.escapedStringLiterals``
    off)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


@pandas_udf(StringType())
def normalize_terms(terms: pd.Series) -> pd.Series:
    """Vectorized NFKC normalization (reference: src/phenoqc/mapping.py:99-109)."""
    from phenoqc_spark.ontology.normalize import normalize_series

    return normalize_series(terms)

