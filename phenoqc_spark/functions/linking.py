"""Entity linking against the broadcast ontology dictionaries.

``link_terms_inline`` is the fact path's link hop: one ``mapInPandas``
over the term rows that resolves each batch's unique terms through the
resolver's per-executor memo — the reference's per-chunk
``dropna().unique()`` (reference: src/phenoqc/batch_processing.py:594) —
and fans the links back out with a pandas merge.  The dictionaries ride
a Spark broadcast variable and the fact side is never shuffled for
linking.  ``link_distinct_terms`` resolves an already-distinct frame
of (…, term_norm) rows, keeps the other columns and emits unmapped
pairs too: ``mapping_stats`` feeds it distinct (column, term_norm)
pairs, and ``resolve_vocab`` (the wide QC table) distinct terms.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def link_distinct_terms(distinct_terms: DataFrame, resolver_bc) -> DataFrame:
    """(…, term_norm) → (…, term_norm, ontology, term_id, tier, score).

    One output row per input row and target ontology; the input columns
    pass through.  Unmapped (term, ontology) pairs are emitted with NULL
    term_id so mapping-rate metrics (reference:
    batch_processing.py:778-790) can be computed from the same output.
    The input is expected to be distinct; a term repeated under several
    keys resolves once per executor through the resolver's memo.
    """
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in distinct_terms.schema.fields
    ) + ", ontology string, term_id string, tier string, score double"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        resolver = resolver_bc.value
        targets = resolver.default_ontologies
        for pdf in batches:
            out_id, out_tier, out_score = [], [], []
            for t in pdf["term_norm"].tolist():
                detailed = resolver.map_term_cached(t)
                for onto in targets:
                    res = detailed.get(onto) or (None, None, None)
                    out_id.append(res[0])
                    out_tier.append(res[1])
                    out_score.append(res[2])
            out = pdf.loc[pdf.index.repeat(len(targets))].reset_index(drop=True)
            yield out.assign(
                ontology=targets * len(pdf),
                term_id=out_id,
                tier=out_tier,
                score=out_score,
            )

    return distinct_terms.mapInPandas(gen, schema)


def link_terms_inline(
    terms: DataFrame,
    resolver_bc,
    normalize: bool = False,
    drop_input_cols: tuple = (),
) -> DataFrame:
    """Single-pass linking: resolve per batch with a per-executor memo cache.

    Each Arrow batch resolves its unique terms through
    ``TermResolver.map_term_cached`` (per-executor memo), which is the
    reference's per-chunk ``unique()`` contract
    (batch_processing.py:594): hub terms hit the cache, and the fact side
    is read once and never shuffled.

    Input: (…, term_norm), or (…, term) with ``normalize=True``, which
    normalizes each batch's unique surface forms first; output: input
    columns + (ontology, term_id, tier, score), matched rows only.
    ``drop_input_cols`` names input columns to OMIT from the yielded
    frame: every column crossing the Python→JVM boundary costs Arrow
    transfer, so the fact path drops the raw ``term`` once ``term_norm``
    replaces it.
    """
    drop = set(drop_input_cols)
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in terms.schema.fields
        if f.name not in drop
    )
    in_cols = [f.name for f in terms.schema.fields if f.name not in drop]
    if normalize:
        # normalization fused here: the fact path has one Python stage
        out_fields += ", term_norm string"
        in_cols = in_cols + ["term_norm"]
    schema = f"{out_fields}, ontology string, term_id string, tier string, score double"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from phenoqc_spark.ontology.normalize import normalize_series

        resolver = resolver_bc.value
        targets = resolver.default_ontologies
        for pdf in batches:
            if normalize:
                # normalize batch-UNIQUE surface forms and map back (term
                # columns are Zipfian, so the regex chain runs once per
                # surface form, not per row).  NaN terms map to NaN, exactly
                # as a full-column normalize would.
                uniq_terms = pdf["term"].dropna().unique()
                norm_map = pd.Series(
                    normalize_series(pd.Series(uniq_terms, dtype=object)).values,
                    index=uniq_terms,
                )
                pdf = pdf.assign(term_norm=pdf["term"].map(norm_map))
            # resolve once per batch-unique term (memoized across batches),
            # then fan out with a C-level pandas merge — no per-row Python
            uniq = pdf["term_norm"].dropna().unique()
            link_rows = []
            for t in uniq:
                if not t:
                    continue
                detailed = resolver.map_term_cached(t)
                for onto in targets:
                    res = detailed.get(onto)
                    if res is not None:
                        link_rows.append((t, onto, res[0], res[1], res[2]))
            links_pdf = pd.DataFrame(
                link_rows, columns=["term_norm", "ontology", "term_id", "tier", "score"]
            )
            out = pdf.merge(links_pdf, on="term_norm", how="inner")
            yield out[in_cols + ["ontology", "term_id", "tier", "score"]]

    return terms.mapInPandas(gen, schema)
