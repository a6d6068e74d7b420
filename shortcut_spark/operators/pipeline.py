"""Composite corpus-cleaning pipeline — the end-to-end shape a
pre-training data pipeline actually runs, composed from the individual
operators (quality filter → language filter → exact dedup → MinHash
near-dedup) as lazy DataFrame plans.

The reference has no document surface at all (its values are opaque,
``src/lib.rs:75``); this is extension surface per SURVEY §2.3, and exists
to prove the operators COMPOSE: every stage is a column expression or a
bounded-key shuffle, so Catalyst fuses the scans. The one cut is after
exact dedup: its output feeds both the near-dedup and the final
anti-join, and Spark does not reuse the dedup exchange across those
branches, so the output is materialized once with a lazy local
checkpoint — released with the result, unlike a ``persist`` that
nothing would ever unpersist.

Scale shape (100 TB): quality + language are map-only expression stages
fused into the scan; exact dedup is one aggregate on the content hash;
near-dedup shuffles only band buckets and candidate id pairs (see
``operators.dedup``). Nothing in the pipeline shuffles document text
except the shingle arrays feeding the verify join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import exact_dedup, minhash_near_dups
from .text import lang_guess_expr, quality_expr

__all__ = ["clean_corpus", "clean_corpus_report"]


def _scored(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text, quality, lang_guess) — quality + language are per-row
    expressions over ONE tokenization of one scan: no self-joins, no
    re-reads, no repeated regex splits."""
    from .text import tokens as _tokens

    pre = df.select(
        F.col(id_col),
        F.col(text_col),
        _tokens(F.lower(F.col(text_col))).alias("__toks_l"),
    )
    return pre.select(
        F.col(id_col),
        F.col(text_col),
        quality_expr(F.col(text_col), F.col("__toks_l")).alias("quality"),
        lang_guess_expr(F.col("__toks_l")).alias("lang_guess"),
    )


def _cascade(
    scored: DataFrame, id_col: str, text_col: str, min_quality: float, langs: tuple, *near
) -> tuple[DataFrame, DataFrame]:
    """The stages after scoring — quality and language filters, exact
    dedup, MinHash near-dedup with ``near`` as its (shingle_n, num_hashes,
    bands, jaccard_threshold) — as (exact-dedup survivors, near-dedup
    survivors). The exact-dedup output is a lazy local checkpoint: it
    feeds the near-dedup and the anti-join, and Spark reuses no exchange
    across branches."""
    kept = scored.filter((F.col("quality") >= min_quality) & F.col("lang_guess").isin(*langs))
    exact = exact_dedup(kept, id_col, text_col).localCheckpoint(eager=False)
    pairs = minhash_near_dups(exact, id_col, text_col, *near)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return exact, exact.join(losers, id_col, "left_anti")


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: float = 0.3,
    langs: tuple = ("en",),
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Surviving documents after the standard cleaning cascade.

    1. ``quality_score >= min_quality``
    2. ``language_id`` guess in ``langs``
    3. exact dedup — keep the min-id document per identical normalized
       content
    4. MinHash-LSH near-dedup, greedy-by-id: a document is dropped iff it
       has ANY smaller-id candidate partner with jaccard >= threshold
       (the standard LSH dedup policy — deterministic and
       order-independent; NOT transitive closure, which would need
       connected components).

    Output: (id, lang_guess, quality) for survivors.
    """
    _, final = _cascade(
        _scored(df, id_col, text_col), id_col, text_col, min_quality, langs,
        shingle_n, num_hashes, bands, jaccard_threshold,
    )
    return final.select(id_col, "lang_guess", "quality")


def clean_corpus_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_quality: float = 0.3,
    langs: tuple = ("en",),
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Stage-by-stage funnel report for :func:`clean_corpus` — the
    observability artifact a production cleaning pipeline lives on: how
    many documents survive each stage (total → quality → language →
    exact dedup → near dedup). A silent 90% drop at one stage is a data
    incident; this makes it one query.

    Built from ``clean_corpus``'s own stages (:func:`_scored`,
    :func:`_cascade`). The scored projection is persisted before the
    cascade plans over it, so the filter counts and the cascade share one
    tokenization, and the exact-dedup checkpoint serves its count, the
    near-dedup and the anti-join. The output is five (stage, n_docs) rows
    with a sortable stage prefix.
    """
    scored = _scored(df, id_col, text_col).persist()
    exact, final = _cascade(
        scored, id_col, text_col, min_quality, langs,
        shingle_n, num_hashes, bands, jaccard_threshold,
    )
    q_pass = scored.filter(F.col("quality") >= min_quality)

    def stage(name: str, d: DataFrame) -> DataFrame:
        return d.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    report = (
        stage("00_total", df)
        .unionByName(stage("01_quality", q_pass))
        .unionByName(stage("02_language", q_pass.filter(F.col("lang_guess").isin(*langs))))
        .unionByName(stage("03_exact_dedup", exact))
        .unionByName(stage("04_near_dedup", final))
    )
    # The report is exactly five rows — materialize it now so the persisted
    # scored projection can be released immediately. Returning the lazy DAG
    # instead would leak one cached projection per invocation in a
    # long-lived driver session (nobody would ever unpersist it).
    rows = report.collect()
    scored.unpersist()
    return df.sparkSession.createDataFrame(rows, report.schema)
