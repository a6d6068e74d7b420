"""Deduplication operators for large-scale text corpora.

All variants are pure DataFrame compositions (no Python UDFs) and scale as
shuffles on bounded keys:

- exact:   hash-groupBy on a canonical content hash — one shuffle.
- minhash: shingle → H min-hashes → band buckets → bucket-join → verify.
  Candidate generation touches only docs sharing a band bucket, the
  classic MinHash-LSH join; the final exact-jaccard verify runs only on
  candidate pairs, from the two shingle arrays each pair joins in.
- simhash: per-token 32-bit hashes → bitwise majority → 32-bit fingerprint;
  near-dup = small hamming distance, banded by block combinations
  (multi-index hamming, auto-sized from the corpus count) so the pair
  join never goes all-pairs.
- ngram-jaccard: exact pairwise jaccard via an inverted shingle index
  (self-join on shingle) — exact but quadratic in bucket size; its
  candidate branch verifies exploded candidate rows
  (``jaccard_pairs_prefix``).

Hashes are md5-derived (``functions.hash32``) rather than murmur so every
step has a DuckDB-expressible twin for the correctness oracle.

The reference has no dedup surface (its values are opaque, ``src/lib.rs:75``);
these are the driver-mandated LLM-pipeline extensions (SURVEY §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import _row_bound, ensure_parallelism as _ensure_parallelism
from ..functions import fingerprint, hash32, tokens

__all__ = [
    "NearDupIndex",
    "exact_dup_groups",
    "exact_dedup",
    "shingles",
    "shingle_arrays",
    "minhash_signature",
    "minhash_signature_arrays",
    "minhash_candidates",
    "jaccard_pairs",
    "jaccard_pairs_prefix",
    "minhash_near_dups",
    "simhash",
    "simhash_near_dups",
    "passage_arrays",
    "passage_dups",
    "strip_repeated_passages",
    "dup_clusters",
    "cross_corpus_exact_dedup",
    "cross_corpus_near_dups",
    "cross_corpus_dedup",
    "cdc_chunk_arrays",
    "cdc_passage_dups",
    "strip_repeated_cdc_chunks",
    "source_overlap_matrix",
    "dedup_rate_report",
    "containment_pairs",
    "novelty_scores",
    "winnow_fingerprints",
    "winnow_pairs",
    "jaccard_pairs_weighted",
]


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical *normalized* content; one row per content group with
    the keeper (min id) and the group size."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep exactly one row per identical normalized content: the one with
    the minimum id. A row with a NULL id never survives.

    One aggregate on the content hash and nothing else: the minimum of a
    struct led by the id carries the whole keeper row through the
    aggregate, so nothing joins back to the input, and partial
    aggregation collapses a boilerplate family map-side. Every column
    must be orderable (no map columns). With duplicate ids each content
    still keeps exactly one row: ties on the id are broken by the rest
    of the row, and a row whose content has a smaller id elsewhere is
    dropped even when its own id keeps some other content."""
    rest = [df[c] for c in df.columns if c != id_col]
    keeper = F.min(F.struct(df[id_col], *rest)).alias("__k")
    return (
        df.filter(df[id_col].isNotNull())
        .groupBy(fingerprint(df[text_col]).alias("__fp"))
        .agg(keeper)
        .select(*[F.col("__k")[c].alias(c) for c in df.columns])
    )


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, __shs): the document's distinct word n-gram shingles as an
    array column. Entirely map-side — ``array_distinct`` dedupes within the
    row, so no shuffle happens at all. At 100 TB this is the difference
    between a pure scan stage and shuffling trillions of (id, shingle)
    rows just to dedupe them."""
    df = _ensure_parallelism(df)
    t = tokens(F.lower(F.col(text_col)))
    sh_arr = F.when(
        F.size(F.col("__toks")) >= n,
        F.expr(
            f"transform(sequence(0, size(__toks) - {n}), i -> concat_ws(' ', slice(__toks, i + 1, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), t.alias("__toks"))
        .select(F.col(id_col), F.array_distinct(sh_arr).alias("__shs"))
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Explode of :func:`shingle_arrays` — per-doc distinctness comes from the
    array, so there is no global ``distinct()`` shuffle."""
    return shingle_arrays(df, id_col, text_col, n).select(
        F.col(id_col), F.explode("__shs").alias("shingle")
    )


def minhash_signature(
    sh: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """(id, sig_0..sig_{H-1}): min over the doc's shingles of H independent
    md5-derived hash functions.

    Hash i = hex slice j of md5("g:"||shingle) with g = i//4, j = i%4 — one
    md5 yields four 32-bit hashes, so H hashes cost ceil(H/4) digests per
    shingle (the md5s are materialized once before the groupBy). SQL twin
    slices the same digests.
    """
    groups = (num_hashes + 3) // 4
    md5s = [
        F.md5(F.concat(F.lit(f"{g}:"), F.col("shingle"))).alias(f"__m{g}")
        for g in range(groups)
    ]
    pre = sh.select(F.col(id_col), *md5s)
    aggs = [
        F.min(
            F.conv(F.substring(F.col(f"__m{i // 4}"), 8 * (i % 4) + 1, 8), 16, 10).cast("long")
        ).alias(f"sig_{i}")
        for i in range(num_hashes)
    ]
    return pre.groupBy(id_col).agg(*aggs)


def minhash_signature_arrays(
    arr: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """Signatures computed per-row from the shingle *array* — min over
    ``transform``-ed md5 slices with ``array_min``, so the whole signature
    build is a map stage with no shuffle (vs the explode + groupBy of
    :func:`minhash_signature`, which shuffles every shingle). Docs with an
    empty shingle set are dropped, matching the groupBy variant where they
    simply produce no rows."""
    # NB: lambdas passed to transform/aggregate must declare exactly the
    # higher-order arity — pyspark counts defaulted params too, so closing
    # over the loop variable needs a factory, not a default arg.
    def _md5_col(g: int):
        return F.transform(F.col("__shs"), lambda s: F.md5(F.concat(F.lit(f"{g}:"), s)))

    def _sig_col(i: int):
        return F.array_min(
            F.transform(
                F.col(f"__m{i // 4}"),
                lambda m: F.conv(F.substring(m, 8 * (i % 4) + 1, 8), 16, 10).cast("long"),
            )
        )

    groups = (num_hashes + 3) // 4
    pre = arr.filter(F.size("__shs") > 0).select(
        F.col(id_col), *[_md5_col(g).alias(f"__m{g}") for g in range(groups)]
    )
    return pre.select(
        F.col(id_col), *[_sig_col(i).alias(f"sig_{i}") for i in range(num_hashes)]
    )


def _pin_merge_if_exploded(banded: DataFrame, source: DataFrame, fanout: int) -> DataFrame:
    """Deliberate join strategy for banded candidate joins (opt guide §3):
    the optimizer prices a band join off the COMPACT source relation's
    bytes — the ``fanout``-way band explosion is invisible to it, so a
    corpus whose source fits the broadcast threshold on disk can plan a
    broadcast of the EXPLODED side. Measured r13: an attempted 8.4 GiB
    broadcast (hard failure) at 2M fingerprints × 56 band keys, and even
    a fitting multi-GB broadcast lost 13× to a shuffle. When the
    driver-side estimate of the exploded size (source plan bytes ×
    fanout) exceeds the broadcast threshold, pin sort-merge; tiny
    corpora keep the broadcast fast path. Results are strategy-
    independent (pytest-pinned). A source of unknown size (an RDD-backed
    or Python-list input, :func:`_plan_size_bytes` None) pins merge too:
    nothing bounds its explosion."""
    from ..functions import _plan_size_bytes

    try:
        thresh = int(
            banded.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760"
            )
        )
    except ValueError:
        thresh = 10 * 1024 * 1024
    if thresh <= 0:
        return banded
    size = _plan_size_bytes(source)
    if size is None or size * fanout > thresh:
        return banded.hint("merge")
    return banded


def _banded(sig: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bh): each doc exploded to its LSH band keys — band index
    plus md5 of that band's signature slice, so each bucket is tiny at
    scale. Shared by the self-join (:func:`minhash_candidates`) and the
    cross-corpus join (:func:`cross_corpus_near_dups`)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws(",", *cols)).alias("bh")))
    return sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")).select(
        id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def minhash_candidates(
    sig: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band become a candidate
    pair (a < b)."""
    banded = _pin_merge_if_exploded(
        _banded(sig, id_col, num_hashes, bands), sig, bands
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def _drop_hot_shingles(sh: DataFrame, id_col: str, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` — the
    stop-shingle / df-cap guard for inverted-index self-joins. A shingle
    shared by d documents contributes d·(d-1)/2 candidate pairs, so ONE
    boilerplate trigram in 1M docs creates ~10¹² pairs; shingles that hot
    carry no discriminative signal and are dropped BEFORE the join.

    Shape: one (shingle → df) aggregate, then a left-anti join of the
    shingle relation against the (tiny at any scale — it is the set of
    shingles hotter than max_df) hot set, which AQE broadcasts."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > F.lit(max_df))
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def jaccard_pairs(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    candidates: DataFrame | None = None,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Exact jaccard over shingle sets for every pair sharing ≥1 shingle
    (or only ``candidates`` pairs when given): inverted-index self-join,
    |A∩B| from the join, |A| and |B| from per-doc counts. Integer counts →
    the similarity double is identical in any engine.

    ``max_df`` (default 10 000) drops shingles hotter than that document
    frequency BEFORE the join (see :func:`_drop_hot_shingles`); sizes are
    computed AFTER the cap, so the result is exact jaccard over the
    df-capped shingle space — the standard stop-shingle semantics, and
    self-consistent (|A∩B| and |A|,|B| count the same universe). Pass
    ``max_df=None`` to disable. The cap applies to the candidates path
    too, and :func:`minhash_near_dups` applies the same cap to its
    array-native verify, so both score the same space."""
    if max_df is not None:
        sh = _drop_hot_shingles(sh, id_col, max_df)
    # capped relation feeds sizes + both join sides: compute it once
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        # verify-only path: expand each candidate pair by its shingle sets —
        # work is O(candidates × shingles-per-doc), never all-pairs
        a = sh.select(F.col(id_col).alias("id_a"), "shingle")
        b = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, "shingle")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → sign → band → verify.

    The shingle arrays feed the signature build (map-only, see
    :func:`minhash_signature_arrays`) and the verify, which scores each
    candidate pair from the two arrays it joins in: |A∩B| is
    ``size(array_intersect)``, |A| and |B| are array sizes, so no
    shingle is exploded or re-aggregated per pair. The arrays feed four
    consumers (signatures, hot set, both verify sides), so they are
    materialized once with a lazy local checkpoint, which the session
    reclaims with the result (a ``persist`` would stay pinned until
    someone unpersists it). Only the banding join, the candidate
    ``distinct`` and the verify joins shuffle.

    ``max_df`` drops shingles hotter than that document frequency from
    the scored space, as :func:`jaccard_pairs` does: the hot set (one
    shingle → df aggregate, tiny at any scale) is collected into one
    array, broadcast, and removed from both arrays of a pair before the
    sizes and the intersection are taken, so the scores are exact
    jaccard over the df-capped shingle space. A pair with no shared
    shingle left scores nothing and is dropped. Measured A/B in
    docs/SCALE.md's skew-probe table. Ids are assumed unique: a
    duplicated id is scored once per row."""
    arr = shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=False)
    sig = minhash_signature_arrays(arr, id_col, num_hashes)
    cand = minhash_candidates(sig, id_col, num_hashes, bands)
    a = arr.select(F.col(id_col).alias("id_a"), F.col("__shs").alias("__a"))
    b = arr.select(F.col(id_col).alias("id_b"), F.col("__shs").alias("__b"))
    pairs = cand.join(a, "id_a").join(b, "id_b")
    if max_df is not None:
        hot = (
            arr.select(F.explode("__shs").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > F.lit(max_df))
            .agg(F.collect_list("shingle").alias("__hot"))
        )
        pairs = pairs.crossJoin(F.broadcast(hot)).select(
            "id_a",
            "id_b",
            F.array_except("__a", "__hot").alias("__a"),
            F.array_except("__b", "__hot").alias("__b"),
        )
    inter = F.size(F.array_intersect("__a", "__b"))
    scored = pairs.select(
        "id_a", "id_b", inter.alias("__i"), F.size("__a").alias("__na"), F.size("__b").alias("__nb")
    ).filter(F.col("__i") > 0)
    jac = F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
    return scored.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def cross_corpus_exact_dedup(
    new_df: DataFrame, ref_df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rows of ``new_df`` whose normalized content does NOT already exist in
    ``ref_df`` — incremental-ingestion dedup: each new crawl/batch is
    deduped against the corpus accumulated so far without ever re-reading
    the new batch per reference row.

    100 TB shape: the reference side collapses to DISTINCT fingerprints
    before the join (map-side combine; one md5 per ref row), then one
    anti-join shuffled on the fingerprint. In a standing pipeline the ref
    fingerprint set is a materialized table maintained per ingest — the
    per-batch cost is O(batch) + one join against it, and AQE broadcasts
    it outright while it is small."""
    ref_fp = ref_df.select(fingerprint(F.col(text_col)).alias("__fp")).distinct()
    tagged = new_df.withColumn("__fp", fingerprint(F.col(text_col)))
    return tagged.join(ref_fp, "__fp", "left_anti").drop("__fp")


def cross_corpus_near_dups(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """(new_id, ref_id, jaccard) — near-duplicate matches of new docs
    against a reference corpus, MinHash-banded: candidates come ONLY from
    the cross join of band buckets (never new×new or ref×ref, unlike
    :func:`minhash_near_dups`), then exact jaccard verifies each candidate.

    100 TB shape: ref signatures/bands are computed once per call (in a
    standing pipeline they live as a table keyed by band hash, bucketed so
    each new batch's band join co-locates); per-batch work is
    O(batch shingles) map-side + band-bucket join + candidate-only verify.
    Each side's shingle arrays feed its signatures and its verify, so they
    are materialized once with a lazy local checkpoint, which the session
    reclaims with the result (a ``persist`` stays pinned until someone
    unpersists it).
    """
    arr_new = shingle_arrays(new_df, id_col, text_col, n).localCheckpoint(eager=False)
    arr_ref = shingle_arrays(ref_df, id_col, text_col, n).localCheckpoint(eager=False)
    sig_new = minhash_signature_arrays(arr_new, id_col, num_hashes)
    sig_ref = minhash_signature_arrays(arr_ref, id_col, num_hashes)
    band_new = _pin_merge_if_exploded(
        _banded(sig_new, id_col, num_hashes, bands), sig_new, bands
    ).select(F.col(id_col).alias("new_id"), "band", "bh")
    band_ref = _pin_merge_if_exploded(
        _banded(sig_ref, id_col, num_hashes, bands), sig_ref, bands
    ).select(F.col(id_col).alias("ref_id"), "band", "bh")
    cand = band_new.join(band_ref, ["band", "bh"]).select("new_id", "ref_id").distinct()

    sh_new = arr_new.select(F.col(id_col).alias("new_id"), F.explode("__shs").alias("shingle"))
    sh_ref = arr_ref.select(F.col(id_col).alias("ref_id"), F.explode("__shs").alias("shingle"))
    inter = (
        cand.join(sh_new, "new_id")
        .join(sh_ref, ["ref_id", "shingle"])
        .groupBy("new_id", "ref_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_new = sh_new.groupBy("new_id").agg(F.count(F.lit(1)).alias("sz_new"))
    sz_ref = sh_ref.groupBy("ref_id").agg(F.count(F.lit(1)).alias("sz_ref"))
    return (
        inter.join(sz_new, "new_id")
        .join(sz_ref, "ref_id")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_new") + F.col("sz_ref") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "ref_id", "jaccard")
    )


def cross_corpus_dedup(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Survivors of ``new_df`` after BOTH tiers against the reference
    corpus: exact fingerprint matches and banded near-matches at
    ``threshold`` are dropped. The composition a production ingest runs."""
    exact = cross_corpus_exact_dedup(new_df, ref_df, id_col, text_col)
    matched = (
        cross_corpus_near_dups(
            exact, ref_df, id_col, text_col, n, num_hashes, bands, threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return exact.join(matched, id_col, "left_anti")


def passage_arrays(
    df: DataFrame, id_col: str, text_col: str, window: int = 3
) -> DataFrame:
    """(id, pos, passage): the document cut into consecutive DISJOINT
    ``window``-token passages (the trailing shorter remainder included, so
    reconstruction loses no text). Entirely map-side — one tokenization,
    one ``transform`` over index positions, one explode.

    This is the unit of sub-document (boilerplate) dedup: corpus-wide
    repeated passages are headers/footers/licence blocks that exact
    whole-doc dedup can't see. Disjoint windows (not sliding) keep the
    blow-up factor at 1× the corpus — the scalable approximation of
    suffix-array substring dedup.
    """
    df = _ensure_parallelism(df)
    t = tokens(F.lower(F.col(text_col)))
    n_pass = F.ceil(F.size(F.col("__toks")) / F.lit(window)).cast("int")
    passages = F.when(
        F.size(F.col("__toks")) > 0,
        F.expr(
            f"transform(sequence(0, __np - 1), i -> concat_ws(' ', slice(__toks, i * {window} + 1, {window})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), t.alias("__toks"))
        .withColumn("__np", n_pass)
        .select(F.col(id_col), F.posexplode(passages).alias("pos", "passage"))
    )


def _distinct_passage_hashes(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(id, ph): the document's DISTINCT passage md5s, entirely map-side —
    the within-doc dedup is one ``array_distinct`` over the per-row passage
    array, so downstream doc-counts are a plain single-shuffle ``count(*)``
    instead of a two-phase ``count(DISTINCT ...)`` aggregate."""
    df = _ensure_parallelism(df)
    t = tokens(F.lower(F.col(text_col)))
    n_pass = F.ceil(F.size(F.col("__toks")) / F.lit(window)).cast("int")
    passages = F.when(
        F.size(F.col("__toks")) > 0,
        F.expr(
            f"transform(sequence(0, __np - 1), i -> md5(concat_ws(' ', slice(__toks, i * {window} + 1, {window}))))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col), t.alias("__toks"))
        .withColumn("__np", n_pass)
        .select(F.col(id_col), F.explode(F.array_distinct(passages)).alias("ph"))
    )


def passage_dups(
    df: DataFrame, id_col: str, text_col: str, window: int = 3, min_docs: int = 2
) -> DataFrame:
    """Corpus-wide repeated passages: (passage md5, n_docs, keeper) for
    every ``window``-token passage appearing in ≥ ``min_docs`` DISTINCT
    documents. One map-only explode + ONE shuffle on the passage hash —
    the boilerplate-discovery half of sub-document dedup."""
    return (
        _distinct_passage_hashes(df, id_col, text_col, window)
        .groupBy("ph")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_repeated_passages(
    df: DataFrame, id_col: str, text_col: str, window: int = 3, max_docs: int = 1
) -> DataFrame:
    """(id, clean_text): each document rebuilt WITHOUT passages that occur
    in more than ``max_docs`` distinct documents — boilerplate removal at
    passage granularity (the op exact whole-doc dedup cannot express).

    Shape: passage explode → boilerplate set (one agg shuffle) →
    broadcast-able anti-join of passages against it → ordered
    reconstruction (sort_array over collected (pos, passage) structs, so
    the rebuild is deterministic and engine-independent). Documents whose
    every passage is boilerplate keep an empty string rather than
    disappearing — cardinality is preserved.
    """
    p = passage_arrays(df, id_col, text_col, window).withColumn(
        "ph", F.md5(F.col("passage"))
    )
    boiler = (
        _distinct_passage_hashes(df, id_col, text_col, window)
        .groupBy("ph")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("ph")
    )
    kept = p.join(boiler, "ph", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "passage"))),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("clean_text")
    )
    # left join back so all-boilerplate docs survive with empty text
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .select(F.col(id_col), F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, keep: tuple[str, ...] = ()
) -> DataFrame:
    """32-bit SimHash: per distinct token a 32-bit md5-derived hash; each bit
    contributes +1/-1; fingerprint bit b is set iff the sum is positive.

    Computed entirely per-row with array expressions (``array_distinct``
    for the token set, ``transform`` for the hashes, ``aggregate`` for the
    bit sums) — a pure map stage with NO shuffle, vs the classic explode +
    distinct + groupBy which shuffles every token twice. Same values,
    identical to the explode-based SQL twin. Docs with no tokens are
    dropped (the explode variant produces no rows for them).

    ``keep`` threads extra columns through untouched (e.g. the event-time
    column the streaming near-dedup watermark needs).
    """
    extra = [F.col(c) for c in keep]
    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    pre = (
        _ensure_parallelism(df)
        .select(F.col(id_col), *extra, toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(F.col(id_col), *extra, F.transform(F.col("__toks"), lambda t: hash32(t)).alias("__hs"))
    )
    # One aggregate pass builds all ``bits`` counters at once (a zip_with
    # over a counter array per token hash) instead of ``bits`` separate
    # aggregate() scans of the hash array — same ±1 sums, same fingerprint,
    # ~bits× less per-row expression work.
    counters = F.expr(
        f"""aggregate(
              __hs,
              array_repeat(0, {bits}),
              (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                (a, b) -> a + CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END))"""
    )
    fp = F.expr(
        f"""aggregate(
              zip_with(__cnt, sequence(0, {bits - 1}),
                (c, b) -> CASE WHEN c > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END),
              CAST(0 AS BIGINT), (acc, x) -> acc + x)"""
    )
    return pre.select(F.col(id_col), *extra, counters.alias("__cnt")).select(
        F.col(id_col), *extra, fp.alias("simhash")
    )


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by hamming distance over SimHash, banded by block
    combinations of the fingerprint (a pair within hamming ≤h of 32 bits
    must agree exactly on some blocks−h blocks — multi-index hamming) so
    candidate generation is a bucket join, never all-pairs; the block
    count auto-sizes from the corpus count (see ``_fp_hamming_pairs``)."""
    return _fp_hamming_pairs(simhash(df, id_col, text_col), id_col, max_hamming)


# fingerprint rows past which the 8-block banding beats the 4-block one
# (the measured ~1.5M crossover, taken conservatively)
_BLOCKS8_ROWS = 1_000_000


def _fp_hamming_pairs(
    fp: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    blocks: int | None = None,
    bound: int | None = None,
) -> DataFrame:
    """Block-combination-banded hamming pair join over an (id, simhash)
    DataFrame — the candidate-generation core shared by
    ``simhash_near_dups`` (all documents), ``dup_clusters`` (distinct
    fingerprints only), and the multimodal perceptual-hash tiers.

    LOSSLESS banding by pigeonhole: split the 32-bit fingerprint into
    ``blocks`` equal blocks; ≤ ``max_hamming`` flipped bits corrupt at
    most that many blocks, so a qualifying pair agrees EXACTLY on some
    ``blocks − max_hamming`` of them — one banded key per combination of
    that many block indices finds every pair (multi-index hamming, the
    Manku/Google simhash-dedup construction). Recall is 1 by
    construction at ANY block count, so the certified row sets are
    independent of the sizing; only the candidate economy changes:

    - blocks=4 (the r1 byte banding, h≤3 → agree on ≥1 byte): 4 keys/row
      over 8-bit bands — 256 buckets/band, so RANDOM byte agreement puts
      ~N/256 unrelated rows in each bucket and candidates go ∝ 4·N²/256
      — the same bounded-bucket hazard class as the r8 sign-LSH finding,
      but with a far cheaper verify (one XOR+bit_count vs a float dot),
      so the quadratic term only DOMINATES in the millions: measured
      (r9 probe) 2.3 s / 1.4 s / 10.6 s at 5k / 50k / 500k uniform
      fingerprints.
    - blocks=8 (h≤3 → agree on some 5 of 8 nibbles): C(8,5)=56 keys/row
      over packed-long combination keys (~10⁶ buckets) — candidates
      ∝ 56·N²/2²⁰, ~290× fewer false candidates for 14× the map-side
      key rows; measured 3.3 / 4.1 / 29.6 s at the same sizes — LINEAR,
      paying a constant key-explosion tax that the legacy path only
      overtakes past the measured ~1.5M-row crossover (10.6 s × 4 ≈ 42 s
      at 1M and ×100 at 5M, vs ~2× / ~10× for the linear path).

    ``blocks=None`` auto-sizes: the smallest power-of-two block count
    that exceeds ``max_hamming`` (pigeonhole needs one clean block
    combination), bumped to ≥8 past ``_BLOCKS8_ROWS`` (10⁶) rows — the
    measured crossover, conservative toward the linear path. The sizing
    reads a job-free row bound first: ``bound`` (a caller's bound on
    ``fp``'s rows) or else ``functions._row_bound(fp)``; only when that
    is unknown or above 10⁶ does it run the memoized corpus count. Pin
    ``blocks=4`` to reproduce the legacy byte banding byte-for-byte."""
    import itertools

    W = 32
    if blocks is None:
        valid = [b for b in (4, 8, 16, 32) if b > max_hamming]
        if not valid:
            raise ValueError(f"max_hamming {max_hamming} needs > {max_hamming} blocks of a 32-bit fingerprint")
        blocks = valid[0]
        if blocks == 4:
            from .similarity import _corpus_count

            if bound is None:
                bound = _row_bound(fp)
            if (bound is None or bound > _BLOCKS8_ROWS) and _corpus_count(fp) > _BLOCKS8_ROWS:
                blocks = 8
    if blocks not in (4, 8, 16, 32) or blocks <= max_hamming:
        raise ValueError(f"blocks must be a power of two in 4..32 and > max_hamming, got {blocks}")
    w = W // blocks
    agree = blocks - max_hamming
    combos = list(itertools.combinations(range(blocks), agree))
    block_val = [
        F.shiftright(F.col("simhash"), i * w).bitwiseAND(F.lit((1 << w) - 1))
        for i in range(blocks)
    ]
    # ONE long per key: combination id in the top bits, the agreeing
    # blocks' values packed below — integer join keys shuffle ~6× fewer
    # bytes than "i/v/.../v" strings and hash in codegen (measured 2×
    # end-to-end on the 8-block path at 500k fingerprints)
    def pack(ci: int, comb: tuple) -> F.Column:
        key = F.lit(ci).cast("long")
        for i in comb:
            key = F.shiftleft(key, w) + block_val[i]
        return key

    keys = [pack(ci, comb) for ci, comb in enumerate(combos)]
    bands = fp.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.array(*keys)).alias("sig"),
    )
    bands = _pin_merge_if_exploded(bands, fp, len(combos))
    a, b = bands.alias("a"), bands.alias("b")
    # hamming-verify BEFORE the distinct: the verify is one XOR+bit_count
    # (map-side, codegen), while the distinct is a full exchange of the
    # candidate stream — filtering first shuffles only qualifying pairs
    # (measured 62k of 871k distinct candidates on the documents fixture)
    # and drops both 8-byte fingerprints from the exchange. hamming is a
    # pure function of the pair, so distinct-then-verify and
    # verify-then-distinct emit identical rows.
    return (
        a.join(b, ["sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dup_clusters(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup CLUSTERS — the end-game of pairwise dedup: SimHash pairs →
    connected components (transitive closure, so A~B~C is ONE cluster) →
    every document labeled with its cluster representative (min id in the
    component), the cluster size, and a keep flag (the representative is
    the survivor; ``filter(keep)`` is the dedup).

    Shuffle shape: the pair join from ``simhash_near_dups``, then the
    components (a driver union-find returning an Arrow-built
    ``LocalRelation`` below ``graph.CC_DRIVER_EDGES`` edges, else
    O(log diameter) label-propagation rounds of one join + one groupBy
    each, see ``graph.connected_components``), broadcast into ONE left
    join that labels every document, then one window exchange on the
    cluster key that counts ``cluster_size`` — the labels are built once
    and never joined to their own sizes. Singleton documents never enter
    the component loop; the left join labels them with their own id. A
    row with a NULL id gets no row. A boilerplate family is one huge
    cluster, so the window sends all of it to one task, which sorts and
    counts its (id, rep) pairs (docs/SCALE.md, "corpus_pipeline jobs per
    pass").

    The hamming block count is sized from ``functions._row_bound(df)``
    first: an input bounded at ≤ 10⁶ rows (cached and loaded, a
    ``LocalRelation``, a Store scan) picks 4 blocks without the count of
    distinct fingerprints (3 jobs); an unbounded input still counts.
    """
    from .graph import connected_components

    # Identical fingerprints collapse BEFORE pair generation: a k-document
    # boilerplate family would otherwise emit k² candidate pairs (10M
    # copies at 100 TB → 10^14 pairs — the classic LSH clique blow-up).
    # Hamming distance depends only on the fingerprints, so connectivity
    # is EXACTLY preserved by (a) a star edge from every doc to its
    # fingerprint group's min id (k-1 edges instead of k²) and (b) the
    # banded pair join over DISTINCT fingerprints only, lifted to the
    # group representatives. CC over star ∪ rep-pairs equals CC over the
    # full verified pair set — same components, same min labels.
    fp = simhash(df, id_col, text_col).localCheckpoint(eager=True)
    fpg = fp.groupBy("simhash").agg(F.min(id_col).alias("__rep"))
    star = (
        fp.join(fpg, "simhash")
        .filter(F.col(id_col) != F.col("__rep"))
        .select(F.col(id_col).alias("id_a"), F.col("__rep").alias("id_b"))
    )
    reps = fpg.select(F.col("__rep").alias(id_col), "simhash")
    # distinct fingerprints never outnumber the input rows, so the input's
    # job-free bound sizes the hamming blocks without counting ``reps``
    rep_pairs = _fp_hamming_pairs(
        reps, id_col, max_hamming, bound=_row_bound(df)
    ).select("id_a", "id_b")
    pairs = star.union(rep_pairs)
    comp = connected_components(pairs, "id_a", "id_b")
    lab = (
        df.select(F.col(id_col))
        .filter(F.col(id_col).isNotNull())
        .join(comp.select(F.col("node").alias(id_col), F.col("component")), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_rep"),
        )
    )
    size = F.count(F.lit(1)).over(Window.partitionBy("cluster_rep"))
    return lab.select(
        F.col(id_col),
        "cluster_rep",
        size.alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_rep")).alias("keep"),
    )


# -- content-defined chunking (offset-independent substring dedup) -----------


def _cdc_cuts_expr(k: int, p: int) -> str:
    """SQL expression for the cut-position array of ``__toks``.

    A cut lands BEFORE 1-based token position ``i`` (i in k+1..n) whenever
    the 32-bit md5 hash of the k-gram ENDING at position i-1 is 0 mod
    ``p`` — a decision that depends only on the k tokens of local context,
    never on the token's offset in the document. Expected chunk length is
    ~``p`` tokens (geometric); there is deliberately no max-length
    re-split, which would reintroduce offset dependence (the long-chunk
    tail risk is documented in docs/SCALE.md).
    """
    gram = f"concat_ws(' ', slice(__toks, i - {k}, {k}))"
    cut = f"cast(conv(substring(md5({gram}), 1, 8), 16, 10) as bigint) % {p} = 0"
    return (
        f"case when __n <= 0 then array() "
        f"when __n <= {k} then array(1) "
        f"else concat(array(1), filter(sequence({k + 1}, __n), i -> {cut})) end"
    )


def _cdc_chunks_expr(cuts: str = "__cuts") -> str:
    """SQL expression rebuilding the chunk array from a PRECOMPUTED cut
    array column (``_cdc_cuts_expr``). Chunks are the spans between
    consecutive cuts, so two copies of a long substring produce IDENTICAL
    interior chunks no matter where each copy starts.

    The cut array MUST ride in as a projected column, not be inlined:
    higher-order lambdas evaluate INTERPRETED (no codegen, no common-
    subexpression elimination), so an inlined cut array — one md5 per
    token position — was recomputed for every chunk element, turning the
    map pass O(tokens × chunks/doc). Measured 9.7 → 0.9 s on the sf0.1
    corpus with the column split; byte-identical output (the cut
    positions and span arithmetic are unchanged).
    """
    return (
        f"case when __n <= 0 then array() else "
        f"transform(sequence(1, size({cuts})), j -> concat_ws(' ', slice(__toks, "
        f"element_at({cuts}, j), "
        f"coalesce(try_element_at({cuts}, j + 1), __n + 1) - element_at({cuts}, j)))) end"
    )


def cdc_chunk_arrays(
    df: DataFrame, id_col: str, text_col: str, k: int = 2, p: int = 4
) -> DataFrame:
    """(id, pos, passage): the document cut at CONTENT-DEFINED boundaries —
    the rolling-hash chunking of dedup storage systems, applied to token
    streams. Unlike :func:`passage_arrays` (disjoint fixed windows, whose
    chunk identity breaks when the same substring appears at a different
    token offset), CDC boundaries are a pure function of local content, so
    a duplicated substring of length ≥ ~2p tokens yields at least one
    identical interior chunk in every copy REGARDLESS of offset. This is
    the scalable Spark approximation of suffix-array exact-substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): 1× corpus blow-up, entirely map-side — one tokenization, one
    array expression chain, one explode. No shuffle.
    """
    df = _ensure_parallelism(df)
    t = tokens(F.lower(F.col(text_col)))
    return (
        df.select(F.col(id_col), t.alias("__toks"))
        .withColumn("__n", F.size("__toks"))
        .withColumn("__cuts", F.expr(_cdc_cuts_expr(k, p)))
        .select(F.col(id_col), F.posexplode(F.expr(_cdc_chunks_expr())).alias("pos", "passage"))
    )


def cdc_passage_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    p: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-wide repeated CDC chunks: (passage md5, n_docs, keeper) for
    every content-defined chunk appearing in ≥ ``min_docs`` DISTINCT
    documents. Within-doc repeats collapse map-side (``array_distinct``
    over the per-row chunk array), so the doc-count is ONE shuffle on the
    chunk hash with a plain ``count(*)`` — same shape as
    :func:`passage_dups`, but catching misaligned copies."""
    per_doc = (
        cdc_chunk_arrays(df, id_col, text_col, k, p)
        .select(F.col(id_col), F.md5("passage").alias("ph"))
        .distinct()
    )
    return (
        per_doc.groupBy("ph")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_repeated_cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    p: int = 4,
    max_docs: int = 1,
) -> DataFrame:
    """(id, clean_text): each document rebuilt WITHOUT content-defined
    chunks occurring in more than ``max_docs`` distinct documents —
    boilerplate/substring removal that still fires when the shared text
    sits at DIFFERENT offsets in each document (the case the fixed-window
    :func:`strip_repeated_passages` provably misses). Same plan shape:
    map-side chunking → one agg shuffle for the boilerplate set →
    anti-join → ordered rebuild; all-boilerplate docs keep an empty
    string so cardinality is preserved."""
    chunks = cdc_chunk_arrays(df, id_col, text_col, k, p).withColumn(
        "ph", F.md5(F.col("passage"))
    )
    boiler = (
        chunks.select(F.col(id_col), "ph")
        .distinct()
        .groupBy("ph")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_docs)
        .select("ph")
    )
    kept = chunks.join(boiler, "ph", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "passage"))),
                lambda s: s["passage"],
            ),
            " ",
        ).alias("clean_text")
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .select(F.col(id_col), F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


def source_overlap_matrix(
    df: DataFrame, id_col: str, text_col: str, source_col: str
) -> DataFrame:
    """(source_a, source_b, n_shared): for every UNORDERED pair of
    distinct sources, how many DISTINCT content fingerprints occur in
    both — the dedup-leakage observability view (which crawls/feeds copy
    from which, what exact dedup will collapse across sources, and where
    a per-source cap will bite).

    Shuffle shape: one distinct over (fingerprint, source) — map-side
    combine on the md5 — then a self-join on the fingerprint whose per-key
    fan-out is bounded by the SOURCE count (tiny), then a rollup on the
    source pair (output is at most |sources|² rows at any corpus size).
    """
    fs = (
        df.select(
            fingerprint(F.col(text_col)).alias("__fp"),
            F.col(source_col).alias("__src"),
        )
        .distinct()
    )
    a = fs.select("__fp", F.col("__src").alias("source_a"))
    b = fs.select("__fp", F.col("__src").alias("source_b"))
    return (
        a.join(b, "__fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def dedup_rate_report(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-source exact-duplication audit: total docs, distinct content
    fingerprints, and the duplicate rate — the before/after health number
    every dedup stage reports. One |sources|-keyed aggregate over
    fingerprints (map-side combined); output bounded by |sources|.
    Output: (source, n_docs, n_distinct, dup_rate)."""
    from ..functions import fingerprint

    return (
        df.select(F.col(group_col), fingerprint(F.col(text_col)).alias("__fp"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("__fp").alias("n_distinct"),
        )
        .select(
            group_col,
            "n_docs",
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.round(
                F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """DIRECTED shingle containment C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)|:
    the asymmetric near-dup measure that catches a document EMBEDDED in a
    larger one (quote farms, page-plus-boilerplate wrappers, concatenated
    crawls) where symmetric jaccard stays low because the union is
    dominated by the big side.

    Output: (src_id, sup_id, containment) — ``containment`` of src inside
    sup, both directions of a pair emitted independently whenever they
    clear ``threshold``.

    Shuffle shape: identical to :func:`jaccard_pairs` — one inverted-index
    self-join on shingle (pairs sharing ≥1 shingle only, never all-pairs)
    plus per-doc size joins; the direction split is a post-aggregation
    union on already-small pair rows. Integer counts → the double ratio is
    bit-identical in any engine.

    ``max_df`` (default 10 000) drops shingles hotter than that document
    frequency BEFORE the self-join (:func:`_drop_hot_shingles`) — the
    100 TB skew guard: one boilerplate shingle in 1M docs would otherwise
    emit ~10¹² pairs from a single join key. Sizes are computed AFTER the
    cap so containment is exact over the df-capped shingle space. Pass
    ``max_df=None`` to disable."""
    sh = shingles(df, id_col, text_col, n)
    if max_df is not None:
        sh = _drop_hot_shingles(sh, id_col, max_df)
    # capped relation feeds sizes + both join sides: compute it once
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    pairs = inter.join(sa, "id_a").join(sb, "id_b")
    # both directions via ONE map-side explode — a union of two projections
    # would duplicate the whole inverted-index subtree in the plan
    dirs = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("sup_id"),
                    (F.col("inter") / F.col("sz_a")).alias("containment"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("sup_id"),
                    (F.col("inter") / F.col("sz_b")).alias("containment"),
                ),
            )
        ).alias("d")
    )
    return dirs.select("d.src_id", "d.sup_id", "d.containment").filter(
        F.col("containment") >= threshold
    )


def novelty_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document n-gram NOVELTY against the growing corpus: the share
    of a document's distinct shingles whose FIRST occurrence (minimum id
    over the whole corpus) is the document itself. Low-novelty documents
    are recombinations of text already seen — the streaming-order cousin
    of dedup that curation pipelines use to prune low-value tail crawls
    without picking explicit duplicate pairs.

    Shuffle shape: ONE shuffle on shingle (a window-min replaces the
    owner-table self-join), then one aggregate back on the id. Counts are
    integers, so novelty = novel/total is engine-exact.

    Output: (id, n_shingles, n_novel, novelty) for every document with at
    least one shingle."""
    from pyspark.sql import Window

    sh = shingles(df, id_col, text_col, n)
    first = F.min(id_col).over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("__first", first)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("__first") == F.col(id_col)).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn("novelty", F.col("n_novel") / F.col("n_shingles"))
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n: int = 4, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every token ``n``-gram, then in
    each window of ``window`` consecutive hashes keep the minimum
    (rightmost position on hash ties). Winnowing GUARANTEES any shared
    run of ≥ window+n-1 tokens yields a shared fingerprint while keeping
    only ~2/(window+1) of the hashes — a density/recall contract MinHash
    does not give, which is why plagiarism and overlap detectors use it.

    The tie-break is made engine-exact by packing (hash, position) into
    ONE BIGINT — ``h·2²⁰ + (2²⁰−1−pos)`` — so a plain window ``min``
    selects (smallest hash, largest position); positions are bounded at
    2²⁰ tokens per document (hash < 2³², so the pack stays < 2⁵², exact
    in any engine). Hashes are md5-derived (:func:`hash32`), hence
    SQL-replicable.

    Shuffle shape: ONE shuffle on the id key for the per-doc window pass
    (at scale the sort is per-document and documents are independent);
    distinct is per-doc. Only full windows select (the Schleimer spec) —
    docs with fewer than ``window`` n-grams emit nothing.

    Output: (id, fp) — distinct selected 32-bit fingerprint hashes.
    """
    from pyspark.sql import Window as W

    toks = tokens(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), toks.alias("__t"))
    grams = F.when(
        F.size("__t") >= n,
        F.expr(
            f"transform(sequence(1, size(__t) - {n - 1}),"
            f" i -> array_join(slice(__t, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = base.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "g")
    ).select(
        F.col(id_col),
        F.col("pos"),
        (
            hash32(F.col("g"), seed="wf") * F.lit(1048576)
            + (F.lit(1048575) - F.col("pos"))
        ).alias("packed"),
    )
    win = W.partitionBy(id_col).orderBy("pos").rowsBetween(W.currentRow, window - 1)
    m = W.partitionBy(id_col)
    sel = (
        hashed.withColumn("__m", F.count(F.lit(1)).over(m))
        .withColumn("__wmin", F.min("packed").over(win))
        .filter(F.col("pos") <= F.col("__m") - F.lit(window))
        .select(F.col(id_col), F.expr("__wmin div 1048576").alias("fp"))
        .distinct()
    )
    return sel


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    window: int = 4,
    threshold: float = 0.2,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Document overlap pairs by exact jaccard over WINNOWED fingerprint
    sets: the MOSS-style overlap detector — any shared token run of
    ≥ window+n-1 tokens is guaranteed to contribute a shared
    fingerprint, at ~2/(window+1) of the full shingle volume, so the
    inverted-index join (:func:`jaccard_pairs`, including its
    hot-fingerprint ``max_df`` cap) runs on a corpus several times
    smaller than shingle-level jaccard with a recall floor instead of a
    probability. Output: (id_a, id_b, jaccard)."""
    fp = winnow_fingerprints(df, id_col, text_col, n, window).select(
        F.col(id_col), F.col("fp").alias("shingle")
    )
    return jaccard_pairs(fp, id_col, threshold, max_df=max_df)


def jaccard_pairs_weighted(
    sh: DataFrame,
    id_col: str,
    threshold: float,
    max_df: int | None = 10_000,
) -> DataFrame:
    """RARITY-WEIGHTED jaccard over shingle sets: each shingle carries
    weight ``N div df`` (corpus size over its document frequency, BIGINT
    floor), so two documents sharing distinctive content score far above
    two sharing only boilerplate — the idf idea with NO logarithm,
    keeping every weight an exact integer and the final similarity a
    single engine-exact BIGINT ratio.

        sim(A,B) = Σ_{s∈A∩B} w(s) / (Σ_{A} w + Σ_{B} w − Σ_{A∩B} w)

    Shuffle shape: identical to :func:`jaccard_pairs` plus one
    vocab-keyed df aggregate (at scale a standing statistic); the
    corpus-size scalar rides a 1-row broadcast. The ``max_df`` cap
    (default 10 000) applies BEFORE everything — the same hot-shingle
    skew guard, and under this weighting a capped shingle would have
    carried weight ≈ N/10⁴ anyway. Output: (id_a, id_b, wjaccard)."""
    if max_df is not None:
        sh = _drop_hot_shingles(sh, id_col, max_df)
    # the capped shingle relation feeds df/N/weights/both join sides —
    # checkpoint so the tokenize+explode subtree computes ONCE
    sh = sh.localCheckpoint(eager=False)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    nn = sh.agg(F.count_distinct(id_col).cast("long").alias("__n"))
    wsh = (
        sh.join(dfreq, "shingle")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col(id_col),
            "shingle",
            F.expr("__n div __df").alias("w"),
        )
    ).localCheckpoint(eager=False)  # reused 3x: sizes + both pair sides
    sizes = wsh.groupBy(id_col).agg(F.sum("w").cast("long").alias("wsz"))
    a = wsh.alias("a")
    b = wsh.select(id_col, "shingle").alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.sum("a.w").cast("long").alias("wi"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("wsz").alias("wa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("wsz").alias("wb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "wjaccard", F.col("wi") / (F.col("wa") + F.col("wb") - F.col("wi"))
        )
        .filter(F.col("wjaccard") >= threshold)
        .select("id_a", "id_b", "wjaccard")
    )


class NearDupIndex:
    """STANDING near-dup signature index — the incremental-ingestion
    service shape: the corpus's MinHash signatures persist in a
    :class:`~shortcut_spark.store.Store` (versioned commits, snapshots,
    CDC replication to follower dedup services — the whole storage
    plane comes along for free), each crawl batch ``add``s its
    signatures at O(batch) cost, and ``query`` matches a batch against
    EVERYTHING accumulated so far without ever touching corpus text.

    Matching is banded candidate generation over the stored signatures
    plus the MinHash similarity ESTIMATE (fraction of agreeing
    signature slots — the textbook unbiased jaccard estimator), so the
    index holds H longs per document instead of the document: at
    100 TB of text the index is ~0.1% of corpus bytes, and the verify
    step needs no shuffle of anything document-sized.

    Reference parity note: the reference's Table+index kinds
    (`/root/reference/src/idx.rs`) index VALUES for retrieval; this is
    the same standing-index idea lifted to similarity space.
    """

    def __init__(self, store, num_hashes: int = 16, bands: int = 4, n: int = 3):
        self.store = store
        self.num_hashes = num_hashes
        self.bands = bands
        self.n = n

    # -- lifecycle -----------------------------------------------------
    @classmethod
    def create(cls, spark, path: str, num_hashes: int = 16, bands: int = 4, n: int = 3):
        from pyspark.sql import types as T

        from ..store import Store

        fields = [T.StructField("doc_id", T.LongType())] + [
            T.StructField(f"sig_{i}", T.LongType()) for i in range(num_hashes)
        ]
        store = Store.create(spark, path, T.StructType(fields))
        return cls(store, num_hashes, bands, n)

    @classmethod
    def open(cls, spark, path: str, num_hashes: int = 16, bands: int = 4, n: int = 3):
        from ..store import Store

        return cls(Store.open(spark, path), num_hashes, bands, n)

    # -- writes --------------------------------------------------------
    def add(self, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> int:
        """Append a batch's signatures: one map-only signature build +
        one Store commit. Cost ∝ batch, never the corpus."""
        arr = shingle_arrays(docs, id_col, text_col, self.n)
        sig = minhash_signature_arrays(arr, id_col, self.num_hashes)
        cols = [F.col(id_col).alias("doc_id")] + [
            F.col(f"sig_{i}") for i in range(self.num_hashes)
        ]
        return self.store.insert(sig.select(*cols))

    # -- reads ---------------------------------------------------------
    def query(
        self, docs: DataFrame, threshold: float = 0.5,
        id_col: str = "doc_id", text_col: str = "text",
    ) -> DataFrame:
        """Match a batch against the standing corpus: banded LSH
        candidates (bands derived map-side on BOTH sides), then the
        signature-agreement estimate — (query id, indexed id,
        est_jaccard ≥ threshold). The batch side is typically small
        enough that its banded keys broadcast."""
        arr = shingle_arrays(docs, id_col, text_col, self.n)
        qsig = minhash_signature_arrays(arr, id_col, self.num_hashes).localCheckpoint(
            eager=False
        )  # reused: band keys + agreement join
        ref = self.store.find()
        qb = _banded(
            qsig.select(F.col(id_col).alias("doc_id"), *[F.col(f"sig_{i}") for i in range(self.num_hashes)]),
            "doc_id", self.num_hashes, self.bands,
        ).select(F.col("doc_id").alias("__qid"), "band", "bh")
        rb = _banded(ref, "doc_id", self.num_hashes, self.bands).select(
            F.col("doc_id").alias("__rid"), "band", "bh"
        )
        cand = (
            qb.join(rb, ["band", "bh"])
            .select("__qid", "__rid")
            .distinct()
        )
        agree = sum(
            (F.col(f"q.sig_{i}") == F.col(f"r.sig_{i}")).cast("int")
            for i in range(self.num_hashes)
        )
        q = qsig.alias("q")
        r = ref.alias("r")
        return (
            cand.join(q, F.col("__qid") == F.col(f"q.{id_col}"))
            .join(r, F.col("__rid") == F.col("r.doc_id"))
            .select(
                F.col("__qid").alias("query_id"),
                F.col("__rid").alias("ref_id"),
                (agree.cast("double") / F.lit(float(self.num_hashes))).alias(
                    "est_jaccard"
                ),
            )
            .filter(F.col("est_jaccard") >= threshold)
        )


def jaccard_pairs_prefix(
    sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """EXACT jaccard >= threshold via PPJoin-style PREFIX FILTERING — the
    lossless candidate generator (vs banded MinHash's probabilistic
    recall, and vs the raw inverted-index join's hot-shingle quadratics).

    Theorem (first-common-token): order all shingles by a GLOBAL total
    order (here: document frequency ascending, shingle ascending). Give
    each set X a prefix of its first p_X = |X| - ceil(t·|X|) + 1
    shingles. If J(A,B) >= t, the globally-FIRST common shingle w lies
    in BOTH prefixes: were w outside prefix_A, every common shingle
    (all >= w in the order) would sit among A's last ceil(t|A|)-1
    positions, so |A∩B| <= ceil(t|A|)-1 < t·|A| <= t·|A∪B| <= |A∩B| —
    contradiction; symmetric for B. So an inverted index over PREFIXES
    ONLY finds every qualifying pair: recall is 1 by construction.

    Why this kills skew: df-ascending ordering puts boilerplate
    (high-df) shingles at the END of every set — they enter a prefix
    only when a document is almost nothing but boilerplate — so the
    candidate index is built from each document's RAREST shingles and
    the hottest posting lists never materialize. The df-cap of
    :func:`jaccard_pairs` becomes unnecessary for runtime (and this
    variant scores the FULL shingle space, not the capped one).

    Integer hygiene: ceil(t·|X|) is computed as
    (|X|·t_micro + 999999) DIV 1e6 with t_micro = floor(t·1e6) — never
    larger than the true ceil, so prefixes are never shorter than the
    theorem requires. The length filter min >= t·max is applied in the
    same relaxed integer form (min·1e6 >= max·t_micro): both
    relaxations only ADD candidates, never drop one. Verification is
    the shared :func:`jaccard_pairs` candidates path (exact integer
    intersections; one double division).

    Scale shape: one shingle-key shuffle for df counts + the join back,
    one id-key window for per-doc rank/size, then a prefix-only
    inverted-index join whose hottest key is a RARE shingle, and a
    candidates-bounded verify. Output: (id_a, id_b, jaccard).
    """
    import math

    from pyspark.sql import Window as W

    t_micro = int(math.floor(float(threshold) * 1_000_000))
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    ranked = sh.join(dfc, "shingle")
    w_doc = W.partitionBy(id_col).orderBy("__df", "shingle")
    sized = ranked.withColumn("__rn", F.row_number().over(w_doc)).withColumn(
        "__sz", F.count(F.lit(1)).over(W.partitionBy(id_col))
    )
    ceil_t_sz = F.expr(
        f"CAST((CAST(__sz AS BIGINT) * {t_micro} + 999999) DIV 1000000 AS BIGINT)"
    )
    pre = sized.filter(
        F.col("__rn") <= F.col("__sz") - ceil_t_sz + F.lit(1)
    ).select(F.col(id_col), "shingle", "__sz")
    a = pre.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("__sz").alias("sz_a")
    )
    b = pre.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("__sz").alias("sz_b")
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("sz_a", "sz_b") * F.lit(1_000_000)
                >= F.greatest("sz_a", "sz_b") * F.lit(t_micro)
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_pairs(sh, id_col, threshold, candidates=cand, max_df=None)
