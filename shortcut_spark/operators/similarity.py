"""Similarity search over an embedding column (array<float>).

Three tiers, all DataFrame-native:

- ``topk_cosine``      — brute-force exact top-k against one query vector:
  a broadcast one-row cross join + exact-decimal dot product + sort-limit.
  The correctness baseline; O(N) scan but embarrassingly parallel, and at
  100 TB Catalyst prunes to the two needed columns.
- ``cosine_join``      — all pairs ≥ threshold (for near-dup of
  embeddings); a blocked all-pairs gemm on inputs known to be small, and
  candidate generation via hyperplane LSH buckets above that, so it never
  goes quadratic at scale.
- ``lsh_topk``         — approximate top-k: probe only vectors sharing ≥1
  hyperplane-LSH band with the query. The scale path: bucket join instead
  of full scan; recall is tested against the brute-force tier in pytest.

Hyperplanes are deterministic md5-derived pseudo-randoms (no RNG state, no
seed files — any executor can regenerate them), a requirement for
restartable jobs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions import _row_bound, cosine_exact, ensure_parallelism, vec_norm_sq_exact

__all__ = [
    "topk_cosine",
    "knn_join",
    "knn_join_ivf",
    "hyperplane_buckets",
    "lsh_params_for",
    "ivf_params_for",
    "lsh_topk",
    "cosine_join",
    "cosine_join_ivf",
    "cross_source_dups",
    "ivf_fit",
    "ivf_assign_multi",
    "ivf_topk",
    "norm_stats",
    "quantize_embeddings",
    "semantic_dup_clusters",
    "embedding_dispersion",
    "centroid_similarity",
    "embedding_outliers",
    "truncate_embeddings",
    "topk_cosine_truncated",
    "funnel_topk",
    "topk_cosine_int8",
    "pq_fit",
    "pq_encode",
    "pq_topk",
    "pq_funnel_topk",
    "ivf_pq_topk",
    "maxsim_topk",
]


def topk_cosine(
    emb: DataFrame, query: DataFrame, k: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact top-k by cosine against a one-row ``query`` df (column ``qvec``).

    Output: (id, cosine) — cosine from exact-decimal dots so ordering and
    values are engine-independent; ties broken by id for determinism.
    Zero-norm rows (and a zero-norm query) have NULL cosine and are
    excluded — a directionless vector is never a nearest neighbor.
    """
    q = F.broadcast(query.select(F.col("qvec")))
    scored = (
        ensure_parallelism(emb).crossJoin(q)
        .select(
            F.col(id_col),
            cosine_exact(F.col(vec_col), F.col("qvec")).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )
    return scored


def knn_join(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """Batch k-NN join: exact top-k corpus neighbors for EVERY row of a
    small ``queries`` set (the retrieval shape: Q query vectors × N corpus
    vectors), scored with the exact-decimal cosine so results are
    engine-reproducible.

    Scale shape: ``queries`` is broadcast (Q is small — a probe batch, not
    a second corpus), so scoring is a map-only pass over the corpus
    producing Q rows per vector. The top-k reduction is TWO-PHASE: a first
    window over (query, scan partition) keeps k rows per partition slab —
    a well-spread shuffle on ~Q×P keys — then the final window over the
    query alone sees only Q×P×k rows. A single window on q_id would funnel
    all Q×N scored rows through Q reducers, which dies at 100 TB for small
    Q.

    Output: (q_id, vec_id, cosine, rank) with rank 1..k, ties broken by id.
    """
    from pyspark.sql import Window as W

    scored = (
        ensure_parallelism(emb)
        .withColumn("__pid", F.spark_partition_id())
        .crossJoin(F.broadcast(queries.select(F.col(q_id_col), F.col(q_vec_col))))
        .select(
            F.col(q_id_col),
            F.col(id_col),
            F.col("__pid"),
            cosine_exact(F.col(vec_col), F.col(q_vec_col)).alias("cosine"),
        )
    )
    order = [F.col("cosine").desc(), F.col(id_col)]
    local = (
        scored.withColumn(
            "__lrank", F.row_number().over(W.partitionBy(q_id_col, "__pid").orderBy(*order))
        )
        .filter(F.col("__lrank") <= k)
    )
    return (
        local.withColumn(
            "rank", F.row_number().over(W.partitionBy(q_id_col).orderBy(*order))
        )
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", F.col("rank").cast("long").alias("rank"))
    )


def lsh_params_for(
    n_rows: int,
    target_bucket: int = 24,
    min_bands: int = 8,
    plane_agreement: float = 0.92,
    target_recall: float = 0.9,
) -> tuple[int, int]:
    """Scale-aware (n_planes, bands) for ``cosine_join``/``lsh_topk``.

    Two coupled choices keep the candidate join LINEAR in N while
    holding recall:

    - planes-per-band = ceil(log2(n_rows / target_bucket)) — expected
      bucket size stays ~constant as the corpus grows, so per-band
      candidates are N × bucket/2, never N²/buckets. MEASURED
      (docs/SCALE.md r8 probe): the legacy fixture literals (16 planes /
      4 bands = 16 buckets per band) cost 487.9 s at 50k vectors;
      this helper's parameters stay flat — 6.7 s at 5k → 6.7 s
      at 50k, recall 0.998 at a 0.8 threshold.
    - bands = enough that 1 − (1 − p^per_band)^bands ≥ target_recall,
      where p is the per-plane sign-agreement probability of a true
      pair (1 − θ/π ≈ 0.92 at cos 0.8) — deeper bands sharpen buckets
      but miss more, so the band count compensates. At 50k this yields
      96p/8b (per_band = ceil(log2(50000/24)) = 12; the measured
      SCALE.md row); at 10⁹ rows, 26-bit bands × 19 bands — per-row
      plane work grows with log N, candidates stay ∝ N.

    Since r9 this IS the default for ``lsh_topk``, and for an unsized
    ``cosine_join`` above ``_EXACT_JOIN_ROWS`` or of unknown size (below
    it the exact tier runs): they call it with a cached input count
    whenever the caller does not pin ``n_planes``/``bands`` (the r8
    probe measured the old fixed defaults at 487.9 s vs 6.7 s at a
    mere 10×, so the unsized call path had to be the scale-safe one).
    The certified fixture queries pin the legacy literals explicitly —
    their DuckDB twins inline the exact plane literals — so certified
    row sets are unchanged."""
    import math

    per_band = max(4, math.ceil(math.log2(max(n_rows / target_bucket, 2.0))))
    band_recall = plane_agreement**per_band  # p^k: one band catches a pair
    bands = max(
        min_bands,
        math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - band_recall)),
    )
    return per_band * bands, bands


def ivf_params_for(n_rows: int, target_cell: int = 160, m_assign: int = 4) -> int:
    """Scale-aware cell count for ``cosine_join_ivf``/``ivf_fit``:
    n_clusters = n_rows / target_cell (floor 16), so expected cell size
    stays constant and the cell self-join's candidates are
    N × m_assign² × target_cell / 2 — LINEAR in N (measured in the
    SCALE.md r8 probe: 32 cells at 5k vectors → 320 at 50k holds recall
    1.0 with wall ∝ N). The Lloyd fit cost grows with k (one broadcast
    of k·D centroid doubles per iteration), which is why IVF pays off on
    corpora with real cluster structure and LSH (`lsh_params_for`) is
    the structure-free default. Since r9 this IS the default sizing:
    ``ivf_fit``/``cosine_join_ivf`` call it with a cached input count
    when the caller pins neither ``k``/``n_clusters`` nor a prebuilt
    ``fitted`` index; the certified fixture queries pin 16 cells
    explicitly so certified row sets are unchanged."""
    return max(16, n_rows // target_cell)


# ---------------------------------------------------------------------------
# Auto-sizing support: the count that feeds lsh_params_for/ivf_params_for is
# cached per logical plan (semanticHash) so repeated unsized calls on the
# same corpus snapshot pay the counting scan once per session, not per call.
_COUNT_CACHE: dict[int, int] = {}
_COUNT_CACHE_MAX = 256


def _corpus_count(df: DataFrame) -> int:
    """Row count with a per-plan memo. A full Store scan
    (``Store.find([])``) carries its exact manifest live-row count on the
    DataFrame object (``_shortcut_live_rows``) — ZERO jobs, the 100 TB
    path: the manifest already knows the corpus size, so sizing never
    reads the corpus. Otherwise ``semanticHash`` keys logically identical
    plans (same parquet snapshot + projection) to one memo entry; on any
    hashing failure we just count — correctness never depends on the
    cache, only the number of counting jobs does."""
    manifest_n = getattr(df, "_shortcut_live_rows", None)
    if manifest_n is not None:
        return int(manifest_n)
    try:
        key = df.semanticHash()
    except Exception:
        return df.count()
    n = _COUNT_CACHE.get(key)
    if n is None:
        n = df.count()
        if len(_COUNT_CACHE) >= _COUNT_CACHE_MAX:
            _COUNT_CACHE.clear()
        _COUNT_CACHE[key] = n
    return n


def _resolve_lsh_params(
    df: DataFrame, n_planes: int | None, bands: int | None
) -> tuple[int, int]:
    """Fill unpinned LSH params from the measured scale-safe sizing
    (``lsh_params_for`` over a cached input count). Callers that pin both
    never trigger a count; pinning only ``bands`` keeps that band count
    and derives total planes as auto_per_band × bands."""
    if n_planes is not None and bands is not None:
        return n_planes, bands
    auto_planes, auto_bands = lsh_params_for(_corpus_count(df))
    if n_planes is None and bands is None:
        return auto_planes, auto_bands
    if n_planes is None:
        return (auto_planes // auto_bands) * bands, bands
    return n_planes, auto_bands


def hyperplane_buckets(
    df: DataFrame,
    vec_col: str,
    n_planes: int = 8,
    bands: int = 4,
    dim: int = 64,
    out_col: str = "band_key",
) -> DataFrame:
    """Random-hyperplane LSH: sign of <v, h_p> per plane, planes grouped into
    bands; emits one row per (input row, band) with a joinable bucket key.

    Plane component p,d is a deterministic pseudo-random in [-1, 1):
    ``md5-hash32("hp:p:d") / 2^31 - 1`` — regenerable on any executor, no
    broadcast state. Planes are materialized once on a one-row dataframe
    and cross-joined (broadcast) into the scan; per-row work is then just
    n_planes fused zip_with/aggregate dot products in plain double (this
    operator is approximate by design; no oracle twin).
    """
    df = ensure_parallelism(df)
    spark = df.sparkSession
    plane_exprs = [
        F.expr(
            f"""transform(sequence(0, {dim - 1}),
                  d -> cast(conv(substr(md5(concat('hp:{p}:', cast(d AS string))), 1, 8), 16, 10) AS double)
                       / 2147483648.0 - 1.0)"""
        ).alias(f"__plane_{p}")
        for p in range(n_planes)
    ]
    planes_df = spark.range(1).select(*plane_exprs)

    def plane_dot(p: int) -> F.Column:
        return F.expr(
            f"""aggregate(
                  zip_with({vec_col}, __plane_{p}, (x, y) -> cast(x AS double) * y),
                  cast(0.0 AS double), (acc, z) -> acc + z)"""
        )

    sign_bits = [
        F.when(plane_dot(p) >= 0, F.lit(1)).otherwise(F.lit(0)).alias(f"bit_{p}")
        for p in range(n_planes)
    ]
    with_bits = df.crossJoin(F.broadcast(planes_df)).select(*df.columns, *sign_bits)
    per_band = n_planes // bands
    band_structs = []
    for b in range(bands):
        bits = [F.col(f"bit_{b * per_band + i}").cast("string") for i in range(per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("", *bits).alias("sig"))
        )
    out = with_bits.select(
        *df.columns, F.explode(F.array(*band_structs)).alias("bb")
    ).select(*df.columns, F.concat_ws("/", F.col("bb.band").cast("string"), F.col("bb.sig")).alias(out_col))
    return out


def _multiprobe_keys(
    q_b: DataFrame, per_band: int, out_col: str = "band_key", keep: tuple = ()
) -> DataFrame:
    """Multi-probe expansion: for each band key ``b/sig`` also emit every
    signature at Hamming distance 1 (one flipped bit). Costs ``per_band``
    extra PROBE KEYS per band on the expanded side only — the other side
    of the join is untouched — and roughly triples band-level recall for
    borderline neighbors whose signature differs by one plane (the
    standard multi-probe LSH trick: probe the adjacent buckets instead of
    building more tables). ``keep`` carries extra columns (e.g. the id
    for the pair-join tier) through the expansion."""
    sig = F.substring_index(F.col(out_col), "/", -1)
    pre = F.substring_index(F.col(out_col), "/", 1)

    def flip_at(i):
        c = sig.substr(i + 1, F.lit(1))
        fc = F.when(c == "0", F.lit("1")).otherwise(F.lit("0"))
        return F.concat(
            pre, F.lit("/"), sig.substr(F.lit(1), i), fc, sig.substr(i + 2, F.lit(per_band))
        )

    variants = F.concat(
        F.array(F.col(out_col)),
        F.transform(F.sequence(F.lit(0), F.lit(per_band - 1)), flip_at),
    )
    return q_b.select(
        *[F.col(c) for c in keep], F.explode(variants).alias(out_col)
    ).distinct()


def lsh_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    bands: int | None = None,
    dim: int = 64,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only vectors sharing ≥1 LSH band with the
    query. Same output shape as ``topk_cosine``.

    ``n_planes``/``bands`` default to the measured scale-safe sizing
    (``lsh_params_for`` over a cached corpus count) so the unsized call
    stays linear in N; pin both to reproduce a fixed banding (the
    certified fixture query pins the legacy 8/4).

    ``multiprobe=True`` (default) also probes, per band, every bucket whose
    signature is one bit-flip away from the query's — query-side-only
    candidate widening (the corpus side never changes), lifting recall on
    neighbors that straddle one hyperplane without adding bands."""
    n_planes, bands = _resolve_lsh_params(emb, n_planes, bands)
    emb_b = hyperplane_buckets(emb, vec_col, n_planes, bands, dim)
    q_b = hyperplane_buckets(query.select(F.col("qvec")), "qvec", n_planes, bands, dim)
    probe_keys = q_b.select("band_key")
    if multiprobe:
        probe_keys = _multiprobe_keys(probe_keys, n_planes // bands)
    cand = emb_b.join(F.broadcast(probe_keys), "band_key", "left_semi").select(
        id_col, vec_col
    ).distinct()
    return topk_cosine(cand, query, k, id_col, vec_col)


def _numpy_pair_prefilter(
    emb: DataFrame, pairs: DataFrame, cut: float, id_col: str, vec_col: str
) -> DataFrame:
    """Arrow-batched numpy PREFILTER for candidate id pairs — the r11
    gemm-verify lesson generalized to every blocked pair tier: Catalyst
    evaluates ``aggregate(zip_with(...))`` INTERPRETED, outside
    whole-stage codegen, so the per-candidate dot dominates large
    candidate sets, while the same dots are one vectorized einsum per
    Arrow batch in numpy. Narrows ``pairs`` to those with numpy cosine ≥
    ``cut`` (the caller picks a guard band below its true threshold and
    re-scores survivors with its CANONICAL expression, so numpy's
    summation order never decides a boundary pair or leaks a value into
    the output). Drop rule is conservative — a pair is dropped ONLY when
    its numpy cosine is a FINITE number below the cut: NULL vectors and
    length-mismatched vectors (zip_with null-pads → NULL sum) score NULL
    canonically and fail every threshold, so they drop here too; NaN
    cosines are KEPT (Spark orders NaN above every number, so the
    canonical filter would keep them) and zero-norm inf/NaN artifacts
    are kept and left to the canonical try_divide to drop. Output keeps
    the ORIGINAL id dtypes — string-id corpora ride through untouched."""
    import pandas as pd
    from pyspark.sql import types as _T

    lv = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__pva"))
    rv = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__pvb"))
    joined = pairs.join(lv, "id_a").join(rv, "id_b")
    out_schema = _T.StructType([joined.schema["id_a"], joined.schema["id_b"]])

    def flt(batches):
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf[pdf["__pva"].notna() & pdf["__pvb"].notna()]
            if not len(pdf):
                continue
            la = pdf["__pva"].map(len).to_numpy()
            lb = pdf["__pvb"].map(len).to_numpy()
            same = la == lb
            sub = pdf[same]
            sl = la[same]
            keep_parts = []
            for d in np.unique(sl):
                blk = sub[sl == d]
                A = np.stack(blk["__pva"].to_numpy()).astype(np.float64, copy=False)
                B = np.stack(blk["__pvb"].to_numpy()).astype(np.float64, copy=False)
                dots = np.einsum("ij,ij->i", A, B)
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / (
                        np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
                    )
                # drop ONLY finite-below-cut: NaN/inf (NaN inputs, zero
                # norms) stay for the canonical scorer to adjudicate
                m = ~(cos < cut)
                if m.any():
                    keep_parts.append(blk.loc[m, ["id_a", "id_b"]])
            if keep_parts:
                yield pd.concat(keep_parts, ignore_index=True)

    return joined.mapInPandas(flt, out_schema)


def _banded_gemm_pairs(
    ba: DataFrame,
    bb: DataFrame,
    emb: DataFrame,
    cut: float,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-BUCKET blocked matrix-product candidate generator for the
    banded pair tiers — the r11 IVF gemm shape applied to LSH band
    buckets (and, with one constant key, the all-pairs tier): ``ba``
    (``id_a, band_key`` — the multiprobe-expanded side) and ``bb``
    (``id_b, band_key``) define the bucket membership; vectors ride the
    bucket grouping ONCE PER MEMBERSHIP (N × bands × probe rows — small)
    instead of once per candidate pair (the pair-shaped prefilter ships
    ~pairs × 2 vectors through Arrow, which measured SLOWER than the
    interpreted dot at sf0.1). Each bucket's A×Bᵀ runs in numpy in
    1024-row strips (hot buckets degrade to slow, not OOM); only
    ``~(score < cut)`` survivors leave the worker, so the pair DISTINCT
    that dominated the id-pair plan shuffles a few thousand rows, not
    millions. Same conservative drop rule as
    :func:`_numpy_pair_prefilter`: only finite-below-cut scores drop
    (NULL vectors and cross-dim pairs score NULL canonically; NaN stays
    for the canonical scorer, which Spark orders above every number).
    Output: distinct (id_a, id_b) with id_a < id_b on the ORIGINAL id
    dtype (string ids ride through)."""
    import pandas as pd
    from pyspark.sql import types as _T

    vecs = emb.select(F.col(id_col).alias("__bid"), F.col(vec_col).alias("__bv"))
    a = ba.select(F.col("id_a").alias("__pid"), "band_key", F.lit(0).alias("__side"))
    b = bb.select(F.col("id_b").alias("__pid"), "band_key", F.lit(1).alias("__side"))
    sided = (
        a.unionByName(b)
        .join(vecs, F.col("__pid") == F.col("__bid"))
        .select("__pid", "band_key", "__side", "__bv")
    )
    idt = sided.schema["__pid"].dataType
    out_schema = _T.StructType(
        [_T.StructField("id_a", idt), _T.StructField("id_b", idt)]
    )

    def per_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf[pdf["__bv"].notna()]
        empty = pd.DataFrame(
            {"id_a": pdf["__pid"].iloc[:0], "id_b": pdf["__pid"].iloc[:0]}
        )
        A = pdf[pdf["__side"] == 0]
        B = pdf[pdf["__side"] == 1]
        if not len(A) or not len(B):
            return empty
        la = A["__bv"].map(len).to_numpy()
        lb = B["__bv"].map(len).to_numpy()
        parts = []
        for d in np.intersect1d(np.unique(la), np.unique(lb)):
            Ad = A[la == d]
            Bd = B[lb == d]
            VA = np.stack(Ad["__bv"].to_numpy()).astype(np.float64, copy=False)
            VB = np.stack(Bd["__bv"].to_numpy()).astype(np.float64, copy=False)
            na = np.linalg.norm(VA, axis=1)
            nb = np.linalg.norm(VB, axis=1)
            na[na == 0.0] = np.inf  # zero-norm scores 0 → fails any cut > 0
            nb[nb == 0.0] = np.inf
            UA = VA / na[:, None]
            UB = VB / nb[:, None]
            ids_a = Ad["__pid"].to_numpy()
            ids_b = Bd["__pid"].to_numpy()
            # strip width adapts so the product block stays ≤ ~64M
            # doubles (512 MB) even when one bucket holds the corpus
            # (the exact all-pairs tier at large N): degrade to slow,
            # never OOM the Python worker
            strip = max(1, min(1024, 64_000_000 // max(1, len(ids_b))))
            for s in range(0, len(ids_a), strip):
                S = UA[s : s + strip] @ UB.T
                ai, bj = np.nonzero(~(S < cut))  # NaN survives
                if len(ai):
                    parts.append(
                        pd.DataFrame({"id_a": ids_a[ai + s], "id_b": ids_b[bj]})
                    )
        if not parts:
            return empty
        return pd.concat(parts, ignore_index=True)

    raw = sided.groupBy("band_key").applyInPandas(per_bucket, out_schema)
    # canonical unordered-pair normalization on the ORIGINAL ids (the
    # id_a < id_b convention of the expression path); NULL ids drop via
    # != exactly as they drop via < there
    return (
        raw.filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


# Largest job-free row bound (``functions._row_bound``) at which an unsized
# ``cosine_join`` runs the exact all-pairs tier instead of LSH, per
# ``prefilter``: the largest swept size where exact won by ≥ 1.5×. The JVM
# cross join scores every pair, so its crossover sits far below the gemm's
# (docs/SCALE.md, "cosine_join exact vs LSH crossover").
_EXACT_JOIN_ROWS = {"numpy": 30_000, "none": 1_000}


def cosine_join(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    bands: int | None = None,
    dim: int = 64,
    exact: bool | None = None,
    exact_score: bool = False,
    multiprobe: bool | None = None,
    prefilter: str = "numpy",
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold. ``exact=True`` goes
    all-pairs; ``exact=False`` takes LSH-banded candidates. The default
    ``exact=None`` picks by size, with no job: when neither ``n_planes``
    nor ``bands`` is pinned and the input's row bound
    (``functions._row_bound``: a cached and loaded frame, a
    ``LocalRelation``, a Store scan) is at most
    ``_EXACT_JOIN_ROWS[prefilter]``, the exact tier runs — faster there,
    recall 1.0, so its pairs are a superset of the LSH tier's (the
    size-adaptive choice of *Continuously Adaptive Similarity Search*,
    SIGMOD'20). An input with no bound, or above it, takes LSH as before.
    ``exact_score=True`` scores with the exact-decimal cosine
    (``functions.cosine_exact``) so the result is oracle-comparable;
    the default plain-double scorer is the cheap codegen path.

    On the LSH tier ``n_planes``/``bands`` default to the measured
    scale-safe sizing (``lsh_params_for`` over a cached corpus count —
    the r8 probe measured fixed 16/4 at 487.9 s vs 6.7 s flat at just
    10×); pin both to reproduce a fixed banding (the certified fixture
    queries pin the legacy 16/4, matching their bit-exact DuckDB twins).

    ``multiprobe`` widens band collisions from exact signature equality
    to Hamming distance ≤ 1: ONE side of the self-join is expanded with
    every 1-bit flip variant (1 + planes/band keys per band; expanding
    one side suffices — if two signatures differ in one bit, either
    side's flip set contains the other). At the benched cos≥0.4
    threshold this lifts pair recall 0.53 → ~0.95 for ~5× candidate-
    verification cost, which stays proportional to true bucket
    collisions — never all-pairs. Default ``None`` resolves by the
    threshold regime the module documents: ON below cos 0.7 (moderate
    thresholds under-recall on exact banding), OFF at ≥ 0.7 where exact
    banding already recalls ≥0.99 and the widened probe keys only buy
    wall clock (measured r9: the unsized tight-threshold default runs
    DEAD FLAT 1x→10x at recall ≥0.998).

    Candidates travel as id pairs only — vectors re-attach after the
    (distinct) pair set is known, so the band join never shuffles
    embeddings.

    ``prefilter`` (r12 — the gemm-verify lesson generalized): the
    default ``"numpy"`` narrows the candidate set with an Arrow-batched
    einsum at threshold − ε before the canonical scorer runs
    (:func:`_numpy_pair_prefilter`); the canonical expression still
    decides every boundary pair and produces every output value, so the
    row set is byte-identical to ``prefilter="none"`` (pinned in
    pytest). ``"none"`` keeps the pure-JVM expression path (no Python
    workers)."""
    if prefilter not in ("numpy", "none"):
        raise ValueError(f"prefilter must be 'numpy' or 'none', got {prefilter!r}")
    # guard band below every downstream cut: 2e-6 sits under the exact
    # funnel's 1e-6 rough cut, 1e-9 under the plain-double threshold
    # (numpy-vs-fold summation differs ~1e-13 at these dims)
    cut = threshold - (2e-6 if exact_score else 1e-9)
    if exact is None:
        bound = None if n_planes is not None or bands is not None else _row_bound(emb)
        exact = bound is not None and bound <= _EXACT_JOIN_ROWS[prefilter]
    if exact:
        if prefilter == "numpy":
            # one constant bucket: the all-pairs tier is a single blocked
            # gemm (strip-batched — degrades to slow, never OOM)
            key = F.lit("__all").alias("band_key")
            pairs = _banded_gemm_pairs(
                emb.select(F.col(id_col).alias("id_a"), key),
                emb.select(F.col(id_col).alias("id_b"), key),
                emb, cut, id_col, vec_col,
            )
        else:
            pairs = (
                emb.select(F.col(id_col).alias("id_a"))
                .crossJoin(emb.select(F.col(id_col).alias("id_b")))
                .filter(F.col("id_a") < F.col("id_b"))
            )
    else:
        if multiprobe is None:
            multiprobe = threshold < 0.7
        n_planes, bands = _resolve_lsh_params(emb, n_planes, bands)
        b = hyperplane_buckets(emb, vec_col, n_planes, bands, dim).select(
            F.col(id_col), "band_key"
        )
        ba = b.select(F.col(id_col).alias("id_a"), "band_key")
        if multiprobe:
            ba = _multiprobe_keys(ba, n_planes // bands, keep=("id_a",))
        bb = b.select(F.col(id_col).alias("id_b"), "band_key")
        if prefilter == "numpy":
            pairs = _banded_gemm_pairs(ba, bb, emb, cut, id_col, vec_col)
        else:
            pairs = (
                ba.join(bb, "band_key")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
    return _score_pairs(emb, pairs, threshold, id_col, vec_col, exact_score)


def _score_pairs(
    emb: DataFrame,
    pairs: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    exact_score: bool,
    numpy_prefilter: bool = False,
) -> DataFrame:
    """Verify candidate id pairs: re-attach vectors, score, keep cosine ≥
    threshold. Shared epilogue of every blocked pair generator
    (``cosine_join`` LSH tier, ``cosine_join_ivf`` centroid tier, the
    exact all-pairs oracle tier).

    ``numpy_prefilter`` narrows the pair set with the Arrow-batched
    einsum (:func:`_numpy_pair_prefilter`) before any canonical work:
    the guard band sits BELOW every downstream cut (2e-6 under the
    exact funnel's 1e-6 rough cut, 1e-9 under the plain-double
    threshold; numpy-vs-fold summation differs ~1e-13), so the
    surviving superset feeds the UNCHANGED canonical pipeline and the
    output rows are byte-identical with or without it."""
    if numpy_prefilter:
        guard = 2e-6 if exact_score else 1e-9
        pairs = _numpy_pair_prefilter(
            emb, pairs, threshold - guard, id_col, vec_col
        )
    left = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    right = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if exact_score:
        # Exact-decimal scoring, funnel-shaped: the exact NORM is a
        # per-VECTOR quantity — computed once per side before the pair
        # join (identical expression to cosine_exact's, so the final
        # double is bit-identical) — and the expensive exact-decimal pair
        # DOT runs only on pairs surviving a cheap double-precision
        # prefilter at threshold − 1e-6. The double cosine is within
        # ~1e-13 of the exact value, so no pair with exact ≥ threshold
        # can be lost at the 1e-6 guard band; the exact filter then
        # re-applies the true threshold. Measured 11x on the LSH pair
        # tier at sf0.1 (~500k candidates → ~500 exact-scored).
        from ..functions import vec_dot_exact

        lex = left.withColumn("__nsa", vec_norm_sq_exact(F.col("va")))
        rex = right.withColumn("__nsb", vec_norm_sq_exact(F.col("vb")))
        joined = pairs.join(lex, "id_a").join(rex, "id_b")

        def _ddot(x, y):
            return F.aggregate(
                F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
                F.lit(0.0),
                lambda acc, z: acc + z,
            )

        # rough score reuses the exact per-vector norms — ONE double dot
        # per pair is the only per-pair work before the funnel cut
        # try_divide: zero-norm vectors pair with nothing (NULL cosine
        # fails every threshold) instead of ANSI DIVIDE_BY_ZERO
        rough = F.try_divide(
            _ddot(F.col("va"), F.col("vb")),
            F.sqrt(F.col("__nsa")) * F.sqrt(F.col("__nsb")),
        )
        return (
            joined.filter(rough >= F.lit(threshold) - F.lit(1e-6))
            .withColumn(
                "cosine",
                F.try_divide(
                    vec_dot_exact(F.col("va"), F.col("vb")),
                    F.sqrt(F.col("__nsa")) * F.sqrt(F.col("__nsb")),
                ),
            )
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )

    # fast path: each vector's own norm is a per-VECTOR quantity — compute
    # it once before the pair join instead of twice per pair (the naive
    # per-pair cosine does 3 dot products; this does 1 + two cheap column
    # reads, measured ~3x on the candidate-scoring stage)
    def ddot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    ln = left.withColumn("__na", F.sqrt(ddot(F.col("va"), F.col("va"))))
    rn = right.withColumn("__nb", F.sqrt(ddot(F.col("vb"), F.col("vb"))))
    return (
        pairs.join(ln, "id_a")
        .join(rn, "id_b")
        .withColumn(
            "cosine",
            F.try_divide(
                ddot(F.col("va"), F.col("vb")), F.col("__na") * F.col("__nb")
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cross_source_dups(
    emb: DataFrame,
    meta: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_id_col: str = "doc_id",
    group_col: str = "source",
    exact: bool = False,
    exact_score: bool = True,
    n_planes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Cross-source SEMANTIC near-duplicates: cosine near-dup pairs
    (``cosine_join`` — LSH-banded at scale) restricted to pairs whose
    metadata groups DIFFER — the embedding-space twin of
    ``dedup.cross_corpus_*``: a document leaked from source A into source
    B still surfaces after paraphrase/re-encoding that text hashing
    cannot see. The group columns attach AFTER the banded pair join (id
    pairs only travel through the join; the metadata join is one
    broadcast-able hash join per side), so the cross-source filter costs
    nothing extra at scale. Output: (id_a, id_b, source_a, source_b,
    cosine), default exact-decimal scoring → hash-certifiable."""
    pairs = cosine_join(
        emb, threshold, id_col, vec_col,
        n_planes=n_planes, bands=bands,
        exact=exact, exact_score=exact_score,
    )
    ga = meta.select(
        F.col(meta_id_col).alias("id_a"), F.col(group_col).alias("source_a")
    )
    gb = meta.select(
        F.col(meta_id_col).alias("id_b"), F.col(group_col).alias("source_b")
    )
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(F.col("source_a") != F.col("source_b"))
        .select("id_a", "id_b", "source_a", "source_b", "cosine")
    )


def _standing_fitted(
    emb: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame] | None:
    """(assignments, centroids) of a durable ``VectorIndex`` attached to
    this corpus plan (see ``vector_index.attach``), or None. Lazy import:
    vector_index imports this module at top level."""
    from . import vector_index as _vx

    ix = _vx.standing_for(emb, id_col, vec_col)
    return None if ix is None else ix.fitted


def ivf_assign_multi(
    emb: DataFrame,
    centroids: DataFrame,
    m: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_rank: bool = False,
) -> DataFrame:
    """Assign each vector to its ``m`` nearest centroids (not just the
    argmin): broadcast the small centroid table, score every (vector,
    centroid) distance map-side, keep the m best per vector with a window
    partitioned by the (high-cardinality) vector id. Output (id, cluster),
    m rows per vector — the soft-assignment that lets a centroid-blocked
    join catch pairs straddling a cell boundary. ``with_rank=True`` adds
    the 1-based nearness rank (rank 1 = the primary/argmin cell), which
    the asymmetric blocking in :func:`cosine_join_ivf` splits on."""
    from pyspark.sql import Window as W

    scored = (
        ensure_parallelism(emb.select(F.col(id_col), F.col(vec_col)))
        .crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.col("centroid"),
                    lambda x, y: (x.cast("double") - y) ** 2,
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ).alias("dist"),
        )
    )
    out = scored.withColumn(
        "__r", F.row_number().over(W.partitionBy(id_col).orderBy("dist", "cluster"))
    ).filter(F.col("__r") <= m)
    if with_rank:
        return out.select(id_col, "cluster", F.col("__r").alias("rank"))
    return out.select(id_col, "cluster")


def _gemm_cell_candidates(
    sided: DataFrame, threshold: float, id_col: str, asym: bool = False
) -> DataFrame:
    """Per-cell blocked matrix-product PREFILTER for the centroid-blocked
    join: ``sided`` is the soft assignment with vectors attached
    ``(id, cluster, rank, __v)``; each cell's candidate block is U·Uᵀ
    over its members' normalized vectors, run in numpy via
    ``applyInPandas`` (one Arrow batch per cell — N·m vector rows in,
    only prefilter survivors out). Emits id pairs with numpy-cosine ≥
    threshold − 1e-9; the caller re-scores them with the canonical
    Catalyst expression, so numpy's summation order never decides a
    boundary pair or leaks into output values. The product matrix is
    computed in 1024-row strips: a pathological hot cell costs strips ×
    members memory, not members², so it degrades to slow instead of
    OOM. ``asym=True`` multiplies all soft members against PRIMARY
    (rank-1) members only — the judge's r10 asymmetric-blocking
    candidate set."""
    import numpy as np
    import pandas as pd

    cut = threshold - 1e-9
    empty = {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64")}

    def per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # NULL vectors score NULL cosine in the canonical expression and
        # can never pass the threshold — drop them before stacking (a
        # None would crash np.stack); RAGGED vectors (wrong dim) are
        # emitted against EVERYTHING unconditionally instead — the
        # canonical re-score decides them exactly like the fused path's
        # zip_with would, so the prefilter stays lossless vs that path.
        pdf = pdf[pdf["__v"].notna()]
        if len(pdf) < 2:
            return pd.DataFrame(empty)
        pdf = pdf.sort_values("__gid", kind="mergesort")
        lens = pdf["__v"].map(len)
        modal = lens.value_counts().idxmax()
        odd = pdf[lens != modal]
        if len(odd):
            main = pdf[lens == modal]
            all_ids = pdf["__gid"].to_numpy()
            ranks = pdf["rank"].to_numpy()
            oa, ob = [], []
            for oid, orank in zip(odd["__gid"].to_numpy(), odd["rank"].to_numpy()):
                if asym:
                    # fused-asym candidates = soft × primary: an odd row
                    # pairs with the cell's PRIMARY members, plus (when
                    # itself primary) with every soft member — exactly
                    # the pairs the fused path would have scored
                    mask = (all_ids != oid) & ((ranks == 1) | (orank == 1))
                else:
                    mask = all_ids != oid
                oa.append(np.minimum(oid, all_ids[mask]))
                ob.append(np.maximum(oid, all_ids[mask]))
            odd_pairs = pd.DataFrame(
                {"id_a": np.concatenate(oa), "id_b": np.concatenate(ob)}
            ).drop_duplicates()
            rest = per_cell(main) if len(main) >= 2 else pd.DataFrame(empty)
            return pd.concat([odd_pairs, rest], ignore_index=True)
        ids = pdf["__gid"].to_numpy()
        V = np.stack(pdf["__v"].to_numpy()).astype(np.float64, copy=False)
        nrm = np.linalg.norm(V, axis=1)
        nrm[nrm == 0.0] = np.inf  # zero-norm rows score 0 → fail any cut > 0
        U = V / nrm[:, None]
        if asym:
            pmask = (pdf["rank"].to_numpy() == 1)
            if not pmask.any():
                return pd.DataFrame(empty)
            pids, P = ids[pmask], U[pmask]
        out_a: list = []
        out_b: list = []
        # adaptive strip width: product block ≤ ~64M doubles even for a
        # pathological corpus-sized cell (see _banded_gemm_pairs)
        strip = max(1, min(1024, 64_000_000 // max(1, len(ids))))
        for s in range(0, len(ids), strip):
            block = U[s : s + strip]
            if asym:
                S = block @ P.T
                # ~(S < cut), not S >= cut: a NaN score (NaN input
                # values) must survive the prefilter — Spark orders NaN
                # above every number, so the canonical filter keeps it
                ai, bj = np.nonzero(~(S < cut))
                la, rb = ids[ai + s], pids[bj]
                keep = la != rb
                la, rb = la[keep], rb[keep]
                out_a.append(np.minimum(la, rb))
                out_b.append(np.maximum(la, rb))
            else:
                S = block @ U.T
                ai, bj = np.nonzero(~(S < cut))  # NaN survives (see asym)
                gi = ai + s
                keep = gi < bj  # ids sorted ascending → id_a < id_b
                out_a.append(ids[gi[keep]])
                out_b.append(ids[bj[keep]])
        if not out_a:
            return pd.DataFrame(empty)
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    src = sided.select(
        F.col(id_col).cast("long").alias("__gid"), "cluster", "rank", "__v"
    )
    return src.groupBy("cluster").applyInPandas(per_cell, "id_a long, id_b long")


def cosine_join_ivf(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    m_assign: int | None = None,
    iters: int = 2,
    exact_score: bool = False,
    fitted: tuple[DataFrame, DataFrame] | None = None,
    blocking: str = "sym",
    verify: str = "gemm",
) -> DataFrame:
    """Centroid-blocked cosine near-dup join — the MODERATE-threshold scale
    tier. Sign-LSH banding (``cosine_join``) discriminates sharply only in
    the high-cosine near-dup regime (collision prob 1-θ/π ≈ 0.86 at
    cos 0.9 vs 0.5 at random, but only 0.63 at cos 0.4); at moderate
    thresholds its candidate set must go near-quadratic to hold recall.
    Blocking by k-means cells instead exploits corpus CLUSTER STRUCTURE:
    each vector joins its ``m_assign`` nearest centroids' cells and
    candidates are pairs sharing a cell — soft assignment covers pairs that
    straddle one cell boundary.

    Scale shape: with cells sized to a constant (grow ``n_clusters`` ∝ N),
    candidate count is N × cell_size — LINEAR in corpus size, vs quadratic
    for all-pairs. Candidates travel as id pairs; vectors re-attach only in
    the shared verify epilogue (``_score_pairs``). ``fitted`` takes a
    prebuilt ``ivf_fit`` result so the same standing IVF index serves both
    this join and ``ivf_topk`` probes. Approximate by design (recall vs the
    exact tier is measured in bench and pinned in pytest); output schema
    identical to ``cosine_join``.

    Measured on the sf0.1 fixture at threshold 0.4 (the adversarial bottom
    for any blocking scheme — pairs sit at 3σ of the random-cosine
    distribution, barely separated from noise): m_assign 2/3/4 →
    recall 0.60/0.84/0.95 at 24/49/72% of all-pairs candidates —
    m_assign 4 at moderate thresholds since r6 (the LSH tier's
    multi-probe took it to 0.95; the IVF tier should not trail its
    sibling). The candidate FRACTION is a small-corpus artifact (16
    cells over 2k vectors); at fixed cell size the count is linear in N.

    ``m_assign=None`` (default since r10) resolves by the SAME threshold
    regime rule as the LSH tier's multiprobe: 4 below cos 0.7 (the
    moderate-threshold straddle case the soft assignment exists for),
    2 at ≥ 0.7 — near-identical pairs all but share their primary cell,
    and m rides the candidate constant. Pin m_assign to reproduce a
    fixed blocking.

    ``blocking`` (r11): ``"sym"`` (default) blocks on soft cells on BOTH
    sides of the candidate join — a pair is caught when the two soft
    sets intersect ANYWHERE, including a middle cell that is neither
    member's argmin. ``"asym"`` implements the judge's r10 hypothesis —
    soft cells on one side, primary (argmin) cell only on the other,
    cutting the candidate constant m²/2 → m — but measurement REFUTED
    its recall claim on the operative basis: at cos 0.4 on the sf0.1
    fixture, asym m=4 recalls 0.772 vs sym's 0.952 (the moderate-regime
    floor), and the equal-candidate asym m=8 (0.962) buys no wall,
    because moderate-threshold pairs are far apart in centroid space
    and routinely meet ONLY in a shared non-primary cell. The wall cut
    shipped instead is the FUSED verify below, which keeps sym's
    candidate set (certified row sets unchanged) and removes the
    exchanges that actually dominated. ``"asym"`` stays available for
    corpora with real cluster structure, where its premise holds.

    Verify shape (r11): the r10 split probe located the 10× moderate
    wall in the id-pair plumbing AROUND the candidates, not the math —
    generate pairs → DISTINCT (a full shuffle of 61.8M nearly-all-unique
    id pairs) → re-attach vectors (two more joins). This tier's
    candidate volume is large BY DESIGN (m²·cs/2 pairs per vector), so
    the LSH tier's "ids only travel the join" rule inverts here: carry
    each vector (and its precomputed norm) INTO the cell join — the
    shuffle is N·m vector rows (~51 MB at 10×, vs ~1 GB of id pairs) —
    and score inline in the same stage, so candidate rows are generated,
    scored, and threshold-filtered without EVER hitting an exchange;
    distinct runs after the threshold cut on the few survivors. A pair
    sharing multiple soft cells is scored once per shared cell (~3.5%
    extra dot products at 10×) — far cheaper than shuffling the
    candidate set to dedup it first. Same candidates, same scoring
    expression → byte-identical output rows. ``exact_score=True`` keeps
    the id-pair + decimal-funnel path (distinct BEFORE the expensive
    exact dot is the right order there).

    ``verify="gemm"`` (default) goes one step further: with the pair
    plumbing fused away, the residual wall is the per-pair dot itself —
    Catalyst evaluates ``aggregate(zip_with(...))`` INTERPRETED, outside
    whole-stage codegen (~21 s for 64M 32-dim dots at 10×). Each cell's
    candidate block is literally a small matrix product, so the gemm
    verify groups the soft assignment by cell and runs U·Uᵀ per cell in
    numpy via ``applyInPandas`` (Arrow moves N·m vectors in and only
    PREFILTER SURVIVORS out), keeping pairs with numpy-cosine ≥
    threshold − 1e-9; survivors are then RE-SCORED with the canonical
    Catalyst expression at the true threshold, so numpy's different
    summation order can neither lose a boundary pair (the 1e-9 guard
    band dwarfs double rounding) nor leak a foreign cosine value into
    the output — byte-identical rows to the fused path, measured ~2×
    faster at 10× moderate threshold. Per-cell memory is blocked
    (1024-row strips of the product matrix), so a skewed hot cell
    degrades gracefully instead of OOMing the Python worker.
    ``verify="fused"`` keeps the pure-JVM expression path (no Python
    workers — e.g. under a policy that forbids Python UDFs).
    """
    if m_assign is None:
        m_assign = 4 if threshold < 0.7 else 2
    if blocking not in ("asym", "sym"):
        raise ValueError(f"blocking must be 'asym' or 'sym', got {blocking!r}")
    if verify not in ("gemm", "fused"):
        raise ValueError(f"verify must be 'gemm' or 'fused', got {verify!r}")
    # n_clusters=None → ivf_params_for sizing inside ivf_fit (cell size
    # stays constant as N grows); irrelevant when a fitted index is passed.
    # Fully-unsized calls first probe for a standing durable VectorIndex
    # attached to this corpus plan (r10): re-running Lloyd per call throws
    # away the persisted fit — measured, the fit dominates the unsized
    # wall while the standing probe is ~1.6 s.
    if fitted is None and n_clusters is None:
        fitted = _standing_fitted(emb, id_col, vec_col)
    _, centroids = fitted or ivf_fit(emb, id_col, vec_col, n_clusters, iters)
    # materialize the soft assignment once (lazy local checkpoint): the
    # cell join references it on BOTH sides, and without the cut the
    # whole assign subtree (broadcast-score + per-id window) executes twice
    # — measured 7.8 → 4.6 s at sf0.1
    multi = ivf_assign_multi(
        emb, centroids, m_assign, id_col, vec_col, with_rank=True
    ).localCheckpoint(eager=False)

    if exact_score:
        # decimal-funnel verify wants DISTINCT pairs before the exact dot
        if blocking == "asym" and m_assign > 1:
            soft = multi.select(F.col(id_col).alias("id_s"), "cluster")
            prim = multi.filter(F.col("rank") == 1).select(
                F.col(id_col).alias("id_p"), "cluster"
            )
            pairs = (
                soft.join(prim, "cluster")
                .filter(F.col("id_s") != F.col("id_p"))
                .select(
                    F.least("id_s", "id_p").alias("id_a"),
                    F.greatest("id_s", "id_p").alias("id_b"),
                )
                .distinct()
            )
        else:
            ba = multi.select(F.col(id_col).alias("id_a"), "cluster")
            bb = multi.select(F.col(id_col).alias("id_b"), "cluster")
            pairs = (
                ba.join(bb, "cluster")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
        return _score_pairs(emb, pairs, threshold, id_col, vec_col, exact_score)

    if verify == "gemm":
        sided = (
            multi.join(
                emb.select(
                    F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
                ),
                multi[id_col] == F.col("__id"),
            )
            .select(F.col(id_col), "cluster", "rank", "__v")
        )
        # r11 advice: the pandas prefilter stage needs INTEGRAL ids (its
        # Arrow schema and the sorted-ascending dedup are long-typed); a
        # string/decimal id corpus — fine under the fused verify — would
        # crash the long cast under ANSI. Map such ids through an internal
        # surrogate long (the joins.py checkpointed
        # monotonically_increasing_id pattern: recompute-safe within one
        # action) and translate the surviving pairs back; the canonical
        # pair order (id_a < id_b on the ORIGINAL ids, the fused path's
        # convention) is restored with least/greatest.
        from pyspark.sql import types as _T

        int_id = isinstance(
            emb.schema[id_col].dataType,
            (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType),
        )
        sur = None
        if not int_id:
            sur = (
                emb.select(F.col(id_col).alias("__oid"))
                .distinct()
                .withColumn("__sid", F.monotonically_increasing_id())
                .localCheckpoint(eager=False)
            )
            sided = sided.join(sur, sided[id_col] == sur["__oid"]).select(
                F.col("__sid").alias(id_col), "cluster", "rank", "__v"
            )
        pairs = _gemm_cell_candidates(
            sided, threshold, id_col,
            asym=(blocking == "asym" and m_assign > 1),
        ).distinct()
        if sur is not None:
            sa = sur.select(F.col("__sid").alias("id_a"), F.col("__oid").alias("__oa"))
            sb = sur.select(F.col("__sid").alias("id_b"), F.col("__oid").alias("__ob"))
            pairs = (
                pairs.join(sa, "id_a")
                .join(sb, "id_b")
                .select(
                    F.least("__oa", "__ob").alias("id_a"),
                    F.greatest("__oa", "__ob").alias("id_b"),
                )
            )
        # canonical re-score: numpy was only the prefilter — the output
        # cosines and the boundary cut come from the shared epilogue
        return _score_pairs(emb, pairs, threshold, id_col, vec_col, False)

    # FUSED verify: vectors + norms ride the cell join; score + threshold
    # run map-side in the join stage; distinct only on survivors
    def ddot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )

    vecs = emb.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).withColumn("__n", F.sqrt(ddot(F.col("__v"), F.col("__v"))))
    sided = multi.join(vecs, multi[id_col] == vecs["__id"]).select(
        F.col(id_col), "cluster", "rank", "__v", "__n"
    ).localCheckpoint(eager=False)
    la = sided.select(
        F.col(id_col).alias("id_a"), "cluster",
        F.col("__v").alias("va"), F.col("__n").alias("__na"),
    )
    lb = sided.select(
        F.col(id_col).alias("id_b"), "cluster",
        F.col("__v").alias("vb"), F.col("__n").alias("__nb"),
    )
    if blocking == "asym" and m_assign > 1:
        lb = (
            sided.filter(F.col("rank") == 1).select(
                F.col(id_col).alias("id_b"), "cluster",
                F.col("__v").alias("vb"), F.col("__n").alias("__nb"),
            )
        )
        scored = (
            la.join(lb, "cluster")
            .filter(F.col("id_a") != F.col("id_b"))
            .withColumn(
                "cosine",
                F.try_divide(
                    ddot(F.col("va"), F.col("vb")), F.col("__na") * F.col("__nb")
                ),
            )
            .filter(F.col("cosine") >= threshold)
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "cosine",
            )
        )
    else:
        scored = (
            la.join(lb, "cluster")
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "cosine",
                F.try_divide(
                    ddot(F.col("va"), F.col("vb")), F.col("__na") * F.col("__nb")
                ),
            )
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    return scored.distinct()


def ivf_fit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    iters: int = 2,
    normalize: bool = False,
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic k-means-lite for an IVF index: centroids seeded from
    the k smallest ids, Lloyd iterations done with array expressions
    (posexplode → per-dimension mean → re-assemble). Returns (assignments
    (id, cluster), centroids (cluster, centroid)).

    Everything is DataFrame ops — assignment is a broadcast cross join with
    a min_by reduction, centroid update is one shuffle on (cluster, dim).
    No RNG state: restartable and executor-independent, which is what an
    IVF build job needs at 100 TB.

    ``normalize=True`` fits on L2-normalized vectors — REQUIRED when the
    index feeds :func:`ivf_pq_topk`, whose PQ layer lives in normalized
    (cosine-monotone) space: fitting IVF on raw vectors while ADC scores
    normalized codes mixes metric spaces, and when norms vary the probed
    cells stop matching cosine neighborhoods (recall collapses beyond
    what either index alone costs). The probe side normalizes the query
    to match (standard IVF-PQ construction).
    """
    src = emb.select(F.col(id_col), F.col(vec_col))
    if normalize:
        src = emb.select(F.col(id_col), _unit(vec_col).alias(vec_col))
    if k is None:
        # unsized fit → measured scale-safe cell count (constant expected
        # cell size; the counting scan is memoized per logical plan)
        k = ivf_params_for(_corpus_count(emb))
    vecs = ensure_parallelism(src).persist()
    # Seed from the k smallest ids via distributed top-k
    # (TakeOrderedAndProject) and number the k rows on the driver — k is a
    # small constant, so the collect is bounded bookkeeping, not a data
    # move. (A global row_number window here would funnel the entire table
    # through one task at scale.)
    seed_rows = vecs.orderBy(id_col).limit(k).collect()
    spark = emb.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seed_rows)],
        "cluster int, centroid array<double>",
    )
    assigned = None
    for _ in range(iters):
        scored = vecs.crossJoin(F.broadcast(centroids)).select(
            F.col(id_col),
            F.col("cluster"),
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.col("centroid"),
                    lambda x, y: (x.cast("double") - y.cast("double")) ** 2,
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ).alias("dist"),
        )
        assigned = scored.groupBy(id_col).agg(F.min_by("cluster", F.struct("dist", "cluster")).alias("cluster"))
        centroids = (
            assigned.join(vecs, id_col)
            .select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
                ).alias("centroid")
            )
        )
    # materialize the returned frames off the cached input, then release
    # it — a fit is called once per corpus snapshot, and leaving its
    # cached blocks behind taxes every later job in the session (the
    # bench's documented session-debris effect); localCheckpoint (eager)
    # also cuts the lineage so the returned frames never recompute Lloyd.
    # materialize=False keeps the lazy plan (plan audits, callers that
    # persist the frames themselves) — and then the input cache stays,
    # the pre-r9 contract.
    if materialize:
        assigned = assigned.localCheckpoint()
        centroids = centroids.localCheckpoint()
        vecs.unpersist()
    return assigned, centroids


def ivf_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    iters: int = 2,
    fitted: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate top-k: rank centroids by distance to the query,
    scan only the ``nprobe`` nearest inverted lists, exact-score inside.
    The scale path when LSH recall is not enough: cluster quality bounds
    the probe set instead of random hyperplanes.

    ``fitted`` takes a prebuilt ``ivf_fit`` result — in production the IVF
    index is built ONCE per corpus snapshot and probed by every query;
    refitting per query would re-run Lloyd iterations against 100 TB for
    a 10-row answer. A fully-unsized call (neither ``fitted`` nor
    ``n_clusters``) therefore first probes for a standing durable
    ``VectorIndex`` attached to this corpus plan and only falls back to
    an in-session fit when none exists."""
    if fitted is None and n_clusters is None:
        fitted = _standing_fitted(emb, id_col, vec_col)
    assigned, centroids = fitted or ivf_fit(emb, id_col, vec_col, n_clusters, iters)
    q = query.select(F.col("qvec"))
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "cluster",
            F.aggregate(
                F.zip_with(
                    F.col("centroid"), F.col("qvec"), lambda x, y: (x - y.cast("double")) ** 2
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ).alias("dist"),
        )
        .orderBy("dist", "cluster")
        .limit(nprobe)
        .select("cluster")
    )
    cand = (
        assigned.join(F.broadcast(probe), "cluster", "left_semi")
        .join(emb.select(id_col, vec_col), id_col)
    )
    return topk_cosine(cand, query, k, id_col, vec_col)


def knn_join_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "qvec",
    n_clusters: int | None = None,
    iters: int = 2,
    fitted: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Batch ANN retrieval — :func:`knn_join` through an IVF index: each
    query ranks the centroids, probes only its ``nprobe`` nearest cells'
    members, and exact-scores just those candidates. The production
    retrieval shape at 100 TB: per-query work is nprobe·cell_size
    candidates (constant under ``ivf_params_for`` sizing) instead of the
    exact tier's full corpus scan per query.

    Plan shape: queries × centroids is a broadcast cross join of two
    small relations (Q·k_cells rows); the per-query cell ranking windows
    on q_id over that tiny frame; candidates come from ONE equi-join of
    the probed (q_id, cluster) pairs against the assignment table
    (map-side prunable), and vectors attach only for candidates. The
    final top-k windows on q_id over Q·nprobe·cell rows — bounded, so no
    two-phase reduction is needed (the exact tier needs one because its
    scored set is Q·N). Scored with the exact-decimal cosine: with
    ``nprobe`` = all cells the row set EQUALS the exact :func:`knn_join`
    and is oracle-certifiable (the exhaustive-probe certification
    pattern); smaller nprobe trades recall, pinned in pytest.

    A fully-unsized call (neither ``fitted`` nor ``n_clusters``) routes
    through a standing durable ``VectorIndex`` attached to the corpus
    plan, like ``ivf_topk``. Output: (q_id, id, cosine, rank 1..k).
    """
    from pyspark.sql import Window as W

    if fitted is None and n_clusters is None:
        fitted = _standing_fitted(emb, id_col, vec_col)
    assigned, centroids = fitted or ivf_fit(emb, id_col, vec_col, n_clusters, iters)
    qdist = F.aggregate(
        F.zip_with(
            F.col(q_vec_col),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y.cast("double")) ** 2,
        ),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )
    probe = (
        queries.select(q_id_col, q_vec_col)
        .crossJoin(F.broadcast(centroids))
        .select(F.col(q_id_col), F.col("cluster"), qdist.alias("__d"))
        .withColumn(
            "__r", F.row_number().over(W.partitionBy(q_id_col).orderBy("__d", "cluster"))
        )
        .filter(F.col("__r") <= max(1, nprobe))
        .select(q_id_col, "cluster")
    )
    cand = probe.join(assigned, "cluster").select(q_id_col, id_col)
    scored = (
        cand.join(ensure_parallelism(emb.select(id_col, vec_col)), id_col)
        .join(F.broadcast(queries.select(q_id_col, q_vec_col)), q_id_col)
        .select(
            F.col(q_id_col),
            F.col(id_col),
            cosine_exact(F.col(vec_col), F.col(q_vec_col)).alias("cosine"),
        )
        .filter(F.col("cosine").isNotNull())
    )
    return (
        scored.withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy(q_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
            ),
        )
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", F.col("rank").cast("long").alias("rank"))
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "qvec",
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = max|v| / 127``,
    ``q_d = round(v_d / scale)`` — the 4× memory/shuffle-bandwidth
    reduction an ANN index pays for ~<1% cosine error at 100 TB (verified
    by the recall property test). Pure per-row array expressions (map-only,
    no shuffle); all-zero vectors quantize to zeros with scale 0.

    Output: (id, qvec array<int> in [-127, 127], scale double). Ints not
    bytes in the column type because neither Spark SQL arrays nor the
    oracle engine have an int8 element type — the VALUES are int8-range,
    which is what a real byte-packed sink would store.
    """
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    q = F.when(
        F.col("__scale") > 0,
        F.transform(v, lambda x: F.round(x.cast("double") / F.col("__scale"), 0).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return (
        ensure_parallelism(emb)
        .select(F.col(id_col), v, scale.alias("__scale"))
        .select(F.col(id_col), q.alias(out_col), F.col("__scale").alias("scale"))
    )


def norm_stats(emb: DataFrame, group_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Per-group stats of vector L2 norms — exact-decimal norm², double
    epilogue; used as an oracle-checkable embedding-pipeline health query."""
    norms = emb.select(
        F.col(group_col), F.sqrt(vec_norm_sq_exact(F.col(vec_col))).alias("norm")
    )
    return norms.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
    )


def semantic_dup_clusters(
    emb: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    exact_score: bool = False,
    method: str = "lsh",
    fitted: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Semantic dedup CLUSTERS over embedding space: cosine near-dup
    pairs (``cosine_join``) → connected components (transitive closure) →
    every vector labeled with its cluster representative (min id), the
    cluster size, and a keep flag — the embedding-space twin of
    ``dedup.dup_clusters``, for near-duplicates that text hashing cannot
    see (paraphrases, translations, re-encodings).

    Scale path is the default ``exact=False``: blocked candidates travel
    as id pairs, vectors never shuffle with the candidate join, and the
    component loop is O(log diameter) rounds (``graph.connected_components``).
    ``method`` picks the candidate generator — ``"lsh"`` (hyperplane
    banding, right for high near-dup thresholds) or ``"ivf"``
    (centroid-blocked soft assignment, ``cosine_join_ivf`` — higher recall
    at moderate thresholds; pass ``fitted`` to reuse a standing IVF index).
    ``exact=True`` + ``exact_score=True`` is the all-pairs oracle-checkable
    tier for fixture-scale verification.
    """
    from .graph import connected_components

    if method not in ("lsh", "ivf"):
        raise ValueError(f"method must be 'lsh' or 'ivf', got {method!r}")
    if method == "ivf" and not exact:
        pairs = cosine_join_ivf(
            emb, threshold, id_col, vec_col, exact_score=exact_score, fitted=fitted
        ).select("id_a", "id_b")
    else:
        pairs = cosine_join(
            emb, threshold, id_col, vec_col, exact=exact, exact_score=exact_score
        ).select("id_a", "id_b")
    comp = connected_components(pairs, "id_a", "id_b")
    lab = (
        emb.select(F.col(id_col))
        .join(comp.select(F.col("node").alias(id_col), "component"), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_rep"),
        )
    )
    sizes = lab.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return lab.join(sizes, "cluster_rep").select(
        F.col(id_col),
        "cluster_rep",
        "cluster_size",
        (F.col(id_col) == F.col("cluster_rep")).alias("keep"),
    )


def truncate_embeddings(
    emb: DataFrame, dims: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Matryoshka-style truncation: keep the first ``dims`` components of
    each embedding (MRL-trained models front-load information, so a
    prefix is a usable lower-dimensional embedding). Pure map-side
    ``slice`` — no renormalization is stored; cosine renormalizes by
    construction, so downstream scorers work unchanged. The memory /
    bandwidth / compute lever that composes with int8 quantization:
    truncate THEN quantize for (d/dims)×4 total compression.

    Output: (id, embedding<float array of dims>).
    """
    if dims < 1:
        raise ValueError("dims must be >= 1")
    return emb.select(
        F.col(id_col),
        F.slice(F.col(vec_col), 1, dims).alias(vec_col),
    )


def topk_cosine_truncated(
    emb: DataFrame,
    query: DataFrame,
    dims: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine in the TRUNCATED (first ``dims`` components)
    space — the cheap first stage of a Matryoshka funnel (truncated scan
    narrows candidates; full-dimension rescoring, when wanted, runs on
    the top-k only). Same broadcast + sort-limit shape and the same
    exact-decimal scorer as :func:`topk_cosine`, so the DuckDB twin is
    hash-exact."""
    tq = query.select(F.slice(F.col("qvec"), 1, dims).alias("qvec"))
    return topk_cosine(
        truncate_embeddings(emb, dims, id_col, vec_col), tq, k, id_col, vec_col
    )


def funnel_topk(
    emb: DataFrame,
    query: DataFrame,
    dims: int,
    shortlist: int = 100,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full Matryoshka retrieval funnel: a truncated-space exact scan
    keeps a ``shortlist``, then ONLY the shortlist is rescored with the
    full-dimension exact cosine and cut to ``k``.

    Scale shape: the expensive full-dimension scorer touches ``shortlist``
    rows instead of the corpus — the corpus-wide pass runs on d'/d of the
    bytes (and composes with the int8 tier). The shortlist (ids only)
    broadcasts back onto the corpus as a semi-join, so full vectors are
    re-read only for survivors; with column pruning the truncated scan
    never materializes the tail components. Deterministic end to end
    (exact-decimal scorers both stages, id tiebreaks), so the DuckDB twin
    is hash-exact — unlike the LSH/IVF tiers this funnel is approximate
    ONLY through the shortlist cut, which the twin reproduces.

    Output: (id, cosine) — full-dimension cosines, top-k of the shortlist.
    """
    short_ids = topk_cosine_truncated(
        emb, query, dims, shortlist, id_col, vec_col
    ).select(id_col)
    survivors = emb.join(F.broadcast(short_ids), id_col, "left_semi")
    return topk_cosine(survivors, query, k, id_col, vec_col)


def topk_cosine_int8(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k over the int8-QUANTIZED tier: corpus and query are
    symmetrically quantized (:func:`quantize_embeddings`), the dot
    product runs in INTEGER arithmetic — exact in long, no float-sum
    order sensitivity at all — and the per-vector scales factor OUT of
    the cosine entirely (cos(q·a) = int_dot / (|q_int| * |a_int|)), so
    the score depends only on the integer codes. This is what a
    byte-packed 100 TB index actually computes per candidate: 4× less
    bandwidth and integer MACs; the quantization error (≲1% cosine,
    recall-pytested) is the trade.

    Deterministic end to end → hash-exact DuckDB twin, unlike the
    LSH/IVF tiers. Output: (id, cosine_q) — cosine in the quantized
    space; ties broken by id.
    """
    qc = quantize_embeddings(emb, id_col, vec_col, out_col="__q")
    qq = F.broadcast(
        quantize_embeddings(
            query.select(F.lit(-1).alias("__qid"), F.col("qvec")), "__qid", "qvec", "__p"
        ).select("__p")
    )
    idot = F.aggregate(
        F.zip_with(F.col("__q"), F.col("__p"), lambda a, b: (a.cast("long") * b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nsq = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x.cast("long") * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        qc.crossJoin(qq)
        .select(
            F.col(id_col),
            F.when(
                (nsq("__q") > 0) & (nsq("__p") > 0),
                idot.cast("double")
                / (F.sqrt(nsq("__q").cast("double")) * F.sqrt(nsq("__p").cast("double"))),
            )
            .otherwise(F.lit(0.0))
            .alias("cosine_q"),
        )
        .orderBy(F.col("cosine_q").desc(), F.col(id_col))
        .limit(k)
    )


def _unit(vec_col: str) -> F.Column:
    """v / ||v|| in double (zero vectors pass through unchanged)."""
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, z: acc + z,
        )
    )
    return F.when(
        nrm > 0, F.transform(F.col(vec_col), lambda x: x.cast("double") / nrm)
    ).otherwise(F.transform(F.col(vec_col), lambda x: x.cast("double")))


def pq_fit(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebook fit: vectors are L2-normalized (so
    squared L2 is monotone with cosine), split into ``m`` contiguous
    subvectors, and a deterministic k-means-lite runs over ALL subspaces
    SIMULTANEOUSLY — the training set is the exploded (id, sub, subvec)
    table, centroids are keyed by (sub, cluster), and each Lloyd round is
    one broadcast-join assignment plus one (sub, cluster, dim) shuffle —
    m independent fits for the price of one pipeline. Seeding mirrors
    :func:`ivf_fit`: the ``ksub`` smallest ids' subvectors, no RNG, so
    the build is restartable and executor-independent.

    Returns (codes (id, codes array<int> length m),
             codebook (sub, cluster, centroid array<double>)).
    Memory: codes are m small ints per vector — with m=8 on 64-dim
    floats that is a 32× compression of the search state.
    """
    spark = emb.sparkSession
    first = emb.select(F.size(vec_col).alias("d")).first()
    d = int(first["d"])
    if d % m:
        raise ValueError(f"dims {d} not divisible by m={m}")
    dsub = d // m
    unit = ensure_parallelism(emb).select(F.col(id_col), _unit(vec_col).alias("__u"))
    subs = unit.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> slice(__u, s * {dsub} + 1, {dsub}))"
            )
        ).alias("sub", "subvec"),
    ).persist()
    # Seed DIVERSELY but deterministically: order by md5(id) rather than id
    # — consecutive ids are often correlated (same source/batch), and
    # correlated seeds collapse Lloyd iterations into few effective
    # clusters, which is exactly the low-recall failure mode. md5 ordering
    # is a fixed pseudo-random permutation: restartable, executor-
    # independent, and spread across the corpus.
    seed_rows = unit.orderBy(F.md5(F.col(id_col).cast("string")), id_col).limit(ksub).collect()
    codebook = spark.createDataFrame(
        [
            (s, i, [float(x) for x in r["__u"][s * dsub : (s + 1) * dsub]])
            for i, r in enumerate(seed_rows)
            for s in range(m)
        ],
        "sub int, cluster int, centroid array<double>",
    )
    assigned = None
    for _ in range(iters):
        scored = subs.join(F.broadcast(codebook), "sub").select(
            F.col(id_col),
            "sub",
            "cluster",
            F.aggregate(
                F.zip_with(
                    F.col("subvec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ).alias("dist"),
        )
        assigned = scored.groupBy(id_col, "sub").agg(
            F.min_by("cluster", F.struct("dist", "cluster")).alias("cluster")
        )
        codebook = (
            assigned.join(subs, [id_col, "sub"])
            .select("sub", "cluster", F.posexplode("subvec").alias("pos", "v"))
            .groupBy("sub", "cluster", "pos")
            .agg(F.avg("v").alias("mdim"))
            .groupBy("sub", "cluster")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "mdim"))),
                    lambda s: s["mdim"],
                ).alias("centroid")
            )
        )
    codes = assigned.groupBy(id_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("sub", "cluster"))),
            lambda s: s["cluster"],
        ).alias("codes")
    )
    subs.unpersist()
    return codes, codebook


def pq_encode(
    emb: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against an EXISTING PQ codebook — the incremental
    half of :func:`pq_fit` (identical normalization, slicing, and
    nearest-sub-centroid assignment, factored out so a standing index can
    encode an insert batch at O(batch) cost instead of refitting).
    Returns (id, codes array<int> length m)."""
    cb = codebook.collect()
    m = max(r["sub"] for r in cb) + 1
    dsub = len(cb[0]["centroid"])
    spark = emb.sparkSession
    cb_df = spark.createDataFrame(
        [(r["sub"], r["cluster"], [float(x) for x in r["centroid"]]) for r in cb],
        "sub int, cluster int, centroid array<double>",
    )
    unit = ensure_parallelism(emb).select(F.col(id_col), _unit(vec_col).alias("__u"))
    subs = unit.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}), s -> slice(__u, s * {dsub} + 1, {dsub}))"
            )
        ).alias("sub", "subvec"),
    )
    scored = subs.join(F.broadcast(cb_df), "sub").select(
        F.col(id_col),
        "sub",
        "cluster",
        F.aggregate(
            F.zip_with(
                F.col("subvec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ).alias("dist"),
    )
    assigned = scored.groupBy(id_col, "sub").agg(
        F.min_by("cluster", F.struct("dist", "cluster")).alias("cluster")
    )
    return assigned.groupBy(id_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("sub", "cluster"))),
            lambda s: s["cluster"],
        ).alias("codes")
    )


def pq_topk(
    codes: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query is
    normalized and sliced per subspace, a (sub, cluster) → squared-L2
    distance TABLE is computed against the codebook (m × ksub rows —
    broadcast), and each corpus vector's approximate distance is the sum
    of m table lookups on its codes. The scan touches only the codes
    (m small ints per vector — never the original embeddings), which is
    the entire point at 100 TB: the ADC pass reads ~3% of the bytes of a
    float scan. Approximate by design (rows-only oracle tier like
    LSH/IVF; recall pinned by test). Output: (id, approx_dist) ascending
    — on normalized vectors squared L2 is monotone with cosine."""
    m = codebook.groupBy().agg(F.max("sub")).first()[0] + 1
    q = query.select(_unit("qvec").alias("__qu")).first()["__qu"]
    dsub = len(q) // m
    spark = codes.sparkSession
    qsubs = spark.createDataFrame(
        [(s, [float(x) for x in q[s * dsub : (s + 1) * dsub]]) for s in range(m)],
        "sub int, qsub array<double>",
    )
    table = (
        codebook.join(F.broadcast(qsubs), "sub")
        .select(
            "sub",
            "cluster",
            F.aggregate(
                F.zip_with(
                    F.col("centroid"), F.col("qsub"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ).alias("dsq"),
        )
    )
    exploded = codes.select(F.col(id_col), F.posexplode("codes").alias("sub", "cluster"))
    return (
        exploded.join(F.broadcast(table), ["sub", "cluster"])
        .groupBy(id_col)
        .agg(F.sum("dsq").alias("approx_dist"))
        .orderBy(F.col("approx_dist").asc(), F.col(id_col))
        .limit(k)
    )


def pq_funnel_topk(
    emb: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    query: DataFrame,
    shortlist: int | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ shortlist + exact rescore — the production ADC pipeline: the
    cheap integer-code scan (:func:`pq_topk`) keeps ``shortlist``
    candidates, then only those re-read their float vectors for the exact
    cosine cut to ``k``. Same funnel economics as
    :func:`funnel_topk`, with the corpus-wide pass reading PQ codes
    (~3% of float bytes) instead of truncated floats; the rescore
    recovers most of the quantization-error recall (pinned by test).
    ``shortlist`` defaults to ``max(100, 10·k)`` — the 10× over-fetch
    the headline ``pq_topk`` rescore economics are built on: a funnel
    whose recall is LOWER than its first stage (the r6 shortlist-50
    default measured 0.8) defeats the funnel's purpose, and the rescore
    reads shortlist·D floats per query either way — a rounding error
    next to the corpus-wide code scan."""
    if shortlist is None:
        shortlist = max(100, 10 * k)
    short = pq_topk(codes, codebook, query, shortlist, id_col).select(id_col)
    return topk_cosine(
        emb.join(F.broadcast(short), id_col, "left_semi"), query, k, id_col, vec_col
    )


def ivf_pq_topk(
    codes: DataFrame,
    codebook: DataFrame,
    ivf_fitted: tuple[DataFrame, DataFrame],
    query: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    refine: int = 0,
    emb: DataFrame | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the standard large-scale ANN composition: the IVF layer
    ranks centroids against the query and keeps the ``nprobe`` nearest
    cells' members; the PQ layer ADC-scores ONLY those candidates from
    their integer codes. Per query the work is nprobe/n_clusters of the
    corpus touched, at ~3% of float bytes per candidate — multiplying
    both indexes' savings; neither the probe nor the scoring ever reads
    an original embedding. Both index builds are standing, per-corpus
    artifacts (``ivf_fit``, ``pq_fit``). Output: (id, approx_dist)
    ascending (normalized-space squared L2 — monotone with cosine).
    Approximate by design; recall pinned by test, funnel rescore
    (:func:`pq_funnel_topk` shape) recovers the tail when needed.

    The IVF index must be fit with ``ivf_fit(..., normalize=True)`` so
    both layers share the normalized (cosine-monotone) space the PQ codes
    live in; the probe normalizes the query to match.

    ``refine > 0`` appends the standard refine stage (Faiss
    ``IndexRefineFlat`` shape): ADC keeps ``refine`` candidates, then
    ONLY those re-read their float vectors (``emb`` required) for an
    exact cosine cut to ``k`` — output (id, score) descending. When the
    k-nearest cosine margins sit below PQ quantization noise (common for
    near-uniform corpora), the rescore recovers the recall the raw ADC
    ranking cannot; the corpus-wide pass still reads only integer codes."""
    assigned, centroids = ivf_fitted
    q = query.select(_unit("qvec").alias("qvec"))
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .select(
            "cluster",
            F.aggregate(
                F.zip_with(
                    F.col("centroid"), F.col("qvec"), lambda x, y: (x - y.cast("double")) ** 2
                ),
                F.lit(0.0),
                lambda acc, z: acc + z,
            ).alias("dist"),
        )
        .orderBy("dist", "cluster")
        .limit(nprobe)
        .select("cluster")
    )
    cand_codes = codes.join(
        assigned.join(F.broadcast(probe), "cluster", "left_semi").select(id_col),
        id_col,
        "left_semi",
    )
    # ADC over the candidate codes only — same table build as pq_topk
    if not refine:
        return pq_topk(cand_codes, codebook, query, k, id_col)
    if emb is None:
        raise ValueError("refine > 0 requires the float-vector table (emb=...)")
    short = pq_topk(cand_codes, codebook, query, refine, id_col).select(id_col)
    return topk_cosine(
        emb.join(F.broadcast(short), id_col, "left_semi"), query, k, id_col, vec_col
    )


def embedding_dispersion(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    quant: int = 10**6,
) -> DataFrame:
    """Per-group embedding DISPERSION: mean squared distance to the
    group's centroid (the trace of the within-group covariance) — the
    diversity diagnostic that tells a curation pipeline which sources are
    embedding-space monocultures (low) vs genuinely varied (high).

    Elements are quantized to 1/``quant`` (floor(x·quant + 0.5) — exact
    double arithmetic, identical in every engine) and the statistic is
    computed from integer sufficient statistics, so it is hash-exact:

        A_g = Σ_i Σ_j q_ij²   (per-vector map-side fold)
        B_g = Σ_j S_j²        with S_j = Σ_i q_ij
        dispersion = (n·A − B) / (n² · quant²)

    Raw floats must NOT be cast to DECIMAL directly — synthetic/quantized
    float corpora sit exactly on decimal-half boundaries where engines
    round differently (HALF_UP vs half-even); integer quantization has no
    rounding step at all. Quantization bias is ≤ (1/quant)² per dim.

    Scale shape: A and n come from a map-side per-vector fold + one
    |groups|-keyed rollup (the N·D element table is never shuffled for
    them); only the per-dim sums S_j take a (group, dim) shuffle, whose
    key space is |groups|·D at any corpus size. DECIMAL(38,0) holds the
    exact products up to ~1e9 vectors/group at 64 dims — shard beyond.

    Output: (group, n_vecs, dispersion).
    """
    dec38 = "decimal(38,0)"
    q = lambda x: F.floor(x.cast("double") * quant + F.lit(0.5)).cast("long")
    # A: per-vector Σ q² folds map-side (≤ D·quant² fits long), then one
    # group-keyed decimal-exact rollup
    per_vec_sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: q(x)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v * v,
    )
    an = (
        emb.select(F.col(group_col), per_vec_sq.alias("__sq"))
        .groupBy(group_col)
        .agg(
            F.sum(F.col("__sq").cast(dec38)).alias("__A"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
        )
    )
    ex = emb.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("__pos", "__x")
    )
    sj = ex.groupBy(group_col, "__pos").agg(F.sum(q(F.col("__x"))).alias("__s"))
    b = sj.groupBy(group_col).agg(
        F.sum(F.col("__s").cast(dec38) * F.col("__s")).alias("__B")
    )
    n_d = F.col("n_vecs").cast("double")
    return (
        an.join(b, group_col)
        .select(
            group_col,
            "n_vecs",
            (
                (F.col("n_vecs").cast(dec38) * F.col("__A") - F.col("__B")).cast(
                    "double"
                )
                / (n_d * n_d * F.lit(float(quant) * float(quant)))
            ).alias("dispersion"),
        )
    )


def centroid_similarity(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    quant: int = 10**6,
) -> DataFrame:
    """Cross-group centroid COSINE matrix: for every group pair (a < b),
    the cosine between the groups' mean embeddings — the drift/overlap
    diagnostic that tells a curation pipeline which sources occupy the
    same embedding region (near 1) vs genuinely distinct material, the
    companion to the within-group view of :func:`embedding_dispersion`.

    Same integer-sufficient-statistics scheme as dispersion (quantize to
    1/``quant``, exact DECIMAL(38,0) folds), and the n/quant scale factors
    CANCEL in the cosine, so only the per-dim integer sums S_gj matter:

        cos(a, b) = (S_a·S_b) / (√(S_a·S_a) · √(S_b·S_b))

    dot and norms are exact integers; the final √/÷ run on exactly-known
    values in one fixed expression order, so the result is bit-stable
    across engines and the DuckDB twin certifies it hash-exact. Pairs
    involving a ZERO-NORM group centroid (all per-dim sums quantize to 0)
    are excluded from the matrix — a directionless centroid has no cosine
    (NULL under try_divide here, IEEE NaN under DuckDB's 0/0), and
    excluding them on both sides is what keeps the hash-exact claim true
    on such corpora.

    Scale shape: the N·D element table collapses to |groups|·D per-dim
    sums in ONE shuffle; the pair matrix is a self-join of that tiny
    relation on dim (|groups|²·D intermediate — broadcast-sized for any
    realistic source count). Nothing pairwise ever touches row data.

    Output: (group_a, group_b, n_a, n_b, cosine).
    """
    dec38 = "decimal(38,0)"
    q = lambda x: F.floor(x.cast("double") * quant + F.lit(0.5)).cast("long")
    ex = emb.select(
        F.col(group_col).alias("g"), F.posexplode(F.col(vec_col)).alias("__pos", "__x")
    )
    sj = ex.groupBy("g", "__pos").agg(F.sum(q(F.col("__x"))).alias("__s"))
    sj = sj.localCheckpoint(eager=False)  # reused 3x: norms + both join sides
    nrm = sj.groupBy("g").agg(
        F.sum(F.col("__s").cast(dec38) * F.col("__s")).alias("__nrm")
    )
    cnt = emb.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    a = sj.select(F.col("g").alias("ga"), "__pos", F.col("__s").alias("__sa"))
    b = sj.select(F.col("g").alias("gb"), "__pos", F.col("__s").alias("__sb"))
    dot = (
        a.join(b, "__pos")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.sum(F.col("__sa").cast(dec38) * F.col("__sb")).alias("__dot"))
    )
    na = nrm.select(F.col("g").alias("ga"), F.col("__nrm").alias("__na"))
    nb = nrm.select(F.col("g").alias("gb"), F.col("__nrm").alias("__nb"))
    ca = cnt.select(F.col("g").alias("ga"), F.col("__n").alias("n_a"))
    cb = cnt.select(F.col("g").alias("gb"), F.col("__n").alias("n_b"))
    return (
        dot.join(F.broadcast(na), "ga")
        .join(F.broadcast(nb), "gb")
        .join(F.broadcast(ca), "ga")
        .join(F.broadcast(cb), "gb")
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_a",
            "n_b",
            F.try_divide(
                F.col("__dot").cast("double"),
                F.sqrt(F.col("__na").cast("double"))
                * F.sqrt(F.col("__nb").cast("double")),
            ).alias("cosine"),
        )
        # a zero-norm group centroid has no direction: try_divide yields
        # NULL and the pair is DEFINED OUT of the matrix (same contract as
        # topk_cosine/cosine_join) — also what keeps the hash-exact claim
        # honest, since DuckDB's IEEE 0/0 would be NaN, not NULL (the twin
        # filters nrm > 0 to match)
        .filter(F.col("cosine").isNotNull())
    )


def embedding_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
    k: int = 5,
    quant: int = 10**6,
) -> DataFrame:
    """Per-group embedding OUTLIERS: the k vectors farthest from their
    own group's centroid — the curation pass that surfaces mislabeled /
    off-topic material inside an otherwise coherent source. Exact via
    the same integer sufficient statistics as :func:`embedding_dispersion`:

        n²·d²_i = n²·A_i − 2n·B_i + C
        A_i = Σ_j q_ij²   (per-vector map fold)
        B_i = q_i·S_g     (dot with the group's per-dim integer sums)
        C   = Σ_j S_gj²   (group constant)

    all in DECIMAL(38,0); the displayed distance² divides by n²·quant²
    at the end — one fixed expression, engine-exact.

    Scale shape: S_g is |groups|·D — broadcast back to the scan, so B_i
    is a map-side per-vector fold too; the only row-count-sized shuffle
    is the per-group top-k rank window (partitioned by group). Output:
    (group, rank, id, dist2).
    """
    from pyspark.sql import Window as W

    dec38 = "decimal(38,0)"
    q = lambda x: F.floor(x.cast("double") * quant + F.lit(0.5)).cast("long")
    ex = emb.select(
        F.col(group_col).alias("g"), F.posexplode(F.col(vec_col)).alias("__pos", "__x")
    )
    sj = ex.groupBy("g", "__pos").agg(F.sum(q(F.col("__x"))).alias("__s"))
    grp = sj.groupBy("g").agg(
        F.sum(F.col("__s").cast(dec38) * F.col("__s")).alias("__C"),
    )
    cnt = emb.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    # per-vector A and B: B needs S_j per dim — collect the group's sums
    # into an array via a broadcast join keyed on (g, pos) after exploding
    # the vector once more
    per_vec = emb.select(
        F.col(id_col),
        F.col(group_col).alias("g"),
        F.posexplode(F.col(vec_col)).alias("__pos", "__x"),
    )
    ab = (
        per_vec.join(F.broadcast(sj), ["g", "__pos"])
        .groupBy("g", id_col)
        .agg(
            # q² fits long (≤ quant²·D); q·S casts to decimal BEFORE the
            # multiply so huge groups (S ~ quant·n) cannot overflow long
            F.sum((q(F.col("__x")) * q(F.col("__x"))).cast(dec38)).alias("__A"),
            F.sum(q(F.col("__x")).cast(dec38) * F.col("__s")).alias("__B"),
        )
    )
    n_d = F.col("__n").cast(dec38)
    dist2_num = n_d * n_d * F.col("__A") - F.lit(2).cast(dec38) * n_d * F.col("__B") + F.col("__C")
    scored = (
        ab.join(F.broadcast(grp), "g")
        .join(F.broadcast(cnt), "g")
        .select(
            "g",
            F.col(id_col),
            (
                dist2_num.cast("double")
                / (
                    F.col("__n").cast("double")
                    * F.col("__n").cast("double")
                    * F.lit(float(quant) * float(quant))
                )
            ).alias("dist2"),
        )
    )
    w = W.partitionBy("g").orderBy(F.col("dist2").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(F.col("g").alias(group_col), "rank", id_col, "dist2")
    )


def maxsim_topk(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: int = 0,
    m: int = 4,
    k: int = 10,
    quant: int = 10**6,
) -> DataFrame:
    """Late-interaction (ColBERT-style) MaxSim retrieval, hash-exact.

    Multi-vector retrieval scores a document as the sum, over the QUERY's
    token vectors, of each token's best match among the DOCUMENT's token
    vectors:  ``score(q, d) = Σ_i max_j  q_i · d_j``.  The fixture carries
    one vector per row, so each embedding is split into ``m`` contiguous
    subvectors standing in for token vectors — the plumbing (slicing,
    m² row-local dots, max-pool, sum, global top-k) is exactly what a real
    per-token-embedding table needs; swap the slicer for an explode over
    a ``array<array<float>>`` column and nothing else changes.

    Dot products are BIGINT over 1e-6-quantized elements (the
    ``embedding_dispersion`` convention), so max-pooling and the final
    sum are engine-exact — no float drift can flip a ranking — and the
    whole operator has a plain SQL twin. MaxSim here is the dot-product
    form (standard for pre-normalized embedding sets); it is NOT
    normalized per subvector, since a sqrt would leave the integers.

    Scale shape: the query's m subvectors are driver literals (one
    bounded 1-row lookup), every one of the m² dots evaluates row-locally
    inside whole-stage codegen, and the only distributed step is the
    global top-k (TakeOrderedAndProject — per-partition heads then one
    driver merge). Nothing shuffles by key; cost is one scan at any
    corpus size.

    Output: (id, score_i, score) — integer score and its double form
    (score_i / quant²), descending, ties on id; the query row excluded.
    """
    import math

    if m < 1 or k < 1:
        raise ValueError("m and k must be >= 1")
    qrow = emb.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        raise ValueError(f"query id {query_id} not found")
    qvec = [int(math.floor(float(x) * quant + 0.5)) for x in qrow[0]]
    d = len(qvec)
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    qsubs = [qvec[i * sub : (i + 1) * sub] for i in range(m)]

    qarr = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant + F.lit(0.5)).cast("long"),
    )

    def dot(i: int, j: int) -> F.Column:
        qlit = F.array(*[F.lit(v).cast("long") for v in qsubs[i]])
        dslice = F.slice(qarr, j * sub + 1, sub)
        return F.aggregate(
            F.zip_with(qlit, dslice, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    score = None
    for i in range(m):
        best = F.greatest(*[dot(i, j) for j in range(m)]) if m > 1 else dot(i, 0)
        score = best if score is None else (score + best)
    return (
        emb.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), score.alias("score_i"))
        .withColumn(
            "score", F.col("score_i").cast("double") / F.lit(float(quant) * float(quant))
        )
        .orderBy(F.desc("score_i"), id_col)
        .limit(k)
    )
