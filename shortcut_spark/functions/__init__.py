"""Reusable column expressions.

Two concerns shape this module:

1. **Oracle determinism.** The driver hash-compares our Spark results with
   DuckDB. Per-row arithmetic with a fixed expression tree is IEEE-double
   deterministic in ANY engine — but SUM order is not, and Spark/DuckDB
   will sum in different orders. Rule: keep per-row math in DOUBLE, then
   cast the per-row result to DECIMAL (exact, associative, commutative)
   for the SUM, and convert back to DOUBLE at the very end. The same casts
   appear verbatim in the oracle SQL, so both engines produce bit-identical
   doubles. Division happens after, double-by-double, with identical
   operands on both sides.

2. **Stay JVM-side.** Everything here is built from pyspark.sql.functions —
   no Python UDFs — so filters/aggregates stay inside whole-stage codegen
   and Catalyst can push them around. The reference computes nothing on
   values beyond ==/< (``src/lib.rs:75``); all of this is the "free in
   Spark" extension surface (SURVEY §2.2).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "ensure_parallelism",
    "dsum",
    "davg",
    "salted_sum_count",
    "hash32",
    "vec_dot_exact",
    "vec_norm_sq_exact",
    "cosine_exact",
    "tokens",
    "token_count",
    "bpe_ish_tokens",
    "bpe_token_count",
    "BPE_ISH_RE",
    "punct_ratio",
    "upper_ratio",
    "digit_ratio",
    "stopword_hits",
    "fingerprint",
]

# decimal shapes shared with the oracle SQL (keep in sync with __spark_entry__)
_DEC = "decimal(27,6)"
_DEC14 = "decimal(28,14)"


# one spread partition per this many estimated input bytes: a sub-MB
# fixture stays at `min_parts` partitions; the spread only approaches the
# core count when the input actually carries tens of MB per core.
_SPREAD_BYTES_PER_PART = 4 * 1024 * 1024


def _plan_size_bytes(df) -> int | None:
    """Optimizer size estimate of ``df`` (no job; same source as the
    broadcast-join decision), or None when the optimizer does not know
    it. A leaf it cannot size (a Python-list ``createDataFrame``, an
    RDD-backed input) reports ``spark.sql.defaultSizeInBytes``
    (``Long.MaxValue`` unless set), and every estimate built on such a
    leaf is a scaled copy of that default, not a size."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        unknown = int(df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes())
        leaves = plan.collectLeaves()
        sizes = [int(leaves.apply(i).stats().sizeInBytes()) for i in range(leaves.size())]
        est = int(plan.stats().sizeInBytes())
    except Py4JError:
        return None
    return None if max(sizes + [est]) >= unknown else est


def _partition_count(df) -> int | None:
    """Partitions of ``df``'s physical plan when reading them runs no job,
    else None. Building the RDD of a plan that holds an exchange or a
    subquery runs it: AQE materializes every query stage below the root
    (``AdaptiveSparkPlan``), and a static plan runs its broadcasts and
    subqueries. So only an exchange-free plan is asked (a scan, a cached
    or checkpointed relation, a ``LocalRelation``, and maps over them);
    an inner cached plan counts too, since an unmaterialized cache builds
    itself. The one place library code reads a partition count."""
    plan = df._jdf.queryExecution().executedPlan().treeString()
    if any(k in plan for k in ("AdaptiveSparkPlan", "Exchange", "Subquery")):
        return None
    return df.rdd.getNumPartitions()


# unary plan nodes that never emit more rows than their child: the row
# bound passes through them (an Aggregate over zero rows still emits one)
_ROW_KEEPING = frozenset(
    ("Project", "Filter", "Sort", "Repartition", "RepartitionByExpression", "Sample",
     "GlobalLimit", "LocalLimit", "Deduplicate", "Window", "Aggregate")
)


def _row_bound(df) -> int | None:
    """An upper bound on ``df``'s row count that costs no job, or None.

    A full Store scan (``Store.find([])``) answers with its manifest
    live-row count (``_shortcut_live_rows``). Otherwise the optimized
    plan is walked down through unary nodes that never add rows
    (``_ROW_KEEPING``; an ``Aggregate`` bounds by ``max(child, 1)``; a
    with-replacement ``Sample`` can add rows, so it ends the walk) to a
    leaf whose count Spark holds: a ``LocalRelation`` or a ``Range``
    (exact), or a fully loaded ``InMemoryRelation`` (its row-count
    accumulator, an upper bound: a recomputed cache block adds to it
    twice). Anything else is None: a join, a union, a generator, a file
    scan (catalog statistics are estimates, not bounds), a checkpoint,
    or a cache not loaded yet. The one place library code reads a row
    count from the plan."""
    live = getattr(df, "_shortcut_live_rows", None)
    if live is not None:
        return int(live)
    floor = 0
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while True:
            name = node.getClass().getSimpleName()
            if name not in _ROW_KEEPING:
                break
            if name == "Sample" and node.withReplacement():
                return None
            if name == "Aggregate":
                floor = 1
            node = node.children().apply(0)
        rows = None
        if name in ("LocalRelation", "Range"):
            known = node.maxRows()
            rows = int(known.get()) if known.isDefined() else None
        elif name == "InMemoryRelation":
            cache = node.cacheBuilder()
            if cache.isCachedColumnBuffersLoaded():
                rows = int(cache.rowCountStats().value())
    except Py4JError:
        return None
    return None if rows is None else max(rows, floor)


def ensure_parallelism(df, min_parts: int = 8):
    """Small fixture files arrive as 1-2 partitions, serializing heavy map
    stages (tokenize/hash/vector math); spread them. No-op for
    already-parallel input, and for input whose partition count costs a
    job to read (:func:`_partition_count`): a plan with an exchange gets
    its width from AQE, and counting it would run the upstream shuffle
    once more just for the count. Streaming DataFrames pass through
    untouched (``.rdd`` is illegal on them; micro-batch sizing is the
    stream's own concern).

    The spread width derives from the DATA (estimated bytes / 4 MB,
    floored at ``min_parts``, capped at the core count) — never the bare
    core count: r12 spread every sub-MB input to ``defaultParallelism``
    and the resulting 32-wide Python-worker fleets per map stage
    collapsed the 32-core contract environment (mm_png_pixels 0.06×,
    embed_knn_join 0.14× — opt guide §2.4's "repartition(n) someone
    added for parallelism" anti-pattern). A tiny input now gets
    ``min_parts`` partitions at every core count, so per-query cost is
    core-count-robust; an input of unknown size (:func:`_plan_size_bytes`
    is None) has no byte signal and gets ``min_parts`` too."""
    if df.isStreaming:
        return df
    cur = _partition_count(df)
    if cur is None or cur >= min_parts:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    floor = min(min_parts, cores)
    size = _plan_size_bytes(df)
    by_bytes = 0 if size is None else -(-size // _SPREAD_BYTES_PER_PART)
    target = min(cores, max(floor, by_bytes))
    if target <= cur:
        return df
    return df.repartition(target)


def dsum(col: str | Column, alias: str | None = None) -> Column:
    """Exact, order-independent SUM of a double expression.

    The expression may be any per-row double computation (e.g.
    ``l_extendedprice * (1 - l_discount)``) — per-row doubles are
    engine-deterministic; only the SUM needs the decimal detour.

    SQL twin: ``CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE)``.

    Cost note (measured at sf0.1): DECIMAL(27,6) SUM is ~2.2x slower than
    a plain double or scaled-long SUM because precision 27 forces the
    BigDecimal path. A ``SUM(CAST(round(x*1e6) AS BIGINT))`` variant
    matches double-sum speed and is equally deterministic, but silently
    overflows int64 around 1e12 in value-units summed — a bound a 100 TB
    fact table actually exceeds. Decimal is the scale-safe choice; revisit
    only with an overflow-checked long accumulator.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: str | Column, alias: str | None = None) -> Column:
    """avg = exact-decimal sum cast to double, divided by count — both
    engines divide the same two numbers, so the doubles match.

    SQL twin: ``CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double") / F.count(F.lit(1))
    return out.alias(alias) if alias else out


def salted_sum_count(
    df,
    keys: list[str],
    value_col: str,
    salts: int = 16,
    sum_alias: str = "sum_value",
    count_alias: str = "n",
):
    """Skew-safe two-phase aggregation: rows of a hot key are spread over
    ``salts`` sub-keys for the partial aggregate, then partials combine in
    a second (tiny) shuffle. The salt is a deterministic hash of the whole
    row — no RNG, so retries and the oracle see identical results — and
    the decimal detour keeps the two-phase sum bit-equal to a direct one.

    AQE's skew handling covers joins; this is the analogous pattern for
    aggregations whose key histogram is pathological (e.g. one event_type
    dominating a 100 TB events table).
    """
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(*df.columns), F.lit(salts)))
    partial = salted.groupBy(*keys, "__salt").agg(
        F.sum(F.col(value_col).cast(_DEC)).alias("__psum"),
        F.count(F.lit(1)).alias("__pcnt"),
    )
    return partial.groupBy(*keys).agg(
        F.sum("__psum").cast("double").alias(sum_alias),
        F.sum("__pcnt").alias(count_alias),
    )


def hash32(col: Column, seed: int | str = 0) -> Column:
    """Deterministic 32-bit hash available identically in DuckDB:
    first 8 hex chars of md5(seed || ':' || value), parsed as a long.

    SQL twin: ``('0x' || substr(md5(seed || ':' || x), 1, 8))::BIGINT``.

    Not murmur — chosen because both engines have md5, so index-free
    operators built on it (MinHash, SimHash) are oracle-checkable.
    """
    payload = F.concat(F.lit(f"{seed}:"), col.cast("string"))
    return F.conv(F.substring(F.md5(payload), 1, 8), 16, 10).cast("long")


# -- vector math (embeddings: array<float>) ----------------------------------


def vec_dot_exact(a: Column, b: Column) -> Column:
    """Exact dot product: per-element product in DOUBLE (deterministic),
    cast to DECIMAL(28,14), summed in a fold — order-independent because
    decimal addition is exact, so it equals DuckDB's unordered SUM over
    UNNEST with the same casts. Returns double.

    SQL twin (over unnested elements)::

        CAST(SUM(CAST(CAST(ax AS DOUBLE) * CAST(bx AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE)
    """
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC14))
    acc0 = F.lit(0).cast(_DEC14)
    return F.aggregate(prods, acc0, lambda acc, x: (acc + x).cast(_DEC14)).cast("double")


def vec_norm_sq_exact(a: Column) -> Column:
    return vec_dot_exact(a, a)


def cosine_exact(a: Column, b: Column) -> Column:
    """cosine = exact-dot / (sqrt(exact)*sqrt(exact)) — all-double epilogue
    on identical operands in both engines. try_divide: a zero-norm vector
    has no direction, so its cosine is NULL (sorted/filtered away by every
    consumer) rather than an ANSI DIVIDE_BY_ZERO crash; fixture corpora
    carry no zero vectors, so oracle parity is untouched."""
    return F.try_divide(
        vec_dot_exact(a, b), F.sqrt(vec_norm_sq_exact(a)) * F.sqrt(vec_norm_sq_exact(b))
    )


# -- text features (documents.text) ------------------------------------------

# whitespace tokenization; shared with the oracle SQL via regexp
_WS = "\\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text (empty string → empty array).

    DuckDB twin: ``regexp_split_to_array(trim(text), '\\s+')`` guarded for
    empty input.
    """
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, _WS))


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


# BPE-ish pretokenizer: letter runs, 1-3 digit groups (the cl100k-style
# digit split), punctuation runs. Alternatives are first-char-disjoint so
# Java regex (Spark) and RE2 (DuckDB) extract identical token streams.
BPE_ISH_RE = "[a-z]+|[0-9]{1,3}|[^a-z0-9\\s]+"


def bpe_ish_tokens(text: Column) -> Column:
    """Pretokenized (BPE-ish) tokens of lowercased text — approximates an
    LLM tokenizer's pre-split for token-budget estimation without a vocab.

    DuckDB twin: ``regexp_extract_all(lower(text), '[a-z]+|[0-9]{1,3}|[^a-z0-9\\s]+')``.
    """
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_RE), 0)


def bpe_token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text))


def _count_matches(text: Column, pattern: str) -> Column:
    # length-difference trick works identically in DuckDB
    return F.length(text) - F.length(F.regexp_replace(text, pattern, ""))


def punct_ratio(text: Column) -> Column:
    """punctuation chars / total chars (0 for empty)."""
    n = _count_matches(text, "[\\.,;:!\\?]")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(n / F.length(text))


def upper_ratio(text: Column) -> Column:
    n = _count_matches(text, "[A-Z]")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(n / F.length(text))


def digit_ratio(text: Column) -> Column:
    n = _count_matches(text, "[0-9]")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(n / F.length(text))


# small fixed stopword lists per language for the n-gram-free language-ID
# heuristic; chosen to be expressible as one regexp per language in both
# engines.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht", "mit"],
    "es": ["el", "la", "de", "que", "y", "los", "un", "es"],
}


def stopword_hits(text: Column, lang: str) -> Column:
    """How many whitespace-delimited tokens are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    toks = tokens(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over the normalized token stream
    (lowercased, punctuation stripped, whitespace collapsed) — a canonical
    content hash that survives formatting changes. SQL twin uses the same
    regexp pipeline."""
    norm = F.regexp_replace(F.lower(text), "[^a-z0-9\\s]", " ")
    norm = F.trim(F.regexp_replace(norm, "\\s+", " "))
    return F.md5(norm)
