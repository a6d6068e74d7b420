"""Distributed connected components — the dedup-cluster primitive.

Near-dup detection (MinHash / SimHash banding) emits PAIRS; turning pairs
into deletion decisions needs the transitive closure: if A~B and B~C, all
three are one cluster and one representative survives. That closure is
connected components over the pair graph.

The reference engine has no graph surface (its world is single-Store
predicate scans, `/root/reference/src/lib.rs`); this module is part of the
LLM-pipeline extension surface mandated by the driver.

Algorithm: min-label propagation with pointer jumping.

* Every node starts labeled with itself.
* Round = (1) neighbor-min: each node takes the min label over itself and
  its neighbors — one shuffle join (edges ⋈ labels on the dst key) plus
  one groupBy-min on the node key; (2) pointer jump: label := label(label)
  — one more self-join — which halves remaining chain depth, so rounds
  needed are O(log diameter) instead of O(diameter). Near-dup graphs are
  dense blobs with tiny diameter, so this converges in a handful of
  rounds even at 100 TB; a pathological 1M-node path graph still needs
  only ~20 rounds.
* Each round ends in an eager localCheckpoint(): iterative self-joins
  otherwise double the logical plan every pass until the optimizer chokes.
  On a multi-executor cluster prefer a reliable checkpoint dir
  (sc.setCheckpointDir + .checkpoint()) so a lost executor cannot lose
  label partitions; localCheckpoint is the local-mode equivalent.
* Convergence probe: the PREVIOUS label rides along through the round, so
  "did anything change" is a filter+count over the freshly checkpointed
  partitions — no extra join, no extra shuffle, one integer to the
  driver. The first round is never probed (with any edge present it
  always changes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from ..session import local_relation, scoped_confs

__all__ = ["connected_components", "pagerank", "triangle_counts"]

#: Edge-count bound (directed rows of the deduped bidirectional edge set)
#: under which connected components run as a driver-side union-find
#: instead of the distributed label-propagation loop. The count is
#: driver-known for free (the loop's static-compile gate already pays
#: it over checkpointed partitions), and below this bound the loop is
#: pure scheduling floor: each O(log d) round is one tiny job plus a
#: fresh Catalyst analysis/codegen pass (~0.5 s/round measured at 62k
#: edges on local[32]), while a bounded collect is ≤ ~3 MB of key pairs
#: and union-find is microseconds. Same class of gate as the Store's
#: driver kernels (DRIVER_INSERT_ROWS): at real scale the near-dup graph
#: is billions of edges and the distributed loop runs as before. Setting the module attribute to 0
#: forces the distributed loop everywhere.
CC_DRIVER_EDGES = 200_000


def _static_loop_confs(n_e: int) -> dict:
    """Static compile of an iterative graph loop whose working set the
    driver-known edge count bounds: AQE off and a shuffle width derived
    from the edge count (never the session constant). Bulk graphs keep
    AQE (``{}``)."""
    if n_e > 2_000_000:
        return {}
    return {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(max(1, n_e // 65536 + 1)),
    }


def _cc_driver_types_ok(dt) -> bool:
    """Node types whose Python ordering matches Spark's ``min`` ordering
    exactly: integral and (UTF-8 code-point ordered) string. Everything
    else keeps the distributed loop — correctness never rides the
    fast path."""
    return isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType)
    )


def _cc_driver(
    e: DataFrame, out_node: str, out_comp: str
) -> DataFrame:
    """Driver union-find over a BOUNDED edge collect: same contract as the
    distributed loop — every node appearing in an edge is labeled with the
    minimum node id of its component. ``e`` is the deduped bidirectional
    edge relation (both directions present; self-loops possible), already
    checkpointed and counted by the caller's gate. The labels come back
    as an Arrow-built ``LocalRelation`` (``session.local_relation``), so
    the planner knows their size and broadcasts them into the caller's
    join instead of shuffling both sides."""
    rows = e.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        s, d = r[0], r[1]
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    node_t = e.schema[0].dataType
    return _driver_relation(
        e.sparkSession,
        {
            out_node: (node_t, list(parent)),
            out_comp: (node_t, [comp_min[find(n)] for n in parent]),
        },
    )


def _driver_relation(spark, columns: dict) -> DataFrame:
    """``{name: (spark type, python values)}`` as an Arrow-built
    ``LocalRelation`` with non-nullable columns — the output of the graph
    driver kernels."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    schema = T.StructType([T.StructField(n, t, False) for n, (t, _) in columns.items()])
    table = pa.table({n: pa.array(v, to_arrow_type(t)) for n, (t, v) in columns.items()})
    return local_relation(spark, [table], schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    out_node: str = "node",
    out_comp: str = "component",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges`` (either
    endpoint); ``component`` is the minimum node id in the node's connected
    component, so it doubles as the canonical cluster representative.

    Edges are treated as undirected; isolated nodes (not in any edge) do
    not appear — callers union them back as their own singletons. Edges
    with a NULL endpoint are dropped (an edge to an unknown node carries
    no connectivity — and a NULL "node" would otherwise act as a shared
    bridge merging every component that touches one), matching
    ``triangle_counts``' NULL handling.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).filter(
        F.col("s").isNotNull() & F.col("d").isNotNull()
    )
    e = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    # computed once, joined every round; the count below is the action
    # that materializes it (an eager checkpoint would be one more job)
    e = e.localCheckpoint(eager=False)
    # Static loop compile (the matview-refresh pattern): one round is 3
    # shuffles (neighbor join, node min, pointer jump) and under AQE each
    # exchange materializes as its OWN Spark job, so a round whose only
    # action is the fused probe-count still launches ~5 jobs of pure
    # scheduling floor. The edge count is driver-known from the count
    # that fills the checkpoint; when it
    # bounds the loop's working set small, pin a static shuffle-partition
    # count DERIVED FROM THE EDGE COUNT (not the session/core constant)
    # and turn AQE off for the loop — every round is then exactly one
    # job. Bulk graphs keep AQE (skew splits / coalescing earn their jobs
    # there). Identical labels either way — AQE only re-plans execution.
    spark = edges.sparkSession
    n_e = e.count()
    # Driver kernel for driver-known-small graphs (see CC_DRIVER_EDGES):
    # the label-propagation loop below costs O(log d) jobs of scheduling
    # floor that a ≤3 MB bounded collect + union-find replaces outright.
    # Identical output (min-id labels over the same edge set); gated on
    # node types whose Python ordering equals Spark's.
    if n_e <= CC_DRIVER_EDGES and _cc_driver_types_ok(e.schema["s"].dataType):
        return _cc_driver(e, out_node, out_comp)
    with scoped_confs(spark, _static_loop_confs(n_e)):
        labels = (
            e.select(F.col("s").alias("node"))
            .distinct()
            .select(F.col("node"), F.col("node").alias("lbl"))
            .localCheckpoint(eager=True)
        )

        lbl_type = labels.schema["lbl"].dataType
        for it in range(max_iter):
            nbr_min = e.join(
                labels.select(F.col("node").alias("d"), F.col("lbl")), "d"
            ).select(F.col("s").alias("node"), F.col("lbl"))
            # carry the previous label ("old") through the round so
            # convergence is detectable on the round's own output — every
            # node appears in `labels` exactly once, so max(old) recovers
            # it through the union
            cand = (
                labels.select("node", "lbl", F.col("lbl").alias("old"))
                .unionByName(nbr_min.withColumn("old", F.lit(None).cast(lbl_type)))
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"), F.max("old").alias("old"))
            )
            jump = cand.select(F.col("node").alias("lbl"), F.col("lbl").alias("jlbl"))
            new = cand.join(jump, "lbl", "left").select(
                "node", F.coalesce("jlbl", "lbl").alias("lbl"), "old"
            )
            # LAZY checkpoint + count: the convergence probe's count() is
            # the round's ONLY action — it materializes the checkpoint
            # (lineage still cut before anything downstream reads it) AND
            # returns the changed-row count, so each round costs one Spark
            # job where the eager-checkpoint-then-count form cost two (opt
            # guide §1.2: don't pay two passes for one round).
            new = new.localCheckpoint(eager=False)
            changed = new.where(F.col("lbl") != F.col("old")).count()
            labels = new.select("node", "lbl")
            if it > 0 and changed == 0:
                break

    return labels.select(F.col("node").alias(out_node), F.col("lbl").alias(out_comp))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 5,
    d_num: int = 17,
    d_den: int = 20,
    scale: int = 10**9,
    dangling: str = "evaporate",
) -> DataFrame:
    """Weighted PageRank in integer FIXED-POINT arithmetic — every step is
    BIGINT multiply / floor-divide, so the whole iterative computation is
    bit-identical in any engine and (unlike float PageRank, whose
    reduce-order drift defies certification) has an exact SQL twin: the
    fixed ``iters`` unroll into a chain of plain CTEs.

    Per node: rank mass out of ``scale``; damping d = d_num/d_den (17/20 =
    0.85). Each iteration, spec (the oracle replicates it verbatim):

        contrib(u→v) = (r_u · w_uv · d_num) div (out_u · d_den)
        r'_v = (scale · (d_den − d_num)) div (N · d_den) + Σ_u contrib(u→v)

    Floor-rounding loses ≤1 unit per edge per iteration — at scale=1e9
    that is noise. ``dangling`` picks the no-out-edge policy:
    ``"evaporate"`` (default) lets dangling mass vanish (the cheap
    simplification); ``"redistribute"`` adds the standard uniform
    redistribution term ``(D·d_num) div (N·d_den)`` with D = Σ dangling
    rank that iteration — ONE extra 1-row broadcast aggregate per round,
    still pure BIGINT floor arithmetic, so the variant stays
    oracle-unrollable and the total rank mass stays ≈ ``scale`` (up to
    ≤1-unit floor losses per node/edge). Overflow bound:
    r_u·w_uv·d_num must fit in int64,
    i.e. max edge weight ≲ 5·10⁸ at the default scale — raise/lower
    ``scale`` to trade precision against weight headroom.

    Scale shape: per iteration one shuffle joining ranks to edges on the
    src key and one partial-aggregated sum on the dst key — the classic
    distributed PageRank round. Plan depth is bounded by an eager
    localCheckpoint per round (reliable ``checkpoint()`` on a real
    cluster), same convention as :func:`connected_components`.

    Output: (node, rank_i, rank) — the integer mass and its double form
    (exact: both < 2^53).
    """
    if dangling not in ("evaporate", "redistribute"):
        raise ValueError(f"dangling must be 'evaporate' or 'redistribute', got {dangling!r}")
    w_col = (F.col(weight) if weight else F.lit(1)).cast("long")
    # weights are counts: non-positive rows are dropped up front — a
    # zero-total-out-weight source would otherwise divide by zero (an
    # ERROR in strict engines, a silent NULL in Spark) and negative
    # weights break floor-division parity (Spark div truncates, SQL //
    # floors). A node whose every edge is dropped becomes dangling.
    # NULL endpoints are dropped with the same rationale as
    # connected_components: an edge to an unknown node is no edge, and a
    # NULL "node" would otherwise receive/emit rank as if it were one.
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"), w_col.alias("w"))
        .filter(F.col("w") > 0)
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .localCheckpoint(eager=True)
    )
    # Static loop compile — same gate and rationale as
    # :func:`connected_components`: a rank round is 2-3 shuffles and AQE
    # materializes each as its own job, pure scheduling floor when the
    # driver-known edge count bounds the working set; partitions derive
    # from the edge count, never the session constant.
    spark = edges.sparkSession
    n_e = e.count()
    # Driver kernel for driver-known-small graphs (the CC_DRIVER_EDGES
    # gate): every rank step is integer multiply / truncating-div over
    # NON-NEGATIVE operands (weights filtered > 0, ranks start positive
    # and only add non-negative terms), where Python's floor // equals
    # Spark's truncate-toward-zero div — so the bounded collect + Python
    # loop reproduces the distributed rounds bit for bit while replacing
    # iters × (join + agg + checkpoint) jobs of scheduling floor. The
    # heavy part of callers — building the edge aggregate — stays
    # distributed either way; big graphs keep the loop below.
    if n_e <= CC_DRIVER_EDGES:
        return _pagerank_driver(
            e, iters, d_num, d_den, scale, dangling
        )
    with scoped_confs(spark, _static_loop_confs(n_e)):
        nodes = (
            e.select(F.col("s").alias("node"))
            .union(e.select(F.col("d").alias("node")))
            .distinct()
        )
        outw = e.groupBy("s").agg(F.sum("w").alias("ow"))
        n1 = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
        r = (
            nodes.crossJoin(F.broadcast(n1))
            .select("node", F.expr(f"CAST({scale} AS BIGINT) div n").alias("r"), "n")
            .localCheckpoint(eager=True)
        )
        teleport = F.expr(f"CAST({scale} AS BIGINT) * {d_den - d_num} div (n * {d_den})")
        for _ in range(iters):
            contrib = (
                e.join(outw, "s")
                .join(r.select(F.col("node").alias("s"), "r"), "s")
                .select(
                    F.col("d").alias("node"),
                    F.expr(f"r * w * {d_num} div (ow * {d_den})").alias("c"),
                )
            )
            summed = contrib.groupBy("node").agg(F.sum("c").alias("cs"))
            if dangling == "redistribute":
                # this iteration's dangling mass D: rank held by nodes with
                # no surviving out-edge — a 1-row aggregate, broadcast back
                dang = r.join(
                    outw.select(F.col("s").alias("node")), "node", "left_anti"
                ).agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
                extra = F.expr(f"dm * {d_num} div (n * {d_den})")
                r = (
                    r.select("node", "n")
                    .crossJoin(F.broadcast(dang))
                    .join(summed, "node", "left")
                    .select(
                        "node",
                        (teleport + extra + F.coalesce(F.col("cs"), F.lit(0))).alias("r"),
                        "n",
                    )
                    .localCheckpoint(eager=True)
                )
            else:
                r = (
                    r.select("node", "n")
                    .join(summed, "node", "left")
                    .select(
                        "node",
                        (teleport + F.coalesce(F.col("cs"), F.lit(0))).alias("r"),
                        "n",
                    )
                    .localCheckpoint(eager=True)
                )
    return r.select(
        "node",
        F.col("r").alias("rank_i"),
        (F.col("r") / F.lit(scale).cast("long")).alias("rank"),
    )


def _pagerank_driver(
    e: DataFrame, iters: int, d_num: int, d_den: int, scale: int, dangling: str
) -> DataFrame:
    """Driver replica of the distributed rank rounds over a bounded edge
    collect — same spec, same integer arithmetic, same output schema.
    ``e`` is the filtered (s, d, w) relation, already checkpointed and
    counted by the caller's gate."""
    rows = e.collect()
    ow: dict = {}
    nodes = set()
    for r in rows:
        nodes.add(r["s"])
        nodes.add(r["d"])
        ow[r["s"]] = ow.get(r["s"], 0) + r["w"]
    n = len(nodes)
    rank: dict = {}
    if n:
        rank = {v: scale // n for v in nodes}
        teleport = scale * (d_den - d_num) // (n * d_den)
        for _ in range(iters):
            cs: dict = {}
            for r in rows:
                c = rank[r["s"]] * r["w"] * d_num // (ow[r["s"]] * d_den)
                cs[r["d"]] = cs.get(r["d"], 0) + c
            extra = 0
            if dangling == "redistribute":
                dm = sum(rank[v] for v in nodes if v not in ow)
                extra = dm * d_num // (n * d_den)
            rank = {v: teleport + extra + cs.get(v, 0) for v in nodes}
    return _driver_relation(
        e.sparkSession,
        {
            "node": (e.schema["s"].dataType, list(rank)),
            "rank_i": (T.LongType(), list(rank.values())),
            "rank": (T.DoubleType(), [float(r) / float(scale) for r in rank.values()]),
        },
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    out_node: str = "node",
    out_count: str = "triangles",
) -> DataFrame:
    """Exact per-node triangle counts — the clustering-coefficient /
    community-density primitive over any pair graph this package emits
    (near-dup pairs, co-occurrence pairs, interaction graphs).

    Edges are undirected; self-loops and duplicates are dropped. Every
    node appearing in an edge gets a row (0 when triangle-free). Pure
    integer counting over one canonical triangle per vertex triple —
    orientation-invariant, so it is hash-exact against a plain a<b<c
    SQL formulation regardless of the join order used here.

    Scale shape: the classic DEGREE-ORDERED node-iterator. Each edge is
    oriented from its (degree, id)-smaller endpoint to the larger, so
    wedge enumeration at a node is quadratic in its OUT-degree — which
    the ordering bounds by O(sqrt(|E|)) (arboricity bound) instead of the
    raw degree: the celebrity node with 10⁸ neighbors generates no wedge
    explosion because nearly all its edges point INTO it. Three shuffles
    total: degree count, wedge self-join on the pivot, closure join on
    the (v, w) pair key.
    """
    # a != b is NULL (thus dropped) when either endpoint is NULL, but the
    # explicit guard keeps the family's shared NULL-edge contract visible
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        (F.col("a") != F.col("b"))
        & F.col("a").isNotNull()
        & F.col("b").isNotNull()
    )
    e = e.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct().localCheckpoint(eager=True)
    deg = (
        e.select(F.col("a").alias("n"))
        .union(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient u -> v when (deg_u, u) < (deg_v, v): a strict total order, so
    # every undirected edge gets exactly one direction
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = e.join(da, "a").join(db, "b")
    fwd = F.col("da") < F.col("db")
    tie = (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    oriented = keyed.select(
        F.when(fwd | tie, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd | tie, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd | tie, F.col("da")).otherwise(F.col("db")).alias("ku"),
        F.when(fwd | tie, F.col("db")).otherwise(F.col("da")).alias("kv"),
    ).localCheckpoint(eager=True)
    # wedges at pivot u: ordered out-neighbor pairs (v, w) with
    # (kv, v) < (kw, w) — the closure edge, if it exists, is oriented
    # v -> w under the same total order, so one semi-ordered join closes it
    o1 = oriented.select("u", F.col("v"), F.col("kv"))
    o2 = oriented.select(
        F.col("u"), F.col("v").alias("w"), F.col("kv").alias("kw")
    )
    wedges = o1.join(o2, "u").filter(
        (F.col("kv") < F.col("kw"))
        | ((F.col("kv") == F.col("kw")) & (F.col("v") < F.col("w")))
    )
    closure = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = wedges.join(closure, ["v", "w"])
    tn = tri.select(
        F.explode(F.array("u", "v", "w")).alias(out_node)
    ).groupBy(out_node).agg(F.count(F.lit(1)).cast("long").alias(out_count))
    nodes = deg.select(F.col("n").alias(out_node))
    return nodes.join(tn, out_node, "left").select(
        out_node, F.coalesce(F.col(out_count), F.lit(0).cast("long")).alias(out_count)
    )
