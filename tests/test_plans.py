"""Physical-plan shape regressions: the properties that matter at 100 TB
(pushdown reaching the scan, broadcast-not-SMJ on dims, shuffle counts,
no join fanout in the as-of, map-only signature builds) asserted against
the actual optimized plans — docs/PLANS.md is the human-readable audit,
these are its CI teeth."""

import re

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def fmt_plan(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def n_shuffles(plan: str) -> int:
    # plain shuffle exchanges only — BroadcastExchange is deliberately
    # excluded (broadcasts are the cheap path these tests want to see)
    return len(re.findall(r"\(\d+\) Exchange", plan))


def test_q1_pushdown_and_single_shuffle(spark):
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["q1_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert n_shuffles(plan) == 1
    assert "partial_" in plan  # map-side combine before the exchange


def test_asof_is_one_window_pass_no_join(spark):
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["asof_latest_order"](spark, SF_DIR))
    assert n_shuffles(plan) == 1  # one exchange on the key
    assert "Join" not in plan  # union+window, no join fanout
    assert "Window" in plan


def test_revenue_join_all_broadcast(spark):
    import __spark_entry__ as e

    plan = fmt_plan(e.queries()["revenue_by_nation"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert n_shuffles(plan) == 1  # only the final aggregation


def test_store_find_eq_scan_only(spark, monkeypatch):
    """Every lineitem file holds an R, so the find reads the whole table:
    at most ``DRIVER_INSERT_ROWS`` rows (6,000 at sf0.001) are read on the
    driver into a ``LocalTableScan``; above the bound, and with the bound
    at 0, the residual is pushed into the parquet scan."""
    import os

    import pyarrow.parquet as pq

    import __spark_entry__ as e
    from shortcut_spark import Store

    rows = pq.ParquetFile(os.path.join(SF_DIR, "lineitem.parquet")).metadata.num_rows
    plan = fmt_plan(e.queries()["store_find_eq"](spark, SF_DIR))
    assert n_shuffles(plan) == 0
    assert ("LocalTableScan" in plan) == (rows <= Store.DRIVER_INSERT_ROWS)
    monkeypatch.setattr(Store, "DRIVER_INSERT_ROWS", 0)
    plan = fmt_plan(e.queries()["store_find_eq"](spark, SF_DIR))
    assert n_shuffles(plan) == 0
    assert "EqualTo(l_returnflag,R)" in plan  # residual pushed to parquet


def test_minhash_signatures_shuffle_free(spark):
    """The map-only signature build: shingle arrays -> md5 transforms ->
    array_min, no explode+groupBy — the whole stage must plan without a
    single shuffle exchange."""
    from shortcut_spark.operators.dedup import minhash_signature_arrays, shingle_arrays
    from shortcut_spark.sources import load_fixture

    docs = load_fixture(spark, SF_DIR, "documents")
    sig = minhash_signature_arrays(shingle_arrays(docs, "doc_id", "text"), "doc_id")
    plan = fmt_plan(sig)
    assert n_shuffles(plan) <= 1  # at most the parallelism-spread repartition
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_simhash_is_map_only(spark):
    from shortcut_spark.operators.dedup import simhash
    from shortcut_spark.sources import load_fixture

    docs = load_fixture(spark, SF_DIR, "documents")
    plan = fmt_plan(simhash(docs, "doc_id", "text"))
    assert n_shuffles(plan) <= 1  # parallelism spread only
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_ivf_assignment_no_global_sort_or_window(spark):
    """Regression for the round-1 scale bug: centroid seeding must not
    funnel the table through a partition-less Sort/Window."""
    from shortcut_spark.operators.similarity import ivf_fit
    from shortcut_spark.sources import load_fixture

    emb = load_fixture(spark, SF_DIR, "embeddings")
    # materialize=False keeps the lazy Lloyd plan so it can be audited
    # (the r9 default checkpoints the outputs and releases the fit cache)
    assigned, _ = ivf_fit(emb, materialize=False)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # every Sort in the assignment plan must be partition-local
    for line in plan.splitlines():
        if "+- Sort [" in line or line.strip().startswith("Sort ["):
            assert ", false, 0" in line  # global=false


def test_metadata_filter_prunes_blob_column(spark):
    """A metadata-only multimodal predicate must not read the payload
    column (ReadSchema excludes the blob)."""
    import __spark_entry__ as e
    from shortcut_spark.operators.multimodal import attach_media
    from shortcut_spark.sources import load_fixture

    docs = load_fixture(spark, SF_DIR, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    tagged = attach_media(docs, "payload", "text/plain")
    q = tagged.select("doc_id", "media.n_bytes")
    plan = fmt_plan(q)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    # the parquet scan reads doc_id and text (payload is derived), nothing else
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "doc_id" in read_cols and len(read_cols) <= 3


def test_bucketed_join_shuffle_free(spark, tmp_path):
    """Same-key same-count bucketed tables must join with zero shuffle
    exchanges — the write-time co-location contract of write_bucketed."""
    from shortcut_spark.sources import load_fixture, write_bucketed

    li = load_fixture(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    od = load_fixture(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "t_li_bucketed", "l_orderkey", 8, path=str(tmp_path / "li"))
    write_bucketed(od, "t_od_bucketed", "o_orderkey", 8, path=str(tmp_path / "od"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = spark.table("t_li_bucketed"), spark.table("t_od_bucketed")
        j = a.join(b, a["l_orderkey"] == b["o_orderkey"])
        plan = fmt_plan(j)
        assert n_shuffles(plan) == 0
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_od_bucketed")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column must
    land in PartitionFilters (directory pruning — zero IO for excluded
    partitions), not in the data filters."""
    from shortcut_spark.sources import load_fixture, write

    path = str(tmp_path / "orders_by_status")
    write(
        load_fixture(spark, SF_DIR, "orders"),
        "parquet",
        path,
        partition_by=["o_orderstatus"],
    )
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = fmt_plan(back)
    assert re.search(r"PartitionFilters: \[.*o_orderstatus.*F", plan)
    # fully answered by directory pruning: no row-level Filter operator
    # remains in the plan (PushedFilters is empty or omitted entirely)
    assert not re.search(r"\(\d+\) Filter", plan)
    # and the pruned read returns exactly the F rows
    expected = load_fixture(spark, SF_DIR, "orders").filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == expected
