"""Sub-step wall breakdown of Store.insert for the bench store_put shape
(guide §1): monkeypatched timers around counts / write / postings /
commit, plus the pre-tail probes. The r13 bulk-ingest work was sized
from this breakdown.
Usage: python scripts/put_steps_probe.py [runs]   (PUT_NOINDEX=1 for the
no-index shape)
"""
import os, sys, tempfile, time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from shortcut_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    from pyspark.sql import functions as F
    from shortcut_spark import store as store_mod
    from shortcut_spark.store import Store

    spark = get_spark("put-steps")
    spark.range(1_000_000).select(F.sum("id")).collect()
    li = os.path.join(SF_DIR, "lineitem.parquet")
    schema = spark.read.parquet(li).schema

    times = {}

    def timed(name, fn):
        def wrap(*a, **k):
            t0 = time.perf_counter()
            out = fn(*a, **k)
            times[name] = times.get(name, 0.0) + time.perf_counter() - t0
            return out
        return wrap

    orig_tail = Store._insert_tagged_tail
    orig_cluster = Store._cluster_batch
    orig_reg = Store._register_and_index
    orig_commit = Store._commit
    orig_post = Store._append_postings
    orig_regfiles = Store._register_files
    orig_tagged = Store._insert_tagged

    def tagged_wrap(self, tagged, schema, watermark, stats):
        # the counts pass itself runs inside Store.insert (insert_total)
        counts = {r["__pid"]: r["cnt"] for r in stats}
        if not counts:
            return 0
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        n = acc
        if n <= self.STATIC_INSERT_ROWS and os.environ.get("SPARK_GRAFT_STATIC_INSERT", "1") != "0":
            with self._static_insert_confs(n):
                return Store._insert_tagged_tail(self, tagged, schema, watermark, offsets, n)
        return Store._insert_tagged_tail(self, tagged, schema, watermark, offsets, n)

    import uuid as _uuid
    def tail_wrap(self, tagged, schema, watermark, offsets, n):
        offs_df = self.spark.createDataFrame(
            [(pid, offsets[pid]) for pid in offsets], "__pid int, __off long"
        )
        from pyspark.sql import Window as W
        ROWID = store_mod.ROWID
        w = W.partitionBy("__pid").orderBy("__mid")
        with_id = (
            tagged.join(F.broadcast(offs_df), "__pid")
            .withColumn(ROWID, F.lit(watermark) + F.col("__off") + F.row_number().over(w) - 1)
            .select(ROWID, *schema.fieldNames())
        )
        batch_rel = os.path.join("data", f"b{self.manifest.version + 1}-{_uuid.uuid4().hex[:8]}")
        t0 = time.perf_counter()
        clustered = Store._cluster_batch(self, with_id, n)
        times["cluster_plan"] = times.get("cluster_plan", 0.0) + time.perf_counter() - t0
        t0 = time.perf_counter()
        clustered.write.parquet(self._abs(batch_rel))
        times["write"] = times.get("write", 0.0) + time.perf_counter() - t0
        t0 = time.perf_counter()
        Store._register_and_index(self, batch_rel)
        times["register_index"] = times.get("register_index", 0.0) + time.perf_counter() - t0
        self.manifest.rowid = watermark + n
        t0 = time.perf_counter()
        Store._commit(self)
        times["commit"] = times.get("commit", 0.0) + time.perf_counter() - t0
        return n

    Store._insert_tagged = tagged_wrap
    Store._insert_tagged_tail = tail_wrap
    Store._enforce_constraints = timed("constraints", Store._enforce_constraints)
    import shortcut_spark.functions as _fn
    _fn.ensure_parallelism = timed("spread", _fn.ensure_parallelism)
    Store._append_postings = timed("postings", orig_post)
    Store._register_files = timed("register_files", orig_regfiles)

    Store.insert = timed("insert_total", Store.insert)
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    for r in range(runs):
        times.clear()
        t0 = time.perf_counter()
        st = Store.create(spark, tempfile.mkdtemp(prefix="ps_") + "/s", schema)
        times["create"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        if os.environ.get("PUT_NOINDEX", "0") != "1":
            st.index("l_orderkey", "hash")
        times["index_call"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        df = spark.read.parquet(li)
        times["read_schema"] = time.perf_counter() - t1
        n = st.insert(df)
        total = time.perf_counter() - t0
        print(f"run {r}: total={total:.3f}s rows={n}")
        for k, v in sorted(times.items(), key=lambda kv: -kv[1]):
            print(f"    {k:16s} {v:7.3f}s")


if __name__ == "__main__":
    main()
