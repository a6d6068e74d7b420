"""Port of the reference's Store-level unit tests (src/lib.rs:245-432).

Same fixtures and assertions (count + universally quantified property,
order-insensitive — see FIXTURES.md §A); the with/without-index duals check
that an index is semantically invisible (the metamorphic property the
reference tests repeatedly).
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from shortcut_spark import BTreeIndex, HashIndex, Store, between, col_eq, eq
from shortcut_spark.session import job_tag
from shortcut_spark.store import ROWID

ABC = [["a1", "a2"], ["b1", "b2"], ["c1", "c2"]]
AXB = [["a", "x1"], ["a", "x2"], ["b", "x3"]]


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def make(spark, path, data, index_col=None, index_late=False, kind=HashIndex):
    st = Store.create(spark, path, 2)
    if index_col is not None and not index_late:
        st.index(index_col, kind)
    if data:
        st.insert(data)
    if index_col is not None and index_late:
        st.index(index_col, kind)
    return st


def _spark_postings(spark, st, spec):
    """The live rows of ``spec``'s parts — postings, or bloom bitsets —
    read by Spark: the reference for the Store's pyarrow reads."""
    from pyspark.sql import functions as F

    return (
        spark.read.schema(st._posting_schema(spec))
        .parquet(*st._posting_files(spec.parts))
        .filter(F.col("__file_id").isin([f.id for f in st.manifest.files]))
    )


def _spark_bitsets(spark, st, spec):
    """{file id: bitset} of a bloom index's live files, read by Spark."""
    return {r["__file_id"]: bytes(r["bloom"]) for r in _spark_postings(spark, st, spec).collect()}


def test_it_works(spark, store_path):  # src/lib.rs:249-256
    st = make(spark, store_path, ABC)
    assert st.find([]).count() == 3
    assert len(st) == 3


def test_it_works_w_non_vec_rows(spark, store_path):  # src/lib.rs:258-266 (Arc rows → tuples)
    st = Store.create(spark, store_path, 2)
    st.insert([("a1", "a2"), ("b1", "b2")])
    assert st.find([]).count() == 2


def test_it_works_with_indices(spark, store_path):  # src/lib.rs:268-276
    st = make(spark, store_path, ABC, index_col=0)
    assert st.find([]).count() == 3


def test_it_filters(spark, store_path):  # src/lib.rs:278-292
    st = make(spark, store_path, AXB)
    got = st.find([eq(0, "a")]).collect()
    assert len(got) == 2
    assert all(r[0] == "a" for r in got)


def test_it_filters_with_indices(spark, store_path):  # src/lib.rs:294-309
    st = make(spark, store_path, AXB, index_col=0)
    got = st.find([eq(0, "a")]).collect()
    assert len(got) == 2
    assert all(r[0] == "a" for r in got)


def test_it_filters_with_partial_indices(spark, store_path):  # src/lib.rs:311-328
    st = make(spark, store_path, AXB, index_col=0)
    got = st.find([eq(0, "a"), eq(1, "x2")]).collect()
    assert len(got) == 1
    assert all(r[0] == "a" and r[1] == "x2" for r in got)


def test_it_filters_with_late_indices(spark, store_path):  # src/lib.rs:330-345
    st = make(spark, store_path, AXB, index_col=0, index_late=True)
    got = st.find([eq(0, "a")]).collect()
    assert len(got) == 2
    assert all(r[0] == "a" for r in got)


def test_col_eq_col(spark, store_path):  # src/cmp.rs:12-14, O9
    st = Store.create(spark, store_path, 2)
    st.insert([("a", "a"), ("a", "b"), ("c", "c")])
    got = st.find([col_eq(0, 1)]).collect()
    assert len(got) == 2
    assert all(r[0] == r[1] for r in got)


def test_snapshot_reopen(spark, store_path):  # is_send_sync analogue, src/lib.rs:347-355
    st = make(spark, store_path, ABC)
    st2 = Store.open(spark, store_path)
    assert st2.find([]).count() == 3


def test_it_deletes(spark, store_path):  # src/lib.rs:357-365 (delete-all)
    st = make(spark, store_path, ABC)
    n = st.delete([])
    assert n == 3
    assert st.find([]).count() == 0
    # rowids are never reused (src/lib.rs:160-162; SURVEY §4.3)
    st.insert([("z1", "z2")])
    got = st.find([], with_rowid=True).collect()
    assert got[0]["__rowid"] == 3


def test_filtered_delete(spark, store_path):  # src/lib.rs:367-376 (closure delete)
    st = make(spark, store_path, ABC)
    n = st.delete_filter([], lambda cells: cells[0] == "a1")
    assert n == 1
    left = rows_of(st.find([]))
    assert left == [("b1", "b2"), ("c1", "c2")]


def test_it_deletes_with_filters(spark, store_path):  # src/lib.rs:378-392
    st = make(spark, store_path, AXB)
    n = st.delete([eq(0, "a"), eq(1, "x1")])
    assert n == 1
    assert st.find([eq(0, "a")]).count() == 1
    assert st.find([]).count() == 2


def test_it_deletes_with_indices(spark, store_path):  # src/lib.rs:394-409
    st = make(spark, store_path, AXB, index_col=0)
    n = st.delete([eq(0, "a")])
    assert n == 2
    assert st.find([]).count() == 1
    assert st.find([eq(0, "a")]).count() == 0


def test_it_deletes_with_partial_indices(spark, store_path):  # src/lib.rs:411-431
    st = make(spark, store_path, AXB, index_col=1)
    n = st.delete([eq(0, "a"), eq(1, "x2")])
    assert n == 1
    left = rows_of(st.find([]))
    assert left == [("a", "x1"), ("b", "x3")]


def test_index_replace_idempotent(spark, store_path):  # src/lib.rs:204
    st = make(spark, store_path, AXB, index_col=0)
    st.index(0, HashIndex)  # replace on same column
    assert st.find([eq(0, "a")]).count() == 2


def test_index_prunes_files(spark, store_path):
    """The index path must actually prune: separate batches → separate files;
    a point lookup on an indexed column should touch only matching files."""
    st = Store.create(spark, store_path, 2)
    st.index(0, HashIndex)
    for k in ["a", "b", "c"]:
        st.insert([(k, f"{k}{i}") for i in range(5)])
    total = len(st.manifest.files)
    assert total >= 3
    _, pruned = st._prune_files([eq(0, "b")])
    assert 0 < len(pruned) < total
    got = st.find([eq(0, "b")]).collect()
    assert len(got) == 5 and all(r[0] == "b" for r in got)


def test_btree_range_find(spark, store_path):  # RangeIndex::between, src/idx.rs:216-229
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType(), True), T.StructField("v", T.StringType(), True)]
    )
    st = Store.create(spark, store_path, schema)
    st.index("k", BTreeIndex)
    st.insert([(i, f"v{i}") for i in range(20)])
    got = st.find([between("k", 3, 7)]).collect()
    assert sorted(r["k"] for r in got) == [3, 4, 5, 6, 7]
    from shortcut_spark import Bound

    got = st.find([between("k", Bound.excluded(3), Bound.excluded(7))]).collect()
    assert sorted(r["k"] for r in got) == [4, 5, 6]
    got = st.find([between("k", None, Bound.included(2))]).collect()
    assert sorted(r["k"] for r in got) == [0, 1, 2]


def test_vacuum_gc(spark, store_path):
    """Copy-on-write leaves dead files; vacuum removes them and keeps the
    current snapshot intact."""
    import glob

    st = make(spark, store_path, AXB, index_col=0)
    st.delete([eq(0, "a")])
    before = len(glob.glob(f"{store_path}/data/**/*.parquet", recursive=True))
    removed = st.vacuum(retain_versions=1)
    after = len(glob.glob(f"{store_path}/data/**/*.parquet", recursive=True))
    assert removed > 0 and after < before
    assert rows_of(st.find([])) == [("b", "x3")]
    # reopen from disk still works post-vacuum
    assert Store.open(spark, store_path).find([]).count() == 1


def test_concurrent_commit_detected(spark, store_path):
    """Two writers on the same table: the stale one must fail loudly
    (single-writer exclusivity of the reference's &mut self, enforced at
    the storage layer)."""
    st1 = make(spark, store_path, ABC)
    st2 = Store.open(spark, store_path)
    before = st2.manifest.to_json()
    st1.insert([("x1", "x2")])
    with pytest.raises(RuntimeError, match="concurrent commit"):
        st2.insert([("y1", "y2")])
    # the loser keeps its own snapshot; the table holds the winner's rows
    assert len(st2) == 3 and st2.manifest.to_json() == before
    assert rows_of(Store.open(spark, store_path).find([])) == sorted(
        map(tuple, ABC + [["x1", "x2"]])
    )


def test_commit_failing_at_the_current_flip_leaves_the_handle_uncommitted(
    spark, store_path, monkeypatch
):
    """``Manifest.commit`` changes the manifest only after CURRENT flips:
    a write whose flip fails leaves the handle at its version, so a retry
    on the same handle commits and a reopen sees the retried write."""
    st = make(spark, store_path, ABC)
    v = st.manifest.version
    real_replace = os.replace
    failed = []

    def replace(src, dst):
        if os.path.basename(dst) == "CURRENT" and not failed:
            failed.append(dst)
            raise OSError("injected flip failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(OSError, match="injected"):
        st.insert([("d1", "d2")])
    assert failed and st.manifest.version == v
    st.insert([("e1", "e2")])
    assert st.manifest.version == v + 1
    reopened = Store.open(spark, store_path)
    assert reopened.manifest.version == v + 1
    assert rows_of(reopened.find([])) == sorted(map(tuple, ABC + [["e1", "e2"]]))


def test_arity_validated(spark, store_path):  # always-on vs debug_assert src/lib.rs:179
    st = Store.create(spark, store_path, 2)
    with pytest.raises(ValueError):
        st.insert([("only-one",)])


def test_estimate_and_access_path(spark, store_path):
    """Cost model parity: estimate = rows/ndv (src/idx.rs:71-78), min wins
    (src/lib.rs:113); col=col can never use an index (src/cmp.rs:12-14)."""
    st = Store.create(spark, store_path, 2)
    st.insert([("a", f"x{i}") for i in range(8)] + [("b", "y")])
    st.index(0, HashIndex)  # ndv=2, rows=9 → estimate 4.5
    st.index(1, HashIndex)  # ndv=9, rows=9 → estimate 1.0
    assert st.manifest.indices["c0"].estimate() == pytest.approx(9 / 2)
    assert st.manifest.indices["c1"].estimate() == pytest.approx(1.0)
    path, _ = st._prune_files([eq(0, "a"), eq(1, "x3")])
    assert path.index is not None and path.index.column == "c1"
    path, _ = st._prune_files([col_eq(0, 1)])
    assert path.is_full_scan


def test_find_many_matches_union_of_finds(spark, store_path):
    """Multiget = union of point finds (same superset-then-residual
    contract as find, src/lib.rs:89-91), one job instead of N."""
    st = make(spark, store_path, AXB, index_col=0)
    both = rows_of(st.find_many(0, ["a", "b"]))
    union = sorted(rows_of(st.find([eq(0, "a")])) + rows_of(st.find([eq(0, "b")])))
    assert both == union and len(both) == 3
    # missing keys contribute nothing; empty key list is an empty result
    assert rows_of(st.find_many(0, ["a", "zzz"])) == rows_of(st.find([eq(0, "a")]))
    assert st.find_many(0, []).count() == 0
    # unindexed column goes through the stats layer and still matches
    assert rows_of(st.find_many(1, ["x1", "x3"])) == sorted(
        rows_of(st.find([eq(1, "x1")])) + rows_of(st.find([eq(1, "x3")]))
    )


def test_find_many_large_keyset_semi_join(spark, store_path):
    st = Store.create(spark, store_path, 2)
    st.insert([(f"k{i}", f"v{i}") for i in range(50)])
    st.index(0, HashIndex)
    keys = [f"k{i}" for i in range(0, 50, 2)] + [f"missing{i}" for i in range(1500)]
    got = rows_of(st.find_many(0, keys))
    assert got == sorted((f"k{i}", f"v{i}") for i in range(0, 50, 2))


def test_find_or_unions_branches(spark, store_path):
    """OR = union of independently index-pruned branches, deduped on rowid
    (the reference's 'issue multiple queries' advice, src/lib.rs:18)."""
    st = make(spark, store_path, AXB, index_col=0)
    got = rows_of(st.find_or([[eq(0, "a")], [eq(1, "x3")]]))
    assert got == sorted([("a", "x1"), ("a", "x2"), ("b", "x3")])
    # overlapping branches count rows once
    got = rows_of(st.find_or([[eq(0, "a")], [eq(1, "x1")]]))
    assert got == sorted([("a", "x1"), ("a", "x2")])
    assert st.find_or([]).count() == 0


def test_custom_indexer_extension_point(spark, store_path):
    """A user object with kind + supports/estimate is accepted by
    Store.index (the reference's user-impl EqualityIndex trait,
    src/idx.rs:8-21,174-184): its supports/estimate drive access-path
    selection in-session, results stay exact via the residual filter."""

    class RefusesEverything:
        kind = "hash"

        def supports(self, cmp):
            return False

        def estimate(self, rows, ndv):
            return 0.0

    st = Store.create(spark, store_path, 2)
    st.index(0, RefusesEverything())
    st.insert([("a", "1"), ("b", "2"), ("a", "3")])
    # the custom indexer refuses the comparison -> full scan path
    assert "FullScan" in st.explain_find([eq(0, "a")])
    # correctness is unaffected (superset-then-residual contract)
    assert sorted(r[1] for r in st.find([eq(0, "a")]).collect()) == ["1", "3"]

    class EagerHash:
        kind = "hash"

        def estimate(self, rows, ndv):
            return 0.5  # claims to be ultra-selective

    st.index(1, EagerHash())
    # both columns indexed; the custom estimate must win the cost race
    report = st.explain_find([eq(0, "a"), eq(1, "2")])
    assert "column=c1" in report and "estimate=0.50" in report
    # reopening from the manifest drops the (non-serializable) custom
    # object and falls back to built-in behavior of its kind
    st2 = Store.open(spark, store_path)
    assert st2.manifest.indices["c0"].custom is None
    assert "IndexLookup" in st2.explain_find([eq(0, "a")])


@pytest.mark.slow
def test_defer_delete_merge_on_read(spark, store_path, tmp_path):
    """Tombstone (merge-on-read) delete is semantically identical to the
    copy-on-write path: same survivors, same len(), same index lookups —
    across reopen, a following COW delete (tombstone consolidation), and
    compact (materialization)."""
    data = [[k, f"v{i}"] for i, k in enumerate(["a", "a", "b", "c", "b", "a"])]
    st = make(spark, store_path, data, index_col=0)
    twin = make(spark, str(tmp_path / "twin"), data, index_col=0)

    n = st.delete([eq(0, "a")], defer=True)
    n_twin = twin.delete([eq(0, "a")])
    assert n == n_twin == 3
    assert len(st) == len(twin) == 3
    assert rows_of(st.find([])) == rows_of(twin.find([]))
    # index point lookup must not resurrect tombstoned rows
    assert st.find([eq(0, "a")]).count() == 0
    assert rows_of(st.find([eq(0, "b")])) == rows_of(twin.find([eq(0, "b")]))

    # tombstones survive reopen (they are manifest state)
    st2 = Store.open(spark, store_path)
    assert len(st2) == 3 and st2.find([eq(0, "a")]).count() == 0

    # inserts after a deferred delete are visible (rowids never reused)
    st2.insert([("d", "new")])
    assert len(st2) == 4 and st2.find([eq(0, "d")]).count() == 1

    # a COW delete on top consolidates tombstones without double-counting
    st2.delete([eq(0, "b")])
    assert len(st2) == 2
    assert st2.find([eq(0, "b")]).count() == 0

    # compact materializes the anti-join and clears merge-on-read state
    before = rows_of(st2.find([]))
    st2.compact()
    assert st2.manifest.tombstones == [] and st2.manifest.tombstone_rows == 0
    assert rows_of(st2.find([])) == before
    assert len(st2) == 2


def test_manifest_prune_latency_10k_files(spark, tmp_path, monkeypatch):
    """The driver-side stats prune over 10k files runs as vectorized
    numpy comparisons over per-version columnar stat arrays
    (`_stats_arrays`/`_prune_mask`), not a Python loop over files —
    measured ~0.4 ms warm at 10k files (was ~5-15 ms). Pinned by
    structure, not by wall clock, so host load cannot fail it: the
    per-file check `_file_may_match` is never called across three
    prunes, and the 10k-file stats walk that builds the arrays runs once
    (the warm prunes reuse its cached result)."""
    from pyspark.sql import types as T

    from shortcut_spark import between
    from shortcut_spark.manifest import DataFile, Manifest

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    man = Manifest(schema_json=schema.json())
    for i in range(10_000):
        man.files.append(
            DataFile(
                id=i,
                path=f"data/f{i}.parquet",
                rows=1_000,
                min_rowid=i * 1_000,
                max_rowid=i * 1_000 + 999,
                stats={"k": [i * 10, i * 10 + 9], "v": ["a", "z"]},
            )
        )
    man.next_file_id = 10_000
    man.rowid = 10_000_000
    st = Store(spark, str(tmp_path / "synthetic"), man)
    per_file = []
    monkeypatch.setattr(
        Store, "_file_may_match", staticmethod(lambda *a: per_file.append(a) or True)
    )
    walks = []

    class Cache(dict):
        def __setitem__(self, key, value):  # _stats_arrays caches each walk
            walks.append(key)
            super().__setitem__(key, value)

    st._stats_np = Cache()

    _, files_cold = st._prune_files([eq("k", 42)])
    assert len(files_cold) == 1
    _, files_range = st._prune_files([between("k", 50_000, 50_090)])
    assert len(files_range) == 10  # exactly the overlapping files survive
    _, files_eq = st._prune_files([eq("k", 42)])
    assert len(files_eq) == 1

    assert per_file == []
    assert [w[0] for w in walks] == ["k"]


def test_partitioned_manifest_prunes_without_full_load(spark, tmp_path):
    """SCALE.md manifest graduation (r6): above MANIFEST_PART_SIZE files,
    commit() splits the file list into JSON parts with aggregated
    per-part stats and load() returns a lazy PartedFileList. A selective
    probe over a 100k-file table must (a) prune correctly, (b) open only
    the part(s) whose aggregate stats survive — never the full list —
    and (c) stay under a driver-latency bound."""
    import os
    import time

    from pyspark.sql import types as T

    from shortcut_spark import between
    from shortcut_spark.manifest import DataFile, Manifest, PartedFileList

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    man = Manifest(schema_json=schema.json())
    n_files = 100_000
    for i in range(n_files):
        man.files.append(
            DataFile(
                id=i,
                path=f"data/f{i}.parquet",
                rows=1_000,
                min_rowid=i * 1_000,
                max_rowid=i * 1_000 + 999,
                stats={"k": [i * 10, i * 10 + 9], "v": ["a", "z"]},
            )
        )
    man.next_file_id = n_files
    man.rowid = n_files * 1_000
    path = str(tmp_path / "parted")
    os.makedirs(path)
    man.commit(path)

    loaded = Manifest.load(path)
    pf = loaded.files
    assert isinstance(pf, PartedFileList) and pf.n_parts > 1
    assert len(pf) == n_files and loaded.total_rows == n_files * 1_000
    assert not pf.fully_loaded  # len/total_rows are meta-only

    st = Store(spark, path, loaded)
    t0 = time.perf_counter()
    _, hit = st._prune_files([eq("k", 424_242)])
    dt = time.perf_counter() - t0
    assert [f.id for f in hit] == [42_424]
    assert len(pf._cache) == 1  # exactly one part was opened
    assert not pf.fully_loaded
    assert dt < 0.5, f"parted prune took {dt:.3f}s over 100k files"

    # a range probe crossing a part boundary opens exactly the two parts
    lo_file, hi_file = 8_190, 8_195  # part size 8192 → files straddle parts 0/1
    _, rng = st._prune_files([between("k", lo_file * 10, hi_file * 10 + 9)])
    assert [f.id for f in rng] == list(range(lo_file, hi_file + 1))
    assert set(pf._cache) == {0, 1, 5}  # the two straddled parts + the eq probe's
    # warm repeat: structurally free (no new part opened) and cheap.
    # The latency bound is deliberately loose — 0.1 s flaked repeatedly
    # under concurrent-suite load; the real invariant is the cache shape.
    before = set(pf._cache)
    t0 = time.perf_counter()
    st._prune_files([eq("k", 424_242)])
    assert set(pf._cache) == before
    assert time.perf_counter() - t0 < 0.5
    # full materialization still works (correctness fallback for
    # stat-less probes) and is only triggered when actually needed
    assert sum(1 for _ in pf) == n_files
    assert pf.fully_loaded


def test_tombstone_consolidation_overlapping_rowid_ranges(spark, tmp_path):
    """Regression (ADVICE r3, high): CoW-delete tombstone consolidation must
    be membership-based. compact(sort_by=<non-rowid col>) range-partitions
    by the sort column, so file [min_rowid, max_rowid] ranges OVERLAP; a
    range-based consolidation then discards a tombstone that belongs to a
    file the CoW delete never touched, resurrecting the deferred-deleted
    row."""
    path = str(tmp_path / "store")
    st = Store.create(spark, path, 2)
    # alternate keys so that sorting by c0 interleaves rowids across files:
    # the 'a' file gets even rowids, the 'b' file odd ones
    st.insert([("a" if i % 2 == 0 else "b", str(i)) for i in range(40)])
    st.compact(target_files=2, sort_by="c0")
    files = st.manifest.files
    assert len(files) == 2
    # precondition for the regression: the two files' rowid ranges overlap
    (lo1, hi1), (lo2, hi2) = [(f.min_rowid, f.max_rowid) for f in files]
    assert max(lo1, lo2) <= min(hi1, hi2), "fixture must interleave rowids"

    # tombstone one 'a' row (merge-on-read), then CoW-delete the 'b' rows:
    # the b-file's rowid range contains the tombstoned a-rowid, but the
    # tombstoned row itself still lives in the untouched a-file
    n = st.delete([eq(0, "a"), eq(1, "2")], defer=True)
    assert n == 1
    n = st.delete([eq(0, "b")])
    assert n == 20
    # the deferred delete must NOT be resurrected by the consolidation
    assert st.find([eq(1, "2")]).count() == 0
    assert st.find([eq(0, "a")]).count() == 19
    assert len(st) == 19
    # tombstone bookkeeping stayed exact: the a-row tombstone survives
    assert st.manifest.tombstone_rows == 1
    # and survives a reopen + full-scan (read path consistency)
    st2 = Store.open(spark, path)
    assert len(st2) == 19 and st2.find([eq(1, "2")]).count() == 0


# -- bloom index (third kind; no reference analogue — enters via the same
# user-indexer seam as src/idx.rs:8-21,174-184) ---------------------------


def test_bloom_index_semantically_invisible(spark, store_path, tmp_path):
    """The metamorphic property the reference tests for hash/btree
    (src/lib.rs:294-345) holds for bloom too: same results with and
    without the index, for hits, misses, AND-lists, and late creation."""
    from shortcut_spark import BloomIndex

    data = [[k, f"x{i}"] for i, k in enumerate(["a", "a", "b", "c", "b", "a"])]
    st = make(spark, store_path, data, index_col=0, kind=BloomIndex(m_bits=1 << 10, k=5))
    plain = make(spark, str(tmp_path / "plain"), data)
    for conds in ([eq(0, "a")], [eq(0, "zz")], [eq(0, "b"), eq(1, "x2")]):
        assert rows_of(st.find(conds)) == rows_of(plain.find(conds))
    # late index over existing data (src/lib.rs:330-345 analogue)
    late = make(
        spark, str(tmp_path / "late"), data, index_col=0, index_late=True,
        kind=BloomIndex(m_bits=1 << 10, k=5),
    )
    assert rows_of(late.find([eq(0, "a")])) == rows_of(plain.find([eq(0, "a")]))


@pytest.mark.slow
def test_bloom_prunes_files_and_survives_reopen(spark, store_path):
    """Multi-batch store: a probe for a key present in ONE batch must prune
    the other batches' files driver-side (zero Spark jobs), a missing key
    prunes everything (whp at this m/n), and the bitsets + params survive a
    manifest reopen."""
    from shortcut_spark import BloomIndex

    st = Store.create(spark, store_path, 2)
    st.index(0, BloomIndex(m_bits=1 << 14, k=7))
    for b in range(4):
        st.insert([(f"b{b}k{i}", str(i)) for i in range(200)])
    n_files = len(st.manifest.files)
    assert n_files >= 4
    report = st.explain_find([eq(0, "b2k7")])
    kept = int(report.split("files=")[1].split("/")[0])
    assert kept < n_files  # pruned other batches
    assert rows_of(st.find([eq(0, "b2k7")])) == [("b2k7", "7")]
    miss = st.explain_find([eq(0, "nope")])
    assert miss.endswith(f"files=0/{n_files}")
    st2 = Store.open(spark, store_path)
    assert st2.manifest.indices["c0"].params["m_bits"] == 1 << 14
    assert rows_of(st2.find([eq(0, "b2k7")])) == [("b2k7", "7")]
    # find_many unions probes across the bitsets
    got = rows_of(st2.find_many(0, ["b0k1", "b3k9", "ghost"]))
    assert got == [("b0k1", "1"), ("b3k9", "9")]


def test_bloom_maintenance_on_delete_and_compact(spark, store_path):
    """CoW delete and compact rebuild bloom parts through the same
    index build kernel as posting indices; results stay exact and the
    cost-model stats refresh."""
    from shortcut_spark import BloomIndex

    st = Store.create(spark, store_path, 2)
    st.index(0, BloomIndex(m_bits=1 << 12, k=5))
    st.insert([(f"k{i}", str(i % 3)) for i in range(30)])
    assert st.delete([eq(1, "1")]) == 10
    assert st.find([eq(1, "1")]).count() == 0
    assert rows_of(st.find([eq(0, "k3")])) == [("k3", "0")]
    spec = st.manifest.indices["c0"]
    assert spec.rows == 20
    st.compact(target_files=1)
    assert rows_of(st.find([eq(0, "k3")])) == [("k3", "0")]
    assert len(st) == 20


def test_bloom_nonportable_probe_type_is_conservative(spark, store_path):
    """A probe whose str() rendering may not match Spark's cast-to-string
    (e.g. float probe on a long column) skips bloom pruning but stays
    correct via the residual filter — superset contract."""
    import pyspark.sql.types as T
    from shortcut_spark import BloomIndex

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    st = Store.create(spark, store_path, schema)
    st.index("k", BloomIndex(m_bits=1 << 10, k=5))
    st.insert([(i, f"v{i}") for i in range(10)])
    # float probe: SQL coercion 3.0 = 3 is true; bloom must not prune it out
    assert rows_of(st.find([eq("k", 3.0)])) == [(3, "v3")]
    assert rows_of(st.find([eq("k", 3)])) == [(3, "v3")]


def test_compact_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order compaction over (x, y) must let the manifest-stats layer
    prune range predicates on EITHER column, where a linear sort on x
    prunes only x; and the layout change is semantically invisible."""
    import pyspark.sql.functions as F

    def grid_store(path, sort):
        import pyspark.sql.types as T

        st = Store.create(
            spark,
            str(path),
            T.StructType(
                [
                    T.StructField("k", T.LongType()),
                    T.StructField("x", T.LongType()),
                    T.StructField("y", T.LongType()),
                ]
            ),
        )
        df = spark.range(20_000).select(
            F.col("id").alias("k"),
            F.pmod(F.xxhash64(F.col("id")), F.lit(1000)).alias("x"),
            F.pmod(F.xxhash64(F.col("id") + 7), F.lit(1000)).alias("y"),
        )
        st.insert(df)
        st.compact(target_files=16, sort_by=sort)
        return st

    zst = grid_store(tmp_path / "z", ["x", "y"])
    lst = grid_store(tmp_path / "l", "x")
    assert len(zst.manifest.files) == len(lst.manifest.files) == 16

    qx = [between(1, 100, 160)]  # narrow x range
    qy = [between(2, 100, 160)]  # narrow y range
    _, zx = zst._prune_files(qx)
    _, zy = zst._prune_files(qy)
    _, lx = lst._prune_files(qx)
    _, ly = lst._prune_files(qy)
    # linear layout: x prunes hard, y not at all
    assert len(lx) <= 4 and len(ly) == 16
    # z-order: BOTH dimensions prune (each file is a small hyper-rectangle)
    assert len(zx) <= 8 and len(zy) <= 8

    # layout is invisible to results: both stores answer identically
    assert rows_of(zst.find(qy)) == rows_of(lst.find(qy))
    assert len(zst) == len(lst) == 20_000


def test_compact_zorder_rejects_non_numeric(spark, tmp_path):
    import pyspark.sql.types as T

    st = Store.create(
        spark,
        str(tmp_path / "s"),
        T.StructType(
            [T.StructField("name", T.StringType()), T.StructField("v", T.LongType())]
        ),
    )
    st.insert([("a", 1), ("b", 2)])
    with pytest.raises(ValueError):
        st.compact(sort_by=["name", "v"])


def test_changes_cdc_between_snapshots(spark, tmp_path):
    """changes(v) emits exactly the net row-level delta between snapshot v
    and now — inserts (rowid >= old watermark) and deletes (old live minus
    current live) — across append, CoW delete, tombstone delete and
    compact; a row appended then deleted inside the window nets out."""
    st = make(spark, str(tmp_path / "cdc"), ABC + AXB)
    v0 = st.manifest.version
    live_v0 = {r[0] for r in st.find([], with_rowid=True).select("__rowid").collect()}

    st.insert([["n1", "n2"], ["m1", "m2"]])          # appended
    st.delete([eq(0, "a1")])                          # CoW delete of an old row
    st.delete([eq(0, "m1")], defer=True)              # tombstone an appended row
    st.compact(target_files=2)                        # rewrite must not fake changes
    st.insert([["p1", "p2"]])

    ch = st.changes(v0).collect()
    ins = {(r["__rowid"], r[st.colnames[0]]) for r in ch if r["change_type"] == "insert"}
    dels = {(r["__rowid"], r[st.colnames[0]]) for r in ch if r["change_type"] == "delete"}
    # inserts: n1 and p1 (m1 was appended then tombstoned inside the window)
    assert {v for _, v in ins} == {"n1", "p1"}
    # deletes: exactly the v0 row a1, with its original rowid and values
    assert {v for _, v in dels} == {"a1"}
    assert all(rid in live_v0 for rid, _ in dels)
    assert all(rid not in live_v0 for rid, _ in ins)

    # applying the delta to the old snapshot reproduces the current table
    old_rows = {tuple(r) for r in Store.open(spark, str(tmp_path / "cdc"), v0).find([], with_rowid=True).collect()}
    cur_rows = {tuple(r) for r in st.find([], with_rowid=True).collect()}
    ins_full = {tuple(r)[1:] for r in ch if r["change_type"] == "insert"}
    del_full = {tuple(r)[1:] for r in ch if r["change_type"] == "delete"}
    assert (old_rows - del_full) | ins_full == cur_rows


def test_schema_evolution_add_column(spark, store_path):
    """add_column is metadata-only: old rows read null, new inserts carry
    the value, finds/indexes on the new column work, and the widened
    schema survives reopen."""
    import pyspark.sql.types as T

    st = make(spark, store_path, ABC)
    st.add_column("score", T.LongType())
    assert st.colnames[-1] == "score"
    rows = rows_of(st.find([]))
    assert all(r[-1] is None for r in rows) and len(rows) == 3
    with pytest.raises(ValueError):  # arity now 3 — old-shape insert fails
        st.insert([["x1", "x2"]])
    st.insert([["x1", "x2", 7], ["y1", "y2", 9]])
    assert rows_of(st.find([eq("score", 7)])) == [("x1", "x2", 7)]
    st.index("score", HashIndex)
    assert rows_of(st.find([eq("score", 9)])) == [("y1", "y2", 9)]
    st2 = Store.open(spark, store_path)
    assert st2.colnames == st.colnames and len(st2) == 5
    with pytest.raises(ValueError):
        st.add_column("score", T.LongType())  # duplicate


def test_schema_evolution_drop_column(spark, store_path):
    """drop_column projects the column away everywhere; indexed columns
    refuse until drop_index; the last column can never be dropped."""
    st = make(spark, store_path, ABC, index_col=0)
    with pytest.raises(ValueError):
        st.drop_column(st.colnames[0])  # indexed
    st.drop_index(0)
    first = st.colnames[0]
    st.drop_column(first)
    assert first not in st.colnames
    assert rows_of(st.find([])) == [("a2",), ("b2",), ("c2",)]
    with pytest.raises(ValueError):
        st.drop_column(st.colnames[0])  # last column
    with pytest.raises(ValueError):
        st.drop_index(0)  # no index there anymore


def test_changes_across_schema_evolution(spark, tmp_path):
    """CDC across an add_column: the delta is expressed in the CURRENT
    schema — delete rows carry null for the column added after the
    snapshot."""
    import pyspark.sql.types as T

    st = make(spark, str(tmp_path / "se"), ABC)
    v0 = st.manifest.version
    st.add_column("score", T.LongType())
    st.insert([["n1", "n2", 5]])
    st.delete([eq(0, "a1")])
    ch = {(r["change_type"], r[st.colnames[0]], r["score"]) for r in st.changes(v0).collect()}
    assert ("insert", "n1", 5) in ch
    assert ("delete", "a1", None) in ch
    assert len(ch) == 2


def test_open_as_of_timestamp(spark, tmp_path):
    """AS OF TIMESTAMP time travel: an epoch between two commits resolves
    to the earlier snapshot; before-history raises; version+as_of rejected."""
    import time

    st = make(spark, str(tmp_path / "tt"), ABC)
    t_before_history = time.time() - 3600
    t1 = time.time() + 0.01
    time.sleep(0.05)
    st.insert([["z1", "z2"]])
    t2 = time.time() + 0.01

    assert len(Store.open(spark, str(tmp_path / "tt"), as_of=t1)) == 3
    assert len(Store.open(spark, str(tmp_path / "tt"), as_of=t2)) == 4
    with pytest.raises(ValueError):
        Store.open(spark, str(tmp_path / "tt"), as_of=t_before_history)
    with pytest.raises(ValueError):
        Store.open(spark, str(tmp_path / "tt"), version=1, as_of=t1)


def test_merge_upsert_atomic_single_commit(spark, tmp_path):
    """merge(batch, on) replaces matching keys and appends the batch in
    ONE commit: the previous snapshot still shows the old table, the new
    one the fully-merged table; version advances by exactly 1."""
    st = make(spark, str(tmp_path / "m"), AXB)  # keys: a, a, b
    v0 = st.manifest.version
    ins, repl = st.merge([["a", "A_NEW"], ["c", "C1"]], on=0)
    assert (ins, repl) == (2, 2)  # both 'a' rows replaced, 'c' appended
    assert st.manifest.version == v0 + 1  # single atomic commit
    assert rows_of(st.find([])) == [("a", "A_NEW"), ("b", "x3"), ("c", "C1")]
    # the pre-merge snapshot is intact (atomicity: old readers unaffected)
    old = Store.open(spark, str(tmp_path / "m"), v0)
    assert rows_of(old.find([])) == sorted(map(tuple, AXB))
    # merging only-new keys touches nothing existing
    ins2, repl2 = st.merge([["d", "D1"]], on=0)
    assert (ins2, repl2) == (1, 0)
    assert len(st) == 4
    # empty batch is a no-op, no commit
    v = st.manifest.version
    assert st.merge([], on=0) == (0, 0)
    assert st.manifest.version == v
    with pytest.raises(ValueError):
        st.merge([["x", "y"]], on="nope")


def test_merge_upsert_with_index_and_compact(spark, tmp_path):
    """merge composes with indexes (postings see the new rows; replaced
    keys resolve to the new values) and compact materializes the staged
    tombstones away."""
    st = make(spark, str(tmp_path / "mi"), AXB, index_col=0)
    st.merge([["a", "A2"]], on=0)
    assert rows_of(st.find([eq(0, "a")])) == [("a", "A2")]
    assert st.manifest.tombstone_rows == 2
    st.compact(target_files=1)
    assert st.manifest.tombstone_rows == 0 and not st.manifest.tombstones
    assert rows_of(st.find([eq(0, "a")])) == [("a", "A2")]
    assert len(st) == 2


def test_describe_health_view(spark, store_path):
    """describe() is one metadata row per column: type, index kind, cost
    stats, table-wide min/max — and stays correct as indexes/data change."""
    st = make(spark, store_path, ABC, index_col=0)
    d = {r["col_name"]: r for r in st.describe().collect()}
    assert set(d) == set(st.colnames)
    c0 = d[st.colnames[0]]
    assert c0["index"] == "hash" and c0["idx_rows"] == 3 and c0["idx_ndv"] >= 2
    assert c0["min"] == "a1" and c0["max"] == "c1"
    assert d[st.colnames[1]]["index"] is None
    st.insert([["z9", "z9"]])
    d2 = {r["col_name"]: r for r in st.describe().collect()}
    assert d2[st.colnames[0]]["max"] == "z9" and d2[st.colnames[0]]["idx_rows"] == 4


# -- composite (multi-column) index ------------------------------------------


def _composite_fixture(spark, store_path):
    """6 insert batches → 6 files. Within every batch x spans 0..9 and y
    spans 0..10, so per-member min/max stats prune NOTHING; but each
    (x, y) pair lives in exactly one batch (y = (x + b) % 11), so tuple
    postings prune a covered lookup to one file."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("x", T.LongType(), True),
            T.StructField("y", T.LongType(), True),
            T.StructField("v", T.StringType(), True),
        ]
    )
    st = Store.create(spark, store_path, schema)
    st.index(("x", "y"))
    for b in range(6):
        st.insert([(x, (x + b) % 11, f"b{b}r{x}c{c}") for x in range(10) for c in range(3)])
    return st


@pytest.mark.slow
def test_composite_index_joint_pruning(spark, store_path):
    st = _composite_fixture(spark, store_path)
    assert len(st.manifest.files) == 6
    path, files = st._prune_files([eq("x", 0), eq("y", 2)])  # only batch b=2
    assert path.index is not None and path.index.kind == "composite"
    assert len(files) == 1
    # either member alone: stats can't prune, composite can't serve
    p1, f1 = st._prune_files([eq("x", 0)])
    assert p1.is_full_scan and len(f1) == 6
    got = st.find([eq("x", 0), eq("y", 2)]).collect()
    assert len(got) == 3 and all(r["x"] == 0 and r["y"] == 2 for r in got)


@pytest.mark.slow
def test_composite_beats_singles_and_reopens(spark, store_path):
    """Min-estimate rule: tuple ndv ≥ member ndv, so the composite wins
    whenever the conjunction covers it; the spec round-trips through the
    manifest; delete and compact maintain tuple postings."""
    st = _composite_fixture(spark, store_path)
    st.index("x", HashIndex)
    ex = st.explain_find([eq("x", 3), eq("y", 5)])
    assert "kind=composite" in ex and "columns=x,y" in ex
    # single cond → the single-column index (composite can't serve prefixes)
    ex1 = st.explain_find([eq("x", 3)])
    assert "kind=hash" in ex1 and "composite" not in ex1

    st2 = Store.open(spark, st.path)
    assert st2.manifest.indices["x,y"].columns == ["x", "y"]
    expected = st2.find([eq("x", 3), eq("y", 5)]).count()
    assert expected > 0

    st2.delete([eq("y", 5)])
    assert st2.find([eq("x", 3), eq("y", 5)]).count() == 0
    assert st2.find([eq("x", 3), eq("y", 4)]).count() > 0
    st2.compact()
    got = st2.find([eq("x", 3), eq("y", 4)])
    assert got.count() > 0 and all(r["y"] != 5 for r in st2.find([]).collect())


@pytest.mark.slow
def test_composite_validation_and_drop(spark, store_path):
    from shortcut_spark.idx import CompositeIndex

    st = _composite_fixture(spark, store_path)
    with pytest.raises(ValueError):
        st.index(("x",))  # needs >= 2 columns
    with pytest.raises(ValueError):
        st.index(("x", "x"))  # distinct members
    with pytest.raises(ValueError):
        st.index(("x", "nope"))  # unknown column
    with pytest.raises(ValueError):
        st.index(("x", "y"), "btree")  # only composite kind for multi-col
    with pytest.raises(ValueError):
        CompositeIndex("x")  # marker validates too
    with pytest.raises(ValueError):
        st.drop_column("x")  # member of a composite
    st.drop_index("x,y")
    assert "x,y" not in st.manifest.indices
    # after dropping, results are unchanged (index invisibility)
    assert st.find([eq("x", 0), eq("y", 2)]).count() == 3


# -- CDC replication (apply_changes) -----------------------------------------


def test_apply_changes_replica_converges(spark, store_path, tmp_path):
    """Follower bootstraps from the creation-time delta, then converges
    through CoW deletes, tombstone deletes and appends by applying ONE
    incremental delta; compact on the leader is CDC-invisible."""
    leader = Store.create(spark, store_path, 2)
    vc = leader.manifest.version
    leader.insert([(f"k{i}", f"v{i}") for i in range(20)])
    v0 = leader.manifest.version

    follower = Store.create(spark, str(tmp_path / "follower"), 2)
    ni, nd = follower.apply_changes(leader.changes(vc))
    assert (ni, nd) == (20, 0)
    assert rows_of(follower.find([])) == rows_of(leader.find([]))

    leader.delete([eq(0, "k3")])
    leader.insert([("new1", "x"), ("new2", "y")])
    leader.delete([eq(0, "k7")], defer=True)
    ni, nd = follower.apply_changes(leader.changes(v0))
    assert (ni, nd) == (2, 2)
    assert rows_of(follower.find([])) == rows_of(leader.find([]))

    v1 = leader.manifest.version
    leader.compact()
    assert leader.changes(v1).count() == 0  # rewrites preserve rowids

    # double-apply (or local follower write) is detected, not silent
    with pytest.raises(ValueError):
        follower.apply_changes(leader.changes(v0))


def test_apply_changes_validates_schema_and_maintains_index(spark, store_path, tmp_path):
    """The follower rejects a delta in the wrong shape; an indexed
    follower maintains postings through apply_changes (lookup stays
    exact after replication)."""
    from pyspark.sql import functions as F

    leader = Store.create(spark, store_path, 2)
    vc = leader.manifest.version
    leader.insert([(f"k{i % 5}", f"v{i}") for i in range(25)])

    follower = Store.create(spark, str(tmp_path / "f2"), 2)
    follower.index(0, HashIndex)
    with pytest.raises(ValueError):
        follower.apply_changes(leader.find([]))  # not a delta shape
    follower.apply_changes(leader.changes(vc))
    got = follower.find([eq(0, "k2")]).collect()
    assert len(got) == 5 and all(r[0] == "k2" for r in got)
    spec = follower.manifest.indices[follower.colnames[0]]
    assert spec.rows == 25 and spec.parts


def test_maybe_compact_policy(spark, store_path):
    """maybe_compact fires only when layout degrades: not on a healthy
    table; yes past the file-count threshold (files merge, rows intact);
    yes under tombstone debt (tombstones materialize away)."""
    st = Store.create(spark, store_path, 2)
    st.insert([("a", "1"), ("b", "2")])
    assert st.maybe_compact(max_files=10) is False  # healthy: 1 file (n=1 guard)

    for i in range(5):
        st.insert([(f"k{i}", str(i))])
    n_before = len(st)
    assert len(st.manifest.files) == 6
    assert st.maybe_compact(max_files=4, target_files=2, min_rows_per_file=1) is True
    assert len(st.manifest.files) <= 2 and len(st) == n_before
    assert st.maybe_compact(max_files=4, min_rows_per_file=1) is False  # healthy again

    # tombstone debt: defer-delete most rows ("1"/"2" match two rows
    # each: a/b and k1/k2 — 6 victims of 7), then the policy fires
    st.delete([eq(1, "1")], defer=True)
    st.delete([eq(1, "2")], defer=True)
    st.delete([eq(1, "0")], defer=True)
    st.delete([eq(1, "3")], defer=True)
    assert st.manifest.tombstone_rows > len(st) / 2
    assert st.maybe_compact(max_files=100) is True
    assert st.manifest.tombstone_rows == 0 and len(st) == n_before - 6


def test_history_and_restore(spark, store_path):
    """history() lists every retained snapshot with exact row accounting;
    restore(v) flips back to v's contents as a NEW commit (undoable),
    moves no data, and never reuses rowids minted after v."""
    st = Store.create(spark, store_path, 2)
    st.insert([("a", "1"), ("b", "2")])
    v_good = st.manifest.version
    st.delete([eq(0, "a")])
    st.insert([("c", "3")])
    v_bad = st.manifest.version
    wm = st.manifest.rowid

    h = {r["version"]: r for r in st.history().collect()}
    assert v_good in h and v_bad in h
    assert h[v_good]["live_rows"] == 2 and h[v_bad]["live_rows"] == 2
    assert all(r["committed_at"] is not None for r in h.values())

    st.restore(v_good)
    assert st.manifest.version == v_bad + 1  # restore is a NEW commit
    assert rows_of(st.find([])) == [("a", "1"), ("b", "2")]
    assert st.manifest.rowid == wm  # post-snapshot rowids never reused

    # the restore itself is undoable (history preserved)
    st.restore(v_bad)
    assert sorted(r[0] for r in st.find([]).collect()) == ["b", "c"]

    # reopening sees the restored state; expired versions raise
    st2 = Store.open(spark, store_path)
    assert len(st2) == 2
    with pytest.raises(Exception):
        st2.restore(99999)


def test_changes_exact_across_restore(spark, store_path, tmp_path):
    """CDC across a restore: the delta carries restored-away rows as
    deletes AND resurrected pre-watermark rows as inserts (the
    resurrected tier exists exactly for this), so a follower converges
    across a rollback without re-bootstrapping; double-apply is still
    caught (now by rowid collision, not a watermark floor)."""
    leader = Store.create(spark, store_path, 2)
    vc = leader.manifest.version
    leader.insert([("a", "1"), ("b", "2")])
    v_good = leader.manifest.version
    leader.insert([("c", "3")])
    leader.delete([eq(0, "a")])
    v_synced = leader.manifest.version  # consumer state: {b, c}

    follower = Store.create(spark, str(tmp_path / "f"), 2)
    follower.apply_changes(leader.changes(vc))
    assert rows_of(follower.find([])) == rows_of(leader.find([]))

    leader.restore(v_good)  # back to {a, b}
    delta = leader.changes(v_synced)
    got = {(r["change_type"], r[2], r[3]) for r in delta.collect()}
    assert got == {("delete", "c", "3"), ("insert", "a", "1")}

    ni, nd = follower.apply_changes(delta)
    assert (ni, nd) == (1, 1)
    assert rows_of(follower.find([])) == rows_of(leader.find([]))

    # double-apply still detected: the resurrected rowid now collides
    with pytest.raises(ValueError):
        follower.apply_changes(leader.changes(v_synced))


def test_apply_changes_resurrection_purges_follower_tombstone(spark, store_path, tmp_path):
    """r4 ADVICE (high): a delta insert may carry a rowid the follower
    previously TOMBSTONED (leader delete applied, then the leader
    restore()d across the window). Reads anti-join the whole tombstone
    set, so without purging it the resurrected copy is inserted yet
    permanently masked — the leader shows the row, the follower doesn't,
    and apply_changes reports success. The fix consolidates the stale
    tombstone away in the SAME commit as the insert."""
    leader = Store.create(spark, store_path, 2)
    vc = leader.manifest.version
    leader.insert([("a", "1"), ("b", "2"), ("c", "3")])
    v0 = leader.manifest.version

    follower = Store.create(spark, str(tmp_path / "f"), 2)
    follower.apply_changes(leader.changes(vc))

    leader.delete([eq(0, "a")])
    v1 = leader.manifest.version
    ni, nd = follower.apply_changes(leader.changes(v0))
    assert (ni, nd) == (0, 1)
    assert follower.manifest.tombstone_rows == 1  # "a"'s rowid masked

    leader.restore(v0)  # resurrects "a" under its ORIGINAL rowid
    ni, nd = follower.apply_changes(leader.changes(v1))
    assert (ni, nd) == (1, 0)
    # convergence: the resurrected row is VISIBLE on the follower
    assert rows_of(follower.find([])) == rows_of(leader.find([]))
    # and the stale tombstone was purged in the same commit
    assert follower.manifest.tombstone_rows == 0
    # reopen from disk: the purge was committed, not in-memory-only
    reopened = Store.open(spark, str(tmp_path / "f"))
    assert rows_of(reopened.find([])) == rows_of(leader.find([]))


def test_apply_changes_rejected_delta_stages_nothing(spark, store_path, tmp_path):
    """r4 ADVICE (medium): a delta that fails the insert-collision guard
    must leave ZERO staged manifest state — previously its deletes were
    staged first, survived the raise, and the next unrelated _commit
    silently persisted them. The guard now runs before any staging and
    the whole apply runs in one ``Store._txn``."""
    leader = Store.create(spark, store_path, 2)
    vc = leader.manifest.version
    leader.insert([(f"k{i}", str(i)) for i in range(6)])
    follower = Store.create(spark, str(tmp_path / "f"), 2)
    follower.apply_changes(leader.changes(vc))

    live = {
        r[follower.colnames[0]]: r["__rowid"]
        for r in follower.find([], with_rowid=True).collect()
    }
    # crafted bad delta: a delete that targets a LIVE follower row plus
    # an insert whose rowid collides with another live row
    bad = spark.createDataFrame(
        [
            ("delete", live["k3"], "k3", "3"),
            ("insert", live["k1"], "k1", "dup"),
        ],
        f"change_type string, __rowid long, "
        f"{follower.colnames[0]} string, {follower.colnames[1]} string",
    )
    before = follower.manifest.to_json()
    with pytest.raises(ValueError, match="collide"):
        follower.apply_changes(bad)
    assert follower.manifest.to_json() == before  # nothing staged
    # a later legitimate write carries none of the rejected delta's state
    leader.insert([("tail", "9")])
    follower.apply_changes(leader.changes(leader.manifest.version - 1))
    assert rows_of(follower.find([])) == rows_of(leader.find([]))
    assert follower.manifest.tombstone_rows == 0


@pytest.mark.parametrize("bound", [None, 0], ids=["driver", "spark"])
def test_rejected_apply_changes_keeps_custom_indexers_and_parted_files(
    spark, store_path, tmp_path, monkeypatch, bound
):
    """A delta the collision guard rejects leaves the follower handle as it
    was — on the driver path and, with ``DRIVER_INSERT_ROWS`` at 0, on the
    Spark path: its session-scoped custom indexer objects (which the
    manifest JSON does not carry) stay, and a parted file list stays a
    ``PartedFileList``."""
    from shortcut_spark import manifest as manifest_mod
    from shortcut_spark.manifest import PartedFileList

    class Eager:
        kind = "hash"

        def estimate(self, rows, ndv):
            return 0.5

    monkeypatch.setattr(manifest_mod, "MANIFEST_PART_SIZE", 2)
    leader = Store.create(spark, store_path, 2)
    follower = Store.create(spark, str(tmp_path / "f"), 2)
    for i in range(3):  # one follower file per delta: three files, parted
        v = leader.manifest.version
        leader.insert([(f"k{i}", str(i))])
        follower.apply_changes(leader.changes(v))
    follower = Store.open(spark, follower.path)
    eager = Eager()
    follower.index(0, eager)
    if bound is not None:
        follower.DRIVER_INSERT_ROWS = bound
    assert isinstance(follower.manifest.files, PartedFileList)
    before = follower.manifest.to_json()
    with pytest.raises(ValueError, match="collide"):
        follower.apply_changes(leader.changes(leader.manifest.version - 1))
    assert isinstance(follower.manifest.files, PartedFileList)
    assert follower.manifest.indices["c0"].custom is eager
    assert "estimate=0.50" in follower.explain_find([eq(0, "k1")])
    assert follower.manifest.to_json() == before


def test_apply_changes_driver_and_distributed_venues_agree(spark, store_path, tmp_path):
    """The micro-delta driver apply (r12) and the distributed apply are the
    same operator in two venues: identical rows, identical tombstone
    accounting, identical collision behaviour. DRIVER_INSERT_ROWS = -1 on
    one follower forces the distributed path for every delta."""
    leader = Store.create(spark, store_path, 2)
    vc = leader.manifest.version
    leader.insert([(f"k{i}", str(i)) for i in range(30)])
    v0 = leader.manifest.version

    drv = Store.create(spark, str(tmp_path / "drv"), 2)
    dist = Store.create(spark, str(tmp_path / "dist"), 2)
    dist.DRIVER_INSERT_ROWS = -1  # instance override: distributed venue

    got_d = drv.apply_changes(leader.changes(vc))
    got_x = dist.apply_changes(leader.changes(vc))
    assert got_d == got_x == (30, 0)

    leader.delete([eq(0, "k3")])  # CoW delete
    leader.delete([eq(0, "k7")], defer=True)  # tombstone delete
    leader.insert([("new1", "x"), ("new2", "y")])

    got_d = drv.apply_changes(leader.changes(v0))
    got_x = dist.apply_changes(leader.changes(v0))
    assert got_d == got_x == (2, 2)
    assert rows_of(drv.find([], with_rowid=True)) == rows_of(
        dist.find([], with_rowid=True)
    )
    assert rows_of(drv.find([])) == rows_of(leader.find([]))
    assert drv.manifest.tombstone_rows == dist.manifest.tombstone_rows
    assert drv.manifest.rowid == dist.manifest.rowid
    # both venues detect a double-apply identically
    for f in (drv, dist):
        with pytest.raises(ValueError, match="collide"):
            f.apply_changes(leader.changes(v0))


@pytest.mark.parametrize("bound", [None, -1], ids=["driver", "spark"])
def test_follower_changes_see_rows_reinserted_below_watermark(
    spark, store_path, tmp_path, bound
):
    """A leader restore re-inserts a row the follower has compacted away:
    the follower's apply writes it again below its rowid watermark, and
    the follower's own change feed must report that insert — its
    changelog tier keeps only rows at or above the watermark, so the
    apply must not leave the commit changelog-clean."""
    leader = Store.create(spark, store_path, 2)
    follower = Store.create(spark, str(tmp_path / "f"), 2)
    if bound is not None:
        follower.DRIVER_INSERT_ROWS = bound
    vc = leader.manifest.version
    leader.insert([(f"k{i}", str(i)) for i in range(10)])
    v1 = leader.manifest.version
    follower.apply_changes(leader.changes(vc))
    leader.delete([eq(0, "k5")])
    v2 = leader.manifest.version
    follower.apply_changes(leader.changes(v1))
    follower.compact()
    assert follower.manifest.tombstone_rows == 0
    v_before = follower.manifest.version
    leader.restore(v1)
    assert follower.apply_changes(leader.changes(v2)) == (1, 0)
    assert rows_of(follower.find([])) == rows_of(leader.find([]))
    got = follower.changes(v_before).collect()
    assert [(r["change_type"], r[ROWID], r["c0"]) for r in got] == [("insert", 5, "k5")]


@pytest.mark.slow
def test_posting_part_pruning_and_sharding(spark, tmp_path):
    """Posting parts record per-part [min, max] range-key stats at write
    (from the build tasks' own ranges — no extra job), so a point probe
    prunes whole parts driver-side before any Spark work; above
    ``POSTING_SHARD_ROWS`` each build task writes its own shard of the
    part, a file sorted by key, so the pushed-down key predicate skips
    row groups by their footer ranges. Probe cost is therefore sublinear
    in posting size."""
    from pyspark.sql import functions as F, types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    st = Store.create(spark, str(tmp_path / "shard"), schema)
    st.index("k", HashIndex)
    # a batch of four files, each its own build task, above one shard
    st.ROWS_PER_FILE = st.POSTING_SHARD_ROWS = 50
    for base in (0, 1000, 2000, 3000, 4000, 5000):
        rows = [(base + i, f"v{base + i}") for i in range(200)]
        st.insert(spark.createDataFrame(rows, schema))

    spec = st.manifest.indices["k"]
    assert len(spec.parts) == 6
    # per-part stats recorded and exact
    assert spec.part_stats[spec.parts[0]] == [0, 199]
    assert spec.part_stats[spec.parts[3]] == [3000, 3199]
    # driver-side part pruning: a point probe keeps exactly one part
    assert st._parts_for_probe(spec, 1050) == [spec.parts[1]]
    assert st._parts_for_probe(spec, 5199) == [spec.parts[5]]
    # stats survive the manifest round-trip
    st2 = Store.open(spark, str(tmp_path / "shard"))
    assert st2.manifest.indices["k"].part_stats == spec.part_stats

    # sharding: the part holds one sorted file per build task
    part_files = st._posting_files([spec.parts[0]])
    assert len(part_files) >= 2
    keys = []
    for pf in part_files:
        got = pq.read_table(pf).column("key").to_pylist()
        assert got == sorted(got)
        keys += got
    assert sorted(keys) == list(range(200))

    # the pruned probe reads ONLY the pruned part's files
    probe_df = st._probe_postings(spec, 1050)
    probed = {p.split("/idx/")[-1].rsplit("/", 1)[0] for p in probe_df.inputFiles()}
    assert probed == {spec.parts[1].split("idx/")[-1]}

    # the key predicate pushes down INTO the posting scan, so footer
    # ranges skip non-matching row groups
    plan = (
        probe_df.filter(F.col("key") == 1050)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EqualTo(key,1050)" in plan and "PushedFilters" in plan

    # end-to-end exactness through the sharded probe path
    got = st.find([eq("k", 1050)]).collect()
    assert len(got) == 1 and got[0]["v"] == "v1050"
    assert st.find([eq("k", 777)]).count() == 0


def test_prune_mask_edges_match_per_file_check(spark, tmp_path):
    """The vectorized prune must agree with the per-file check on every
    edge it claims to handle, and must FALL BACK (return None) whenever
    vectorization could over-prune: mixed stat types, bools, and numeric
    magnitudes past 2^52 (float64 rounding)."""
    from pyspark.sql import types as T

    from shortcut_spark import Bound, between
    from shortcut_spark.manifest import DataFile, Manifest

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("s", T.StringType())]
    )
    man = Manifest(schema_json=schema.json())

    def add(i, stats):
        man.files.append(
            DataFile(id=i, path=f"data/f{i}.parquet", rows=10,
                     min_rowid=i * 10, max_rowid=i * 10 + 9, stats=stats)
        )

    add(0, {"k": [0, 9], "s": ["a", "f"]})
    add(1, {"k": [10, 19], "s": ["g", "m"]})
    add(2, {})  # no stats: must always survive
    man.next_file_id = 3
    st = Store(spark, str(tmp_path / "edge"), man)

    # numeric eq + between, inclusive/exclusive bounds, vs the python check
    for conds in (
        [eq("k", 5)],
        [eq("k", 10)],
        [between("k", 9, 10)],
        [between("k", Bound.excluded(9), Bound.excluded(10))],
        [between("k", None, Bound.included(0))],
        [eq("s", "g")],
        [eq("s", "zz")],
    ):
        _, fast = st._prune_files(conds)
        cond = conds[0]
        name = cond.resolve(st.colnames)
        slow = [f for f in man.files if Store._file_may_match(f, cond, name)]
        assert [f.id for f in fast] == [f.id for f in slow], conds
    # the no-stats file survived every prune above
    assert all(2 in {f.id for f in st._prune_files(c)[1]} for c in ([eq("k", 5)],))

    # unsafe cases fall back (None) rather than risk over-pruning
    man2 = Manifest(schema_json=schema.json())
    man2.files.append(DataFile(0, "data/a.parquet", 1, 0, 0, {"k": [0, 2**53]}))
    st2 = Store(spark, str(tmp_path / "edge2"), man2)
    assert st2._stats_arrays("k") is None  # magnitude past 2^52
    man3 = Manifest(schema_json=schema.json())
    man3.files.append(DataFile(0, "data/a.parquet", 1, 0, 0, {"k": [0, "x"]}))
    st3 = Store(spark, str(tmp_path / "edge3"), man3)
    assert st3._stats_arrays("k") is None  # mixed types
    # safe store: string-typed probe on a numeric column falls back too
    assert st._prune_mask(eq("k", "notanumber"), "k") is None


@pytest.mark.slow
def test_bloom_lazy_per_candidate_loading(spark, store_path):
    """A bloom probe fetches ONLY the candidate files' bitsets
    (incrementally cached), never the whole map — and they are the
    bitsets Spark reads."""
    from shortcut_spark import BloomIndex

    st = Store.create(spark, store_path, 2)
    st.index(0, BloomIndex)
    for b in range(6):
        st.insert([(f"k{b}_{i}", f"v{b}_{i}") for i in range(10)])
    assert len(st.manifest.files) == 6
    spec = st.manifest.indices[st.colnames[0]]

    # Spark-read baseline of every live file's bitset
    want = _spark_bitsets(spark, st, spec)
    assert len(want) == 6

    # fresh store object → cold caches
    st2 = Store.open(spark, store_path)
    spec2 = st2.manifest.indices[st2.colnames[0]]
    key = (spec2.column, st2.manifest.version)
    cand = [f.id for f in st2.manifest.files[:2]]
    got = st2._bloom_bitsets(spec2, cand)
    assert set(st2._bloom_maps[key]) == set(cand)  # only candidates fetched
    assert all(got[i] == want[i] for i in cand)
    # incremental: a second probe adds only the new ids
    more = [f.id for f in st2.manifest.files[:4]]
    st2._bloom_bitsets(spec2, more)
    assert set(st2._bloom_maps[key]) == set(more)
    assert len(st2._bloom_maps[key]) <= 4 < 6  # never the whole map

    # end-to-end exactness through the per-candidate path
    got_rows = st2.find([eq(0, "k3_7")]).collect()
    assert len(got_rows) == 1 and got_rows[0][1] == "v3_7"
    assert st2.find([eq(0, "nope")]).count() == 0


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_bloom_and_trigram_probes_take_no_job(spark, tmp_path):
    """Both index-part readers are pyarrow reads on the driver: a bloom
    find on a freshly opened handle over six bloom parts, and a trigram
    ``contains``, prune files and serve their exact rows with no Spark
    job, and cache no relation."""
    from shortcut_spark import BloomIndex, TrigramIndex
    from shortcut_spark.cmp import contains

    path = str(tmp_path / "bloom")
    st = Store.create(spark, path, 2)
    st.index(0, BloomIndex)
    for b in range(6):
        st.insert([(f"k{b}_{i}", f"v{b}_{i}") for i in range(10)])
    assert len(st.manifest.indices["c0"].parts) == 6
    fresh = Store.open(spark, path)
    held = _persistent_rdds(spark)
    got, jobs = _jobs(spark, lambda: fresh.find([eq(0, "k3_7")]).collect())
    assert jobs == 0 and [tuple(r) for r in got] == [("k3_7", "v3_7")]
    assert fresh.explain_find([eq(0, "k3_7")]).endswith("files=1/6")
    assert _persistent_rdds(spark) == held

    st = Store.create(spark, str(tmp_path / "trigram"), 2)
    st.index(0, TrigramIndex())
    for b in range(4):
        rows = [(f"filler text number {i} batch {b}", str(i)) for i in range(50)]
        st.insert(rows + ([("the rare xylophone needle", "hit")] if b == 2 else []))
    got, jobs = _jobs(spark, lambda: st.find([contains(0, "xylophone")]).collect())
    assert jobs == 0 and [tuple(r) for r in got] == [("the rare xylophone needle", "hit")]
    assert st.explain_find([contains(0, "xylophone")]).endswith("files=1/4")
    assert _persistent_rdds(spark) == held


def test_index_part_reads_match_spark_read(spark, tmp_path):
    """The pyarrow trigram and bloom probes keep the files a Spark read of
    the same index parts keeps: trigram hit sets from the filtered read
    (case-sensitive and lowered postings), and bloom bitsets and pruned files, over several parts and after a
    copy-on-write delete retires a file."""
    from pyspark.sql import functions as F

    from shortcut_spark import BloomIndex, TrigramIndex
    from shortcut_spark.cmp import contains, icontains
    from shortcut_spark.store import _bloom_positions_py

    st = Store.create(spark, str(tmp_path / "s"), 3)
    st.index(0, TrigramIndex())
    st.index(1, TrigramIndex(case_insensitive=True))
    st.index(2, BloomIndex(m_bits=1 << 10, k=3))
    words = ["alpha", "Bravo", "charlie", "DELTA", "echo", "foxtrot"]
    for b in range(5):
        st.insert(
            [(f"{words[(b + i) % 6]} {words[i % 4]} {b}", f"{words[(b * i) % 6]} x", f"k{b}_{i % 7}")
             for i in range(12)]
        )
    needles = ["alpha", "charlie bravo", "foxtrot", "ravo", "alpha Bravo", "zzz", "DELTA"]
    keys = ["k0_1", "k3_6", "k4_0", "k9_9", "k2_3"]
    for step in ("insert", "delete"):
        if step == "delete":
            assert st.delete([eq(2, "k1_2")]) > 0
        live = {f.id for f in st.manifest.files}
        for column, cmp in (("c0", contains), ("c1", icontains)):
            spec = st.manifest.indices[column]
            post = _spark_postings(spark, st, spec)
            for needle in needles:
                probe = needle.lower() if spec.params.get("ci") else needle
                grams = sorted({probe[i : i + 3] for i in range(len(probe) - 2)})
                want = {
                    r["__file_id"]
                    for r in post.filter(F.col("key").isin(grams))
                    .groupBy("__file_id")
                    .agg(F.count_distinct("key").alias("n"))
                    .filter(F.col("n") == len(grams))
                    .collect()
                }
                _, files = st._prune_files([cmp(column, needle)])
                assert {f.id for f in files} == want & live, (step, column, needle)
        spec = st.manifest.indices["c2"]
        want_bits = _spark_bitsets(spark, st, spec)
        assert st._bloom_bitsets(spec, sorted(live)) == want_bits and want_bits
        for k in keys:
            (pos,) = _bloom_positions_py([k], 1 << 10, 3)
            want = {i for i, bits in want_bits.items() if Store._bloom_hit(bits, pos)}
            fresh = Store.open(spark, st.path)
            _, files = fresh._prune_files([eq(2, k)])
            stats = [f for f in fresh.manifest.files if Store._file_may_match(f, eq(2, k), "c2")]
            assert {f.id for f in files} == want & {f.id for f in stats}, (step, k)
            assert rows_of(fresh.find([eq(2, k)])) == rows_of(
                fresh.find([]).filter(F.col("c2") == k)
            )


def test_custom_hash_indexer_serving_between_is_exact(spark, store_path):
    """A custom hash-kind indexer whose ``supports`` accepts ``between``
    serves the range through the Spark posting read over every part, and
    the rows are exact."""
    import random

    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    class RangeHash:
        kind = "hash"

        def supports(self, cmp):
            return cmp.is_const_eq or cmp.op == "between"

        def estimate(self, rows, ndv):
            return 1.0

    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("v", T.StringType())])
    st = Store.create(spark, store_path, schema)
    st.index("k", RangeHash())
    rng = random.Random(7)
    for b in range(6):
        # every file spans the key range, so the stats layer prunes none
        ends = [(0, f"lo{b}"), (10_000, f"hi{b}")]
        st.insert(ends + [(rng.randrange(0, 10_000), f"v{b}_{i}") for i in range(50)])
    assert len(st.manifest.files) == 6
    all_rows = st.find([])
    for lo, hi in ((100, 300), (5_000, 5_050), (9_990, 20_000)):
        cond = between("k", lo, hi)
        assert "IndexLookup" in st.explain_find([cond])
        got, jobs = _jobs(spark, lambda: rows_of(st.find([cond])))
        assert got == rows_of(all_rows.filter(F.col("k").between(lo, hi))), (lo, hi)
        assert jobs >= 1  # the custom op's posting read runs on Spark
    # the posting read pruned: a narrow range keeps fewer than all files
    kept = int(st.explain_find([between("k", 5_000, 5_050)]).split("files=")[1].split("/")[0])
    assert kept < 6


def test_stats_agg_fast_path_and_tombstone_fallback(spark, store_path):
    """COUNT/MIN/MAX from manifest stats: the fast path must not touch
    data files (poisoned _read_files), and a tombstoned extreme must
    force the scan fallback rather than returning the stale stats max."""
    st = make(spark, store_path, [("a", "1"), ("b", "9"), ("c", "5")])
    col = st.colnames[1]
    row = st.stats_agg(col).collect()[0]
    assert (row["n_rows"], row["min_val"], row["max_val"]) == (3, "1", "9")

    orig = st._read_files
    st._read_files = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("fast path scanned data files")
    )
    try:
        row2 = st.stats_agg(col).collect()[0]
    finally:
        st._read_files = orig
    assert (row2["n_rows"], row2["min_val"], row2["max_val"]) == (3, "1", "9")

    # merge-on-read delete of the CURRENT max: stats alone would be stale
    st.delete([eq(1, "9")], defer=True)
    row3 = st.stats_agg(col).collect()[0]
    assert (row3["n_rows"], row3["min_val"], row3["max_val"]) == (2, "1", "5")


# -- topk: ORDER BY .. LIMIT k off manifest stats ----------------------------


def _mk_typed(spark, path, rows, schema="k long, v double"):
    from pyspark.sql import types as T

    fields = []
    for part in schema.split(","):
        n, t = part.split()
        fields.append(
            T.StructField(n, T.LongType() if t == "long" else T.DoubleType())
        )
    st = Store.create(spark, path, T.StructType(fields))
    st.insert(rows)
    return st


def test_topk_matches_full_sort_with_ties(spark, store_path):
    from pyspark.sql import functions as F

    rows = [(i, float(v)) for i, v in enumerate([5, 9, 9, 1, 7, 9, 3, 7, 2, 8])]
    st = _mk_typed(spark, store_path, rows)
    got = [tuple(r) for r in st.topk("v", 4, tiebreak=("k",)).collect()]
    exp = [
        tuple(r)
        for r in st.find([]).orderBy(F.col("v").desc(), F.col("k")).limit(4).collect()
    ]
    assert got == exp
    got_asc = [tuple(r) for r in st.topk("v", 4, ascending=True, tiebreak=("k",)).collect()]
    exp_asc = [
        tuple(r)
        for r in st.find([]).orderBy(F.col("v").asc(), F.col("k")).limit(4).collect()
    ]
    assert got_asc == exp_asc


def test_topk_prunes_files_on_range_layout(spark, store_path):
    """On a compact(sort_by=col) layout the threshold walk must exclude
    most files from the scan — the point of the feature."""
    from shortcut_spark.cmp import between

    rows = [(i, float(i)) for i in range(1000)]
    st = _mk_typed(spark, store_path, rows)
    st.compact(target_files=8, sort_by="v")
    assert len(st.manifest.files) == 8
    got = sorted(tuple(r) for r in st.topk("v", 5, tiebreak=("k",)).collect())
    assert got == [(i, float(i)) for i in range(995, 1000)]
    assert st.last_topk_threshold is not None
    _, files = st._prune_files([between("v", st.last_topk_threshold, None)])
    assert len(files) <= 2  # 5 of 1000 rows live in the last range file


def test_topk_survives_tombstoned_maxima(spark, store_path):
    """Tombstone-delete the current top values: the walk subtracts the
    whole tombstone debt, so the threshold stays sound and the next tier
    of values surfaces."""
    rows = [(i, float(i)) for i in range(100)]
    st = _mk_typed(spark, store_path, rows)
    st.compact(target_files=5, sort_by="v")
    st.delete([between("v", 90.0, None)], defer=True)
    got = sorted(tuple(r) for r in st.topk("v", 3, tiebreak=("k",)).collect())
    assert got == [(87, 87.0), (88, 88.0), (89, 89.0)]


def test_topk_ignores_nulls_and_uses_nonnull_counts(spark, store_path):
    rows = [(1, 5.0), (2, None), (3, 1.0), (4, None), (5, 3.0)]
    st = _mk_typed(spark, store_path, rows)
    got = [tuple(r) for r in st.topk("v", 2, tiebreak=("k",)).collect()]
    assert got == [(1, 5.0), (5, 3.0)]
    # stats element #3 is the NON-NULL count, not the row count
    f = st.manifest.files[0]
    assert f.stats["v"][2] == 3 and f.rows == 5


def test_topk_full_sort_fallback_without_stats(spark, store_path):
    rows = [(i, float(i % 7)) for i in range(50)]
    st = _mk_typed(spark, store_path, rows)
    for f in st.manifest.files:
        f.stats.pop("v", None)  # simulate a writer that shipped no stats
    got = [tuple(r) for r in st.topk("v", 3, tiebreak=("k",)).collect()]
    assert st.last_topk_threshold is None
    assert [v for _, v in got] == [6.0, 6.0, 6.0]
    assert st.topk("v", 0).count() == 0


def test_topk_bad_column_rejected(spark, store_path):
    st = _mk_typed(spark, store_path, [(1, 1.0)])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        st.topk("nope", 3)


def test_trigram_index_semantically_invisible(spark, store_path, tmp_path):
    """The reference's metamorphic with/without-index property
    (src/lib.rs:294-345) extended to the TRIGRAM kind and the `contains`
    comparison: identical results for hits, misses, short (<3 char,
    residual-only) needles, and equality probes served through grams."""
    from shortcut_spark import TrigramIndex
    from shortcut_spark.cmp import contains

    data = [
        ["the quick brown fox", "a"],
        ["jumped over the lazy dog", "b"],
        ["pack my box with five dozen jugs", "c"],
        ["sphinx of black quartz", "d"],
    ]
    st = make(spark, store_path, data, index_col=0, kind=TrigramIndex())
    plain = make(spark, str(tmp_path / "plain"), data)
    for conds in (
        [contains(0, "quick")],
        [contains(0, "zebra")],
        [contains(0, "ox")],  # short: residual-only
        [contains(0, "the"), contains(1, "a")],
        [eq(0, "sphinx of black quartz")],
    ):
        assert rows_of(st.find(conds)) == rows_of(plain.find(conds))


@pytest.mark.slow
def test_trigram_prunes_files_and_survives_reopen(spark, store_path):
    """Multi-batch store: a needle planted in ONE batch must prune the
    others (ALL-grams intersection), a needle whose grams never co-occur
    prunes everything, and postings survive a manifest reopen."""
    from shortcut_spark import TrigramIndex
    from shortcut_spark.cmp import contains

    st = Store.create(spark, store_path, 2)
    st.index(0, TrigramIndex())
    for b in range(4):
        rows = [(f"filler text number {i} batch {b}", str(i)) for i in range(50)]
        if b == 2:
            rows.append(("the rare xylophone needle", "hit"))
        st.insert(rows)
    n_files = len(st.manifest.files)
    assert n_files >= 4
    report = st.explain_find([contains(0, "xylophone")])
    kept = int(report.split("files=")[1].split("/")[0])
    assert kept < n_files
    assert rows_of(st.find([contains(0, "xylophone")])) == [
        ("the rare xylophone needle", "hit")
    ]
    # grams exist individually ("fil", "ler") but never as this needle →
    # files survive only via gram co-occurrence; residual drops all rows
    assert st.find([contains(0, "fillerfiller")]).count() == 0
    miss = st.explain_find([contains(0, "qqqzzzvvv")])
    assert miss.endswith(f"files=0/{n_files}")
    st2 = Store.open(spark, store_path)
    assert rows_of(st2.find([contains(0, "xylophone")])) == [
        ("the rare xylophone needle", "hit")
    ]
    assert st2.manifest.indices["c0"].kind == "trigram"


def test_trigram_validation_and_access_path(spark, store_path):
    """Non-string columns are rejected; min-estimate selection prefers a
    hash index for equality but engages trigram for contains (the hash
    can't serve it); <3-char needles never pick the index."""
    import pytest as _pytest

    from shortcut_spark import TrigramIndex
    from shortcut_spark.cmp import contains

    st = Store.create(
        spark, store_path,
        __import__("pyspark").sql.types.StructType()
        .add("name", "string").add("n", "long"),
    )
    st.insert([(f"user-{i:04d}", i) for i in range(100)])
    with _pytest.raises(ValueError):
        st.index("n", TrigramIndex())
    st.index("name", TrigramIndex())
    st.index("name", "hash")  # replaces? no — same column: silent replace
    # hash replaced trigram on the same column; re-create trigram to hold both
    # on distinct columns is impossible (one index per column, parity) —
    # so assert the replace semantics instead (src/lib.rs:204)
    assert st.manifest.indices["name"].kind == "hash"
    st.index("name", TrigramIndex())
    assert st.manifest.indices["name"].kind == "trigram"
    assert "IndexLookup" in st.explain_find([contains("name", "user-0042")])
    assert "FullScan" in st.explain_find([contains("name", "42")])
    assert rows_of(st.find([contains("name", "user-0042")])) == [("user-0042", 42)]


def test_version_diff_bounded_window(spark, store_path):
    """diff(v0, v2) sees exactly the window's mutations; a delete AFTER
    v2 is invisible; diff(v, None) ≡ changes(v); inverted windows raise."""
    import pytest as _pytest

    st = make(spark, store_path, [["a", "1"], ["b", "2"], ["c", "3"]])
    v0 = st.manifest.version
    st.delete([eq(0, "b")])
    st.insert([["d", "4"]])
    v2 = st.manifest.version
    st.delete([eq(0, "a")])  # outside the window

    d = {(r["change_type"], r["c0"]) for r in st.diff(v0, v2).collect()}
    assert d == {("delete", "b"), ("insert", "d")}
    full = {(r["change_type"], r["c0"]) for r in st.diff(v0).collect()}
    assert full == {(r["change_type"], r["c0"]) for r in st.changes(v0).collect()}
    assert ("delete", "a") in full
    with _pytest.raises(ValueError):
        st.diff(v2, v0)


def test_tags_named_snapshots(spark, store_path):
    """tag() pins a name to a version through later mutations and reopen;
    retagging moves it; unknown tags and tag+version conflicts raise."""
    import pytest as _pytest

    st = make(spark, store_path, [["a", "1"], ["b", "2"]])
    v = st.tag("golden")
    st.insert([["c", "3"]])
    st.delete([eq(0, "a")])
    assert rows_of(Store.open(spark, store_path, tag="golden").find([])) == [
        ("a", "1"), ("b", "2")
    ]
    # tags are data: a reopened store still resolves them
    st2 = Store.open(spark, store_path)
    assert rows_of(st2.find([])) == [("b", "2"), ("c", "3")]
    st2.tag("golden")  # retag at current
    assert rows_of(Store.open(spark, store_path, tag="golden").find([])) == [
        ("b", "2"), ("c", "3")
    ]
    with _pytest.raises(ValueError):
        Store.open(spark, store_path, tag="nope")
    with _pytest.raises(ValueError):
        Store.open(spark, store_path, version=v, tag="golden")
    with _pytest.raises(ValueError):
        st2.tag("bad/name")


def test_trigram_case_insensitive_index(spark, store_path, tmp_path):
    """ci trigram index: icontains probes prune on lowered grams and stay
    exact; the SAME index serves case-sensitive contains (superset); a
    case-sensitive index never serves icontains (would wrongly prune)."""
    from shortcut_spark import TrigramIndex
    from shortcut_spark.cmp import contains, icontains

    data = [["The QUICK Brown Fox", "a"], ["lazy dog", "b"], ["QUICKSAND", "c"]]
    st = make(spark, store_path, data, index_col=0, kind=TrigramIndex(case_insensitive=True))
    plain = make(spark, str(tmp_path / "plain"), data)
    for conds in (
        [icontains(0, "quick")],
        [icontains(0, "QUICK")],
        [contains(0, "QUICK")],   # case-sensitive through the ci index
        [contains(0, "quick")],   # no case-sensitive match exists
        [icontains(0, "zebra")],
    ):
        assert rows_of(st.find(conds)) == rows_of(plain.find(conds))
    assert st.find([icontains(0, "quick")]).count() == 2
    assert st.find([contains(0, "quick")]).count() == 0
    assert "IndexLookup" in st.explain_find([icontains(0, "quick")])
    # a case-SENSITIVE index must NOT serve icontains
    cs = make(spark, str(tmp_path / "cs"), data, index_col=0, kind=TrigramIndex())
    assert "FullScan" in cs.explain_find([icontains(0, "quick")])
    assert rows_of(cs.find([icontains(0, "quick")])) == rows_of(
        plain.find([icontains(0, "quick")])
    )


def test_parted_manifest_commit_reuses_parts_and_vacuums(spark, tmp_path):
    """Append-only commits on a parted manifest must reference existing
    part files VERBATIM (no rewrite — commit cost O(tail), the Iceberg
    reuse contract), keep the remainder as a root tail that loads back,
    split a full tail chunk into a new part, and vacuum must neither
    crash on part filenames nor delete shared parts (only orphans)."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from shortcut_spark.manifest import DataFile, Manifest, PartedFileList

    schema = T.StructType([T.StructField("k", T.LongType())])
    man = Manifest(schema_json=schema.json())
    n0 = 9000  # > MANIFEST_PART_SIZE (8192): first commit splits
    for i in range(n0):
        man.files.append(DataFile(i, f"data/f{i}.parquet", 10, i * 10, i * 10 + 9,
                                  stats={"k": [i, i]}))
    man.next_file_id, man.rowid = n0, n0 * 10
    path = str(tmp_path / "t")
    _os.makedirs(path)
    man.commit(path)
    mdir = Manifest._dir(path)
    parts_v1 = sorted(f for f in _os.listdir(mdir) if "-files-p" in f)
    mtimes = {f: _os.path.getmtime(_os.path.join(mdir, f)) for f in parts_v1}

    # append-only commit: loaded lazily, tail append, commit
    m2 = Manifest.load(path)
    assert isinstance(m2.files, PartedFileList)
    m2.files.append(DataFile(n0, f"data/f{n0}.parquet", 10, n0 * 10, n0 * 10 + 9,
                             stats={"k": [n0, n0]}))
    m2.next_file_id = n0 + 1
    m2.commit(path)
    assert not m2.files.fully_loaded  # reuse never opened the old parts
    for f in parts_v1:  # old parts untouched on disk
        assert _os.path.getmtime(_os.path.join(mdir, f)) == mtimes[f]
    with open(_os.path.join(mdir, f"v{m2.version}.json")) as fh:
        d = _json.load(fh)
    assert [p["part"] for p in d["file_parts"]] == parts_v1  # verbatim reuse
    assert len(d["files"]) == 1  # the tail rides in the root

    # tail reload + full-length semantics
    m3 = Manifest.load(path)
    assert len(m3.files) == n0 + 1
    assert m3.files.tail[0].id == n0

    # vacuum: no crash, shared parts survive, all versions' parts still live
    st = Store(spark, path, m3)
    st.vacuum(retain_versions=1)
    for f in parts_v1:
        assert _os.path.exists(_os.path.join(mdir, f))

    # a big enough tail splits into a NEW part while still reusing old ones
    m4 = Manifest.load(path)
    from shortcut_spark.manifest import MANIFEST_PART_SIZE
    for j in range(MANIFEST_PART_SIZE):
        fid = n0 + 1 + j
        m4.files.append(DataFile(fid, f"data/f{fid}.parquet", 10, fid * 10,
                                 fid * 10 + 9, stats={"k": [fid, fid]}))
    m4.next_file_id = n0 + 1 + MANIFEST_PART_SIZE
    m4.commit(path)
    with open(_os.path.join(mdir, f"v{m4.version}.json")) as fh:
        d4 = _json.load(fh)
    assert len(d4["file_parts"]) == len(parts_v1) + 1
    assert [p["part"] for p in d4["file_parts"][: len(parts_v1)]] == parts_v1
    assert len(d4["files"]) == 1  # newest append is the remainder tail
    assert len(Manifest.load(path).files) == n0 + 1 + MANIFEST_PART_SIZE


def test_write_time_constraints(spark, store_path):
    """not_null and unique constraints reject whole batches atomically
    (nothing committed), survive reopen, exempt NULLs from uniqueness,
    coexist with merge (replacing a key is NOT a violation — victims are
    masked before the append), and block drop_column."""
    import pytest as _pytest

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    st = Store.create(spark, store_path, schema)
    st.add_constraint("k", "unique")
    st.add_constraint("v", "not_null")
    st.insert([(1, "a"), (2, "b")])

    with _pytest.raises(ValueError, match="not_null"):
        st.insert([(3, None)])
    with _pytest.raises(ValueError, match="unique.*inside the batch"):
        st.insert([(4, "x"), (4, "y")])
    with _pytest.raises(ValueError, match="already exists"):
        st.insert([(2, "dup")])
    assert len(st) == 2  # every rejected batch left the table untouched

    # NULL keys are exempt from uniqueness (SQL semantics)
    st.insert([(None, "n1"), (None, "n2")])
    assert len(st) == 4

    # merge on the unique key replaces, never violates
    st.merge([(2, "b2")], on="k")
    assert sorted(r["v"] for r in st.find([eq("k", 2)]).collect()) == ["b2"]

    # persisted: a reopened store still enforces
    st2 = Store.open(spark, store_path)
    with _pytest.raises(ValueError, match="already exists"):
        st2.insert([(1, "again")])

    with _pytest.raises(ValueError, match="carries a constraint"):
        st2.drop_column("v")
    st2.drop_constraint("v", "not_null")
    st2.insert([(9, None)])  # allowed after drop
    with _pytest.raises(ValueError, match="no 'not_null' constraint"):
        st2.drop_constraint("v", "not_null")


def test_merge_rollback_on_rejected_insert(spark, store_path):
    """A merge whose APPEND is rejected (constraint violation) must leave
    the victims alive: the tombstones staged before the insert are rolled
    back, so the NEXT successful commit does not silently delete the rows
    the failed upsert targeted."""
    import pytest as _pytest

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    st = Store.create(spark, store_path, schema)
    st.add_constraint("k", "unique")
    st.insert([(1, "a"), (2, "b"), (3, "c")])

    # merge batch with an internal duplicate key: victims for key 2 are
    # staged, then insert rejects the batch — the staging must unwind
    with _pytest.raises(ValueError, match="unique.*inside the batch"):
        st.merge([(2, "x"), (2, "y")], on="k")
    assert st.manifest.tombstone_rows == 0
    assert st.manifest.tombstones == []

    # the next SUCCESSFUL commit must not carry the stale tombstone:
    # key 2 keeps its original value
    st.insert([(4, "d")])
    got = {r["k"]: r["v"] for r in st.find([]).collect()}
    assert got == {1: "a", 2: "b", 3: "c", 4: "d"}

    # and a clean merge afterwards still works end-to-end
    ins, repl = st.merge([(2, "b2")], on="k")
    assert (ins, repl) == (1, 1)
    assert {r["v"] for r in st.find([eq("k", 2)]).collect()} == {"b2"}


@pytest.mark.parametrize("bounded", [False, True])
def test_empty_batch_merge_commits_its_victims(spark, store_path, bounded):
    """A merge whose batch is empty still deletes its ``extra_victim_keys``
    in one commit (a vector-index refresh whose inserts net out against
    its deletes takes this path), on both insert shapes: an unbounded
    batch takes the tagged path, and a batch whose plan row bound fits
    one file the single-file write, which writes no row."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    st = Store.create(spark, store_path, schema)
    st.insert([(1, "a"), (2, "b"), (3, "c")])
    v = st.manifest.version
    dels = spark.createDataFrame([(2,)], "k long")
    if bounded:
        empty = spark.range(5).filter("id > 10").select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        )
    else:
        empty = spark.createDataFrame([], schema)
    got = st.merge(empty, on="k", extra_victim_keys=dels)
    assert got == (0, 1)
    assert st.manifest.version == v + 1
    reopened = Store.open(spark, store_path)
    assert reopened.manifest.version == v + 1
    assert rows_of(reopened.find([])) == [(1, "a"), (3, "c")]


def test_insert_failure_mid_tail_restores_manifest(spark, store_path):
    """A failure AFTER the batch's files are registered but BEFORE the
    commit must restore the in-memory manifest from disk: otherwise the
    next successful commit durably persists the failed batch's rows —
    and for a merge, its victims' tombstones are rolled back while the
    half-inserted replacement rows stay (a permanent duplicate key)."""
    import pytest as _pytest

    st = Store.create(spark, store_path, 2)
    st.insert([("a", "1"), ("b", "2"), ("c", "3")])

    class Boom(RuntimeError):
        pass

    real_commit = st._commit

    def failing_commit():
        raise Boom("pre-commit failure")  # files already registered

    # plain insert: the failed batch must be fully invisible afterwards
    st._commit = failing_commit
    with _pytest.raises(Boom):
        st.insert([("d", "4")])
    st._commit = real_commit
    st.insert([("e", "5")])
    got = {r[st.colnames[0]] for r in st.find([]).collect()}
    assert got == {"a", "b", "c", "e"}  # no resurrected 'd'
    assert len(st) == 4

    # merge: victims must stay alive AND the replacement must not leak
    st._commit = failing_commit
    with _pytest.raises(Boom):
        st.merge([("b", "B!")], on=0)
    st._commit = real_commit
    assert st.manifest.tombstones == []
    st.insert([("f", "6")])
    vals = {r[st.colnames[0]]: r[st.colnames[1]] for r in st.find([]).collect()}
    assert vals == {"a": "1", "b": "2", "c": "3", "e": "5", "f": "6"}
    # the store is fully functional after recovery: a clean merge works
    assert st.merge([("b", "B2")], on=0) == (1, 1)
    assert {r[st.colnames[1]] for r in st.find([eq(0, "b")]).collect()} == {"B2"}


class _Injected(RuntimeError):
    pass


def _on(act):
    """A mutation site on the test store itself."""
    return lambda st: (st, lambda: act(st))


def _df(st, rows):
    return st.spark.createDataFrame(rows, st.schema)


def _delta(st):
    """A CDC delta for the test store: delete k5, insert a fresh k20."""
    rid = st.find([eq(0, "k5")], with_rowid=True).collect()[0][ROWID]
    return st.spark.createDataFrame(
        [("delete", rid, "k5", "5"), ("insert", 100, "k20", "20")],
        f"change_type string, {ROWID} long, c0 string, c1 string",
    )


def _matview_site(st, state_rows=None):
    """A view over the test store, rewound one version so its refresh
    replays the deferred delete of k1 into the view's state store — on
    the driver, or on Spark with ``state_rows`` (the state's driver
    bound) at 0."""
    from shortcut_spark import MatView

    mv = MatView.create(st.spark, st.path + "_mv", st, ["c0"], [("n", "count", None)])
    mv.base_version -= 1
    if state_rows is not None:
        mv.state.DRIVER_INSERT_ROWS = state_rows
    return mv.state, mv.refresh


def _vector_index_site(st):
    """A vector index over a small corpus that then moves by one insert
    and one delete; the refresh merges both into the index's rows store."""
    from pyspark.sql import types as T

    from shortcut_spark.operators.vector_index import VectorIndex

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    corpus = Store.create(st.spark, st.path + "_corpus", schema)
    corpus.insert([(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)])
    ix = VectorIndex.create(
        st.spark, st.path + "_vx", corpus.find([]), n_clusters=2, iters=1,
        source_version=corpus.manifest.version,
    )
    corpus.insert([(12, [2.0, 1.0, 1.0])])
    corpus.delete([eq("vec_id", 0)])
    return ix.rows, lambda: ix.refresh(corpus)


def _stream_site(st):
    """A one-file stream into the test store; the streaming query wraps
    the error its sink raised."""
    from shortcut_spark.streaming import stream_into_store

    src = st.path + "_src"
    os.makedirs(src)
    pq.write_table(pa.table({"c0": ["k20"], "c1": ["20"]}), os.path.join(src, "p.parquet"))

    def act():
        try:
            stream_into_store(st.spark, src, st)
        except Exception as e:
            if isinstance(e, _Injected) or "injected" not in str(e):
                raise
            raise _Injected(str(e)) from e

    return st, act


def _executor_build_site(st):
    """A DataFrame insert whose hash index is built in the executors
    (``POSTING_SHARD_ROWS`` at 0), with the build task failing after it
    wrote its part file: the written shard stays an orphan that no probe
    lists."""
    from shortcut_spark import store as store_mod

    st.POSTING_SHARD_ROWS = 0
    real = store_mod._index_task
    parts = st._abs("idx/c0")

    def act():
        def failing(batches, plans, dirs):
            yield from real(batches, plans, dirs)
            raise RuntimeError("injected")

        before = set(os.listdir(parts))
        store_mod._index_task = failing
        try:
            st.insert(_df(st, [("k20", "20")]))
        except Exception as e:
            if "injected" not in str(e):
                raise
            (orphan,) = set(os.listdir(parts)) - before
            assert any(n.endswith(".parquet") for n in os.listdir(os.path.join(parts, orphan)))
            raise _Injected(str(e)) from e
        finally:
            store_mod._index_task = real

    return st, act


# (id, the handle attribute the failure is injected at, or None where the
# site injects its own, site, also on the Spark path)
_TXN_SITES = [
    ("cow_delete", "_index_files", _on(lambda st: st.delete([eq(0, "k5")])), True),
    ("cow_register", "_register_files", _on(lambda st: st.delete([eq(0, "k5")])), True),
    ("deferred_delete", "_commit", _on(lambda st: st.delete([eq(0, "k5")], defer=True)), True),
    ("compact", "_index_files", _on(lambda st: st.compact(target_files=1)), False),
    ("cow_delete_commit", "_commit", _on(lambda st: st.delete([eq(0, "k5")])), True),
    ("compact_commit", "_commit", _on(lambda st: st.compact(target_files=1)), False),
    ("insert", "_commit", _on(lambda st: st.insert([("k20", "20")])), True),
    ("insert_df", "_commit", _on(lambda st: st.insert(_df(st, [("k20", "20")]))), False),
    (
        "insert_micro", "_commit",
        _on(lambda st: st.insert(st._literal_frame([("k20", "20")]))), False,
    ),
    ("merge", "_commit", _on(lambda st: st.merge([("k5", "x"), ("k20", "20")], on=0)), True),
    (
        "merge_empty_batch", "_commit",
        _on(lambda st: st.merge(_df(st, []), on=0, extra_victim_keys=_df(st, [("k5", "")]))),
        False,
    ),
    ("apply_changes", "_commit", _on(lambda st: st.apply_changes(_delta(st))), True),
    ("index", "_commit", _on(lambda st: st.index(1, "hash")), False),
    ("drop_index", "_commit", _on(lambda st: st.drop_index(0)), False),
    ("add_column", "_commit", _on(lambda st: st.add_column("c2", "string")), False),
    ("drop_column", "_commit", _on(lambda st: st.drop_column("c1")), False),
    ("restore", "_commit", _on(lambda st: st.restore(st.manifest.version - 1)), False),
    ("tag", "_commit", _on(lambda st: st.tag("t")), False),
    ("add_constraint", "_commit", _on(lambda st: st.add_constraint(1, "not_null")), False),
    ("drop_constraint", "_commit", _on(lambda st: st.drop_constraint(0, "not_null")), False),
    ("matview_refresh", "_commit", _matview_site, False),
    ("matview_refresh_spark", "_commit", lambda st: _matview_site(st, 0), False),
    ("vector_index_refresh", "_commit", _vector_index_site, False),
    ("stream_epoch", "_commit", _stream_site, False),
    ("stream_epoch_rejected", "_enforce_constraints", _stream_site, False),
    ("index_build_executors", None, _executor_build_site, False),
]


def _sans_commit(d):
    """A manifest's JSON without what every commit changes and without
    the tag the test commits after the failure."""
    props = {k: v for k, v in d["props"].items() if k != "tag:after"}
    return dict(d, version=None, committed_at=None, cdf_deletes=None, props=props)


@pytest.mark.parametrize(
    "inject,site,bound",
    [
        pytest.param(inject, site, bound, id=name + ("_spark" if bound == 0 else ""))
        for name, inject, site, spark_too in _TXN_SITES
        for bound in ((None, 0) if spark_too else (None,))
    ],
)
def test_delete_and_compact_failure_restores_manifest(
    spark, store_path, monkeypatch, inject, site, bound
):
    """Every mutation that fails before its commit leaves its handle as it
    was: the on-disk manifest is untouched, the handle's manifest is the
    on-disk one, and a later commit on the same handle does not carry the
    failed write. The Store's writes run on the driver path and, with
    ``DRIVER_INSERT_ROWS`` at 0, on the Spark path; a view refresh, a
    vector-index refresh and a stream epoch fail the commit of the Store
    they stage a prop on, and a stream epoch also fails in the batch's
    constraint check, before its insert stages anything. An index build
    in the executors fails inside its task, after the task wrote."""
    from shortcut_spark.manifest import Manifest

    st = Store.create(spark, store_path, 2)
    if bound is not None:
        st.DRIVER_INSERT_ROWS = bound
    st.index(0, "hash")
    st.add_constraint(0, "not_null")
    for lo in (0, 5):
        st.insert([(f"k{i}", str(i)) for i in range(lo, lo + 5)])
    st.delete([eq(0, "k1")], defer=True)  # a live tombstone set
    files = {f.path for f in st.manifest.files}
    handle, act = site(st)
    on_disk = Manifest.load(handle.path).to_json()

    def boom(*args, **kwargs):
        raise _Injected("injected")

    with monkeypatch.context() as m, pytest.raises(_Injected):
        if inject:
            m.setattr(handle, inject, boom)
        act()
    assert Manifest.load(handle.path).to_json() == on_disk
    assert handle.manifest.to_json() == on_disk
    handle.tag("after")
    assert _sans_commit(Manifest.load(handle.path).to_json()) == _sans_commit(on_disk)
    assert len(st) == len(Store.open(spark, store_path)) == 9
    st.insert([("k10", "10")])
    reopened = Store.open(spark, store_path)
    assert len(reopened) == 10
    assert files < {f.path for f in reopened.manifest.files}
    assert reopened.manifest.tombstone_rows == 1
    assert rows_of(reopened.find([eq(0, "k5")])) == [("k5", "5")]
    assert {r[0] for r in reopened.find([]).collect()} == {
        f"k{i}" for i in range(11) if i != 1
    }


def test_insert_failure_on_pinned_handle_keeps_snapshot(spark, store_path):
    """A failed write on a handle opened at an OLDER snapshot must
    restore that snapshot, not fast-forward to CURRENT: _restore_manifest
    _from_disk is version-pinned to the pre-failure version, so reads on
    the same handle see the same data before and after the failed write
    (r7 advice: loading CURRENT unconditionally silently moved pinned
    handles to the newest committed version)."""
    import pytest as _pytest

    st = Store.create(spark, store_path, 2)
    st.insert([("a", "1")])  # v1
    v_old = st.manifest.version
    st.insert([("b", "2")])  # v2 — CURRENT is now newer than v_old

    pinned = Store.open(spark, store_path, version=v_old)
    before = {r[pinned.colnames[0]] for r in pinned.find([]).collect()}
    assert before == {"a"}

    class Boom(RuntimeError):
        pass

    real_commit = pinned._commit
    pinned._commit = lambda: (_ for _ in ()).throw(Boom("pre-commit"))
    with _pytest.raises(Boom):
        pinned.insert([("c", "3")])
    pinned._commit = real_commit

    # the pinned handle still reads its snapshot — not CURRENT, and no 'c'
    after = {r[pinned.colnames[0]] for r in pinned.find([]).collect()}
    assert after == {"a"}
    assert pinned.manifest.version == v_old
    # the head of the table is untouched
    head = Store.open(spark, store_path)
    assert {r[head.colnames[0]] for r in head.find([]).collect()} == {"a", "b"}


def test_insert_failure_on_vacuumed_pin_surfaces_original_error(spark, store_path):
    """If the pinned v{N}.json was vacuumed after the handle opened, the
    restore after a failed write falls back to CURRENT instead of letting
    FileNotFoundError mask the original write error (r8 ADVICE). The
    handle fast-forwards in that narrow race — the state a reopen would
    see — and stays usable."""
    import os as _os

    import pytest as _pytest

    st = Store.create(spark, store_path, 2)
    st.insert([("a", "1")])  # v_old
    v_old = st.manifest.version
    st.insert([("b", "2")])  # CURRENT moves past v_old

    pinned = Store.open(spark, store_path, version=v_old)
    # simulate a vacuum racing the pinned handle: its snapshot file goes away
    _os.remove(_os.path.join(store_path, "_manifests", f"v{v_old}.json"))

    class Boom(RuntimeError):
        pass

    real_commit = pinned._commit
    pinned._commit = lambda: (_ for _ in ()).throw(Boom("pre-commit"))
    with _pytest.raises(Boom):  # Boom, NOT FileNotFoundError
        pinned.insert([("c", "3")])
    pinned._commit = real_commit

    # fallback loaded CURRENT; no half-inserted 'c' and the handle works
    got = {r[pinned.colnames[0]] for r in pinned.find([]).collect()}
    assert got == {"a", "b"}
    pinned.insert([("d", "4")])
    assert {r[pinned.colnames[0]] for r in pinned.find([]).collect()} == {"a", "b", "d"}


def test_merge_no_rollback_after_commit(spark, store_path):
    """A failure that lands AFTER insert's commit (e.g. an interrupt in
    post-commit cache eviction) must NOT trigger the tombstone rollback:
    the on-disk manifest already references the staged tombstone file,
    and deleting it would corrupt every subsequent read. The merge is
    durable; only the in-flight session sees the exception."""
    import pytest as _pytest

    st = Store.create(spark, store_path, 2)
    st.insert([("a", "1"), ("b", "2"), ("c", "3")])

    class Boom(RuntimeError):
        pass

    real_commit = st._commit

    def exploding_commit():
        real_commit()  # the manifest lands on disk first
        raise Boom("post-commit interrupt")

    st._commit = exploding_commit
    with _pytest.raises(Boom):
        st.merge([("b", "B2")], on=0)
    st._commit = real_commit

    # the merge IS committed: a fresh open sees the upserted row exactly
    # once, and reads do not crash on a missing tombstone file
    st2 = Store.open(spark, store_path)
    got = {r[st2.colnames[0]]: r[st2.colnames[1]] for r in st2.find([]).collect()}
    assert got == {"a": "1", "b": "B2", "c": "3"}
    assert len(st2) == 3


def test_block_sample_system_semantics(spark, store_path):
    """Deterministic file-granular sample: same (fraction, seed) → same
    rows; fraction 0/1 edges; whole files sampled together; tombstoned
    rows stay invisible; realized fraction is in a sane band for
    near-uniform files."""
    st = Store.create(spark, store_path, 2)
    for b in range(10):
        st.insert([(f"b{b}", str(i)) for i in range(20)])
    assert st.sample(0.0).count() == 0
    assert st.sample(1.0).count() == 200
    s1 = rows_of(st.sample(0.5, seed=7))
    s2 = rows_of(st.sample(0.5, seed=7))
    assert s1 == s2  # deterministic
    # the per-file coin hashes (seed, path) and data file names carry a
    # per-run uuid, so any SINGLE seed's draw is a fresh 10-coin toss per
    # test run — a fixed-seed band assertion flakes at ~0.2% (it did).
    # Assert the statistics over a seed sweep instead: every seed samples
    # whole files, some seed picks a strict subset, the average realized
    # fraction sits in a sane band, and seeds disagree somewhere.
    sizes = []
    picks = set()
    for seed in range(12):
        rows = rows_of(st.sample(0.5, seed=seed))
        per_batch = {}
        for c0, _c1 in rows:
            per_batch[c0] = per_batch.get(c0, 0) + 1
        # whole files together: each batch's 20 rows are all-in or all-out
        assert all(v == 20 for v in per_batch.values())
        sizes.append(len(per_batch))
        picks.add(frozenset(per_batch))
    assert any(1 <= n <= 9 for n in sizes)  # a strict subset exists
    assert 2.0 <= sum(sizes) / len(sizes) <= 8.0  # ~50% of 10 files on average
    assert len(picks) > 1  # the seed moves the pick
    # tombstones respected
    st.delete([eq(0, "b0")], defer=True)
    assert all(r[0] != "b0" for r in st.sample(1.0).collect())


def test_cdc_unknown_version_raises_cleanly(spark, store_path):
    """changes()/diff() on a never-committed or vacuumed version raise an
    explicit ValueError instead of a raw FileNotFoundError from the
    manifest loader (edge-input sweep)."""
    import pytest as _pytest

    st = Store.create(spark, store_path, 2)
    st.insert([("a", "1")])
    for fn in (lambda: st.changes(0), lambda: st.diff(1, 99)):
        with _pytest.raises(ValueError, match="no snapshot v"):
            fn()


def test_merge_null_key_appends_sql_semantics(spark, store_path):
    """A NULL-keyed merge row never matches an existing NULL-keyed row
    (equi-join victims probe, SQL semantics): it appends, replacing
    nothing — pinned so the behavior is a contract, not an accident."""
    st = Store.create(spark, store_path, 2)
    st.insert([(None, "old"), ("k", "v")])
    ins, repl = st.merge([(None, "new")], on=0)
    assert (ins, repl) == (1, 0)
    vals = sorted(r[st.colnames[1]] for r in st.find([]).collect())
    assert vals == ["new", "old", "v"]
    # non-NULL keys still replace
    assert st.merge([("k", "v2")], on=0) == (1, 1)


# -- change data feed (r12) -------------------------------------------------


def _delta_rows(st, v):
    return sorted(tuple(r) for r in st.changes(v).collect())


def test_cdf_fast_path_equals_snapshot_diff(spark, tmp_path):
    """The change-data-feed delete tier serves the SAME delta as the
    snapshot-diff fallback: run a changelogged window (CoW delete +
    deferred delete + compact + insert), capture the CDF-served delta,
    then strip the cdf_deletes records from the on-disk manifests
    (simulating a pre-CDF history) and re-read — byte-identical rows,
    fallback flagged."""
    import json
    import os

    path = str(tmp_path / "cdf_eq")
    st = make(spark, path, ABC + AXB)
    v0 = st.manifest.version
    st.delete([eq(0, "a1")])                 # CoW → changelogged
    st.insert([["n1", "n2"], ["m1", "m2"]])
    st.delete([eq(0, "m1")], defer=True)     # tombstone → changelogged
    st.compact(target_files=2)               # logical no-op → []
    fast = _delta_rows(st, v0)
    assert st.last_changes_used_cdf is True

    mdir = os.path.join(path, "_manifests")
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json") and "-files-" not in name:
            p = os.path.join(mdir, name)
            with open(p) as fh:
                d = json.load(fh)
            d.pop("cdf_deletes", None)
            with open(p, "w") as fh:
                json.dump(d, fh)
    st2 = Store.open(spark, path)
    slow = _delta_rows(st2, v0)
    assert st2.last_changes_used_cdf is False
    assert fast == slow
    # deletes carry original values through the changelog
    assert any(r[0] == "delete" and "a1" in r for r in fast)


def test_cdf_poisoned_by_merge_stays_exact(spark, tmp_path):
    """A merge inside the window (victims not changelogged) forces the
    snapshot-diff fallback — flagged, and the delta is still exact."""
    st = make(spark, str(tmp_path / "cdf_m"), ABC)
    v0 = st.manifest.version
    st.delete([eq(0, "a1")])
    st.merge([("b1", "B2")], on=0)           # replaces b1 → poisons CDF
    ch = st.changes(v0).collect()
    assert st.last_changes_used_cdf is False
    dels = {r[st.colnames[0]] for r in ch if r["change_type"] == "delete"}
    ins = {r[st.colnames[0]] for r in ch if r["change_type"] == "insert"}
    assert dels == {"a1", "b1"} and ins == {"b1"}
    # insert-only merge (no victims) does NOT poison the feed
    st2 = make(spark, str(tmp_path / "cdf_m2"), ABC)
    v0 = st2.manifest.version
    st2.merge([("z1", "z2")], on=0)          # new key → pure append
    assert _delta_rows(st2, v0)              # delta non-empty
    assert st2.last_changes_used_cdf is True


def test_cdf_append_only_window_zero_job_delete_tier(spark, tmp_path):
    """An insert-only window's delete tier resolves driver-side: the
    changes() plan contains no anti-join and the delta is inserts only."""
    st = make(spark, str(tmp_path / "cdf_a"), ABC)
    v0 = st.manifest.version
    st.insert([["n1", "n2"]])
    ch = st.changes(v0)
    assert st.last_changes_used_cdf is True
    assert "delete" not in {r["change_type"] for r in ch.collect()}


def test_cdf_vacuum_retention(spark, tmp_path):
    """vacuum keeps the changelogs of retained versions (their windows
    stay CDF-served) and physically removes unreferenced ones."""
    import glob
    import os

    path = str(tmp_path / "cdf_v")
    st = make(spark, path, ABC + AXB)
    st.delete([eq(0, "a1")])                 # changelog #1
    v_mid = st.manifest.version
    st.delete([eq(0, "b1")])                 # changelog #2
    assert len(glob.glob(os.path.join(path, "cdf", "*", "*.parquet"))) >= 2
    st.vacuum(retain_versions=2)             # keeps v_mid and current
    # the retained window still serves from the feed
    ch = st.changes(v_mid).collect()
    assert st.last_changes_used_cdf is True
    assert {r[st.colnames[0]] for r in ch if r["change_type"] == "delete"} == {"b1"}
    # changelog #1's version fell out of retention → its dir is gone
    st.vacuum(retain_versions=1)
    kept = {
        os.path.basename(os.path.dirname(p))
        for p in glob.glob(os.path.join(path, "cdf", "*", "*.parquet"))
    }
    assert len(kept) <= 1


def test_plan_bounded_insert_is_one_file_in_one_job(spark, tmp_path):
    """A DataFrame batch whose plan row bound fits one file lands as ONE
    data file in ONE job, with the dense-rowid contract of the tagged
    path: rowids are exactly watermark..watermark+n-1, the count is
    right, content matches, and a later insert continues the sequence
    with no gaps. A small batch with no plan row bound (a Python-list
    ``createDataFrame``) still takes the tagged path's two jobs, and a
    literal batch above the driver bound takes the one-file write."""
    st = make(spark, str(tmp_path / "one"), ABC)
    schema = st.manifest.schema
    wm = st.manifest.rowid
    nfiles = len(st.manifest.files)
    names = st.colnames
    batch = spark.createDataFrame(
        pa.table({names[0]: ["m1", "n1"], names[1]: ["m2", "n2"]}), schema=schema
    )
    got, jobs = _jobs(spark, lambda: st.insert(batch))
    assert (got, jobs) == (2, 1)
    assert len(st.manifest.files) == nfiles + 1  # one file, one commit
    rowids = {
        r[ROWID] for r in st.find([], with_rowid=True).collect() if r[names[0]] in ("m1", "n1")
    }
    assert rowids == {wm, wm + 1}  # dense, from the watermark
    assert st.manifest.rowid == wm + 2
    # the tagged path continues the same sequence (no gap, no reuse)
    got, jobs = _jobs(spark, lambda: st.insert(spark.createDataFrame([("o1", "o2")], schema)))
    assert (got, jobs) == (1, 2)
    assert st.manifest.rowid == wm + 3
    # a literal batch above the driver bound reaches Spark as a sized
    # LocalRelation, so it takes the one-file write too
    st.DRIVER_INSERT_ROWS = 0
    got, jobs = _jobs(spark, lambda: st.insert([("p1", "p2")]))
    assert (got, jobs, len(st.manifest.files)) == (1, 1, nfiles + 3)
    # a Python UDF keeps the bound: its eval node emits a row per input row
    from pyspark.sql import functions as F

    tag = F.udf(lambda i: f"q{i}", "string")
    udf_batch = spark.range(2).select(tag("id").alias(names[0]), F.lit("q").alias(names[1]))
    got, jobs = _jobs(spark, lambda: st.insert(udf_batch))
    assert (got, jobs, len(st.manifest.files)) == (2, 1, nfiles + 4)
    assert rows_of(st.find([])) == sorted(
        map(
            tuple,
            ABC + [["m1", "m2"], ["n1", "n2"], ["o1", "o2"], ["p1", "p2"], ["q0", "q"], ["q1", "q"]],
        )
    )


def test_changes_cdf_plan_prunes_empty_branches(spark, tmp_path):
    """A delete-only CDF window's delta must not carry the empty
    appended/resurrected placeholder branches into execution: a bare
    createDataFrame([], schema) is RDD-backed with defaultParallelism
    EMPTY partitions each, while _empty's provably-false filter lets the
    optimizer delete the branch — the delta's partitioning is then just
    the changelog read's."""
    st = make(spark, str(tmp_path / "cdfp"), ABC)
    v0 = st.manifest.version
    st.delete([eq(0, "a1")])
    d = st.changes(v0)
    assert st.last_changes_used_cdf is True
    assert d.rdd.getNumPartitions() <= 4  # not 2 * defaultParallelism + files
    got = [(r["change_type"], r[st.colnames[0]]) for r in d.collect()]
    assert got == [("delete", "a1")]


@pytest.mark.slow
def test_literal_merge_over_the_driver_bound_equals_the_driver_merge(spark, tmp_path):
    """A literal merge above the driver bound (the statically gated view
    refresh of a state the driver may not read) merges an Arrow-built
    ``LocalRelation``, whose insert is the single-file write: it returns
    the driver merge's counts and converges to the same table, in one
    commit, with one new data file and indexes maintained."""
    a = make(spark, str(tmp_path / "md"), AXB, index_col=0)
    b = make(spark, str(tmp_path / "mm"), AXB, index_col=0)
    b.DRIVER_INSERT_ROWS = 0
    batch = [["a", "A_NEW"], ["c", "C1"]]
    ref = a.merge(batch, on=0)
    v0, nfiles = b.manifest.version, len(b.manifest.files)
    assert b.merge(batch, on=0) == ref
    assert b.manifest.version == v0 + 1  # single atomic commit
    assert len(b.manifest.files) == nfiles + 1
    assert rows_of(b.find([])) == rows_of(a.find([]))
    assert rows_of(b.find([eq(0, "a")])) == [("a", "A_NEW")]  # postings see the batch


def test_literal_merge_into_a_store_over_the_driver_bound_equals_the_driver_merge(
    spark, tmp_path
):
    """A literal merge of 1,500 keys into a store the driver may not read
    probes its victims with a semi-join against the batch's
    ``LocalRelation``: it returns the driver merge's counts and leaves its
    rows, for a long and a string key, with keys that replace live rows,
    keys that are new and a NULL key, which matches nothing."""
    from pyspark.sql import types as T

    for ddl, key in (("k long, v string", int), ("k string, v string", str)):
        stores = []
        for name in ("driver", "spark"):
            path = str(tmp_path / f"{name}-{key.__name__}")
            st = Store.create(spark, path, T.StructType.fromDDL(ddl))
            st.insert([(key(i), f"old{i}") for i in range(2_000)])
            stores.append(st)
        a, b = stores
        b.DRIVER_INSERT_ROWS = 0
        batch = [(key(2 * i), f"new{i}") for i in range(1_500)] + [(None, "null")]
        want = (1_501, 1_000)
        assert b.merge(batch, on="k") == a.merge(batch, on="k") == want
        assert sorted(map(repr, b.find([]).collect())) == sorted(map(repr, a.find([]).collect()))


def test_bulk_insert_arithmetic_rowids_are_dense(spark, tmp_path):
    """The exchange-free rowid arithmetic (mid's low bits + per-partition
    offsets) numbers a multi-partition batch densely: its rowids are
    exactly [watermark, watermark + n), one row each, and the next
    insert continues the sequence."""
    import pyspark.sql.functions as F

    src_path = str(tmp_path / "bulk.parquet")
    spark.range(5000).select(
        F.concat(F.lit("k"), (F.col("id") % 997).cast("string")).alias("c0"),
        F.col("id").cast("string").alias("c1"),
    ).repartition(7).write.parquet(src_path)
    src = spark.read.parquet(src_path)

    a = make(spark, str(tmp_path / "arith"), AXB, index_col=0)
    wm = a.manifest.rowid
    assert a.insert(src) == 5000
    got = a.find([], with_rowid=True).filter(F.col(ROWID) >= wm).collect()
    assert sorted(r[ROWID] for r in got) == list(range(wm, wm + 5000))
    assert sorted(r["c1"] for r in got) == sorted(str(i) for i in range(5000))
    assert a.manifest.rowid == wm + 5000  # dense watermark advance
    assert a.insert([("z", "after")]) == 1
    assert rows_of(a.find([eq(0, "z")], with_rowid=True)) == [(wm + 5000, "z", "after")]
    # postings built through the observe()-fused single-job path still
    # serve point lookups
    assert sorted(r["c1"] for r in a.find([eq(0, "k13")]).collect()) == sorted(
        str(i) for i in range(13, 5000, 997)
    )


def test_insert_empty_dataframe_batch_is_free(spark, tmp_path):
    """A zero-row DataFrame batch returns 0 without running the
    distributed tail or bumping the version (the counts pass finds no
    rows)."""
    st = make(spark, str(tmp_path / "e"), AXB, index_col=0)
    v0, wm0 = st.manifest.version, st.manifest.rowid
    src_path = str(tmp_path / "empty.parquet")
    spark.createDataFrame([], "c0 string, c1 string").write.parquet(src_path)
    assert st.insert(spark.read.parquet(src_path)) == 0
    assert st.manifest.version == v0 and st.manifest.rowid == wm0
    assert len(rows_of(st.find([]))) == len(AXB)  # existing rows untouched


def test_insert_counts_failure_restores_aqe(spark, tmp_path):
    """The DataFrame insert turns AQE off for its counts pass; a failure
    inside that pass restores the session's prior value and leaves the
    store as it was."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    st = make(spark, str(tmp_path / "s"), AXB, index_col=0)
    v0 = st.manifest.version

    def boom(_):
        raise ValueError("counts pass failure")

    bad = spark.createDataFrame([(1,), (2,)], "id long").select(
        F.udf(boom, T.StringType())("id").alias("c0"), F.lit("x").alias("c1")
    )
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    with pytest.raises(Exception, match="counts pass failure"):
        st.insert(bad)
    assert spark.conf.get("spark.sql.adaptive.enabled") == prior
    assert st.manifest.version == v0 and len(st) == len(AXB)


def _jobs(spark, fn):
    """(result of ``fn``, Spark jobs it launched), counted by a job tag."""
    with job_tag(spark) as jobs:
        out = fn()
    return out, len(jobs)


def test_literal_merge_into_small_unindexed_store_takes_no_job(spark, tmp_path):
    """A literal merge into a small unindexed store (a view's state) runs
    no job: victims picked in Python with Spark's join equality — a NULL
    key matches nothing, -0.0 matches 0.0 and NaN matches NaN — a pyarrow
    tombstone and the driver insert. It leaves the rows its Spark twin
    (driver bound 0) leaves, a batch whose only key is NULL included."""
    from pyspark.sql import types as T

    nan = float("nan")
    schema = T.StructType.fromDDL("k string, d double, v long")
    out = []
    for bound in (None, 0):
        st = Store.create(spark, str(tmp_path / f"s{bound}"), schema)
        st.insert([("a", 0.0, 1), ("b", nan, 2), (None, 1.0, 3), ("c", 2.0, 4)])
        if bound is not None:
            st.DRIVER_INSERT_ROWS = bound
        got, jobs = _jobs(spark, lambda: st.merge([("c", 5.0, 10), (None, 6.0, 11)], on="k"))
        assert got == (2, 1)
        got2, jobs2 = _jobs(spark, lambda: st.merge([("x", -0.0, 20), ("y", nan, 21)], on="d"))
        assert got2 == (2, 2)
        assert (jobs + jobs2 == 0) == (bound is None), (bound, jobs, jobs2)
        assert st.merge([(None, 7.0, 12)], on="k") == (1, 0)  # no key to match
        out.append(sorted(repr(r) for r in st.find([]).collect()))
    assert out[0] == out[1]
    assert len(out[0]) == 6


def _two_index_store(spark, path, batches=6, per_batch=50):
    """A hash index on ``k`` and a btree on ``v``, ``batches`` literal
    inserts of one file each. Every file spans the whole key range, so
    only the posting index narrows a point find."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("s", T.StringType()),
        ]
    )
    st = Store.create(spark, path, schema)
    st.index("k", "hash")
    st.index("v", "btree")
    for b in range(batches):
        keys = [i * batches + b for i in range(per_batch)]
        st.insert([(k, k / 2, f"s{k % 7}") for k in keys])
    return st


def test_find_many_probes_postings_for_few_keys(spark, tmp_path):
    """``find_many`` prunes as ``find`` does: with more candidate files
    than both four and the keys, the posting probe names the files
    holding the keys. On twenty files that each span the whole key range
    (stats prune nothing), two or five present keys read only the files
    holding them, with no job, and a float zero finds the other zero
    (``is_in`` alone hashes -0.0 apart from 0.0). Keys the driver
    declines, and as many keys as files, keep every file. Rows equal the
    union of per-key finds."""
    st = _two_index_store(spark, str(tmp_path / "s"), batches=20)
    nan = float("nan")
    for column, keys, n_files in (
        ("k", [7, 30], 2),
        ("v", [-0.0, 100.5], 2),
        ("k", [3, 47, 210, 555, 998], 5),
        ("k", [300, 1.5], 20),
        ("v", [nan, 3.5], 20),
        ("k", list(range(20)), 20),
    ):
        assert len(st._stats_candidates(column, keys)) == 20
        assert len(st._key_candidates(column, keys)) == n_files, (column, keys)
        got, jobs = _jobs(spark, lambda: rows_of(st.find_many(column, keys)))
        want = sorted({r for k in keys for r in rows_of(st.find([eq(column, k)]))})
        assert jobs == 0 and got == want and got, (column, keys)


def test_job_count_pins_two_index_store(spark, tmp_path):
    """The job floor of the indexed write and read paths: a literal
    insert maintains both indexes with no job (the driver build sketches
    the keys on the driver and merges them in a zero-job projection); a
    posting probe runs on the driver with no job, and so does the read of
    the few rows it leaves, so a point find, a btree range find, a miss
    the postings rule out and ``explain_find`` take no job; a find whose
    files hold more than ``DRIVER_INSERT_ROWS`` rows is one Spark scan. A
    1-row delete from one small file takes no job with either strategy:
    Spark picks the victim from a driver-read ``LocalRelation`` and
    pyarrow writes the changelog, the tombstone part, the survivors and
    their postings; over a lowered ``DRIVER_INSERT_ROWS`` both deletes run
    Spark jobs. A deferred delete leaves the floors where they were: the
    tombstone set is read on the driver and filters reads with no
    broadcast job."""
    st = _two_index_store(spark, str(tmp_path / "s"))
    n, jobs = _jobs(spark, lambda: st.insert([(10_000 + i, 1.5 * i, "m") for i in range(100)]))
    assert n == 100 and jobs == 0
    explain, jobs = _jobs(spark, lambda: st.explain_find([eq("k", 7)]))
    assert "IndexLookup" in explain and jobs == 0
    rows, jobs = _jobs(spark, lambda: st.find([eq("k", 7)]).collect())
    assert [r["k"] for r in rows] == [7] and jobs == 0
    rows, jobs = _jobs(spark, lambda: st.find([between("v", 10, 12)]).collect())
    assert sorted(r["k"] for r in rows) == [20, 21, 22, 23, 24, 10_007, 10_008] and jobs == 0
    # the six files whose s range holds "s3" hold 300 rows: the Spark scan
    st.DRIVER_INSERT_ROWS = 299
    rows, jobs = _jobs(spark, lambda: st.find([eq("s", "s3")]).collect())
    assert len(rows) == 43 and jobs == 1
    rows, jobs = _jobs(spark, lambda: st.find([eq("k", 7)]).collect())
    assert [r["k"] for r in rows] == [7] and jobs == 0  # one 50-row file
    del st.DRIVER_INSERT_ROWS
    n, jobs = _jobs(spark, lambda: st.delete([eq("k", 8)]))
    assert n == 1 and jobs == 0
    # k=8 lies inside every file's key range: only the postings rule it out
    rows, jobs = _jobs(spark, lambda: st.find([eq("k", 8)]).collect())
    assert rows == [] and jobs == 0
    assert rows_of(st.find([eq("k", 9)])) == [(9, 4.5, "s2")]
    # after a deferred delete (k=13 lives in the file of batch 1)
    n, jobs = _jobs(spark, lambda: st.delete([eq("k", 13)], defer=True))
    assert n == 1 and jobs == 0
    rows, jobs = _jobs(spark, lambda: st.find([eq("k", 7)]).collect())
    assert [r["k"] for r in rows] == [7] and jobs == 0
    assert st.find([eq("k", 13)]).count() == 0
    n, jobs = _jobs(spark, lambda: st.delete([eq("k", 14)]))
    assert n == 1 and jobs == 0
    assert st.manifest.tombstone_rows == 1 and len(st) == 397
    assert st.find([eq("k", 13)]).count() == 0
    # one 50-row candidate file over a bound of 49: the Spark path
    st.DRIVER_INSERT_ROWS = 49
    for k, defer in ((15, False), (16, True)):
        n, jobs = _jobs(spark, lambda: st.delete([eq("k", k)], defer=defer))
        assert n == 1 and jobs >= 1, defer
    del st.DRIVER_INSERT_ROWS
    assert st.manifest.tombstone_rows == 2 and len(st) == 395
    assert st.find([eq("k", 15)]).count() == st.find([eq("k", 16)]).count() == 0


def test_spark_writes_take_no_index_job_with_any_index_set(spark, tmp_path):
    """A 30,000-row DataFrame insert runs two Spark jobs — the counts
    pass, which also takes the cluster key's quantiles, and the write —
    with no index or with one, two or four indexes (hash, btree,
    composite, bloom): the range split needs no sampler job, the write
    observes every index's key sketch, and the postings and bitsets are
    built on the driver from a pyarrow read of the written index columns.
    A 100-row ``spark.range`` insert, whose plan row bound fits one file,
    runs one job, and ``compact`` as many jobs as on the unindexed store.
    Each ndv
    is within HLL error of the exact distinct count: a fresh index's
    sketch is the union of the write tasks' sketches, whose estimator
    differs from a one-task sketch's."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def frame(lo, hi, parts):
        i = F.col("id")
        return spark.range(lo, hi, numPartitions=parts).select(
            (i * 7 % 20_011).alias("k"),
            (i / 8).alias("v"),
            F.concat(F.lit("g"), (i % 50).cast("string")).alias("g"),
            (i % 1_000).alias("u"),
        )

    index_sets = (
        [],
        [("k", "hash")],
        [("k", "hash"), ("v", "btree")],
        [("k", "hash"), ("v", "btree"), (("g", "u"), "hash"), ("u", "bloom")],
    )
    floors = []
    for n, indexes in enumerate(index_sets):
        schema = T.StructType.fromDDL("k long, v double, g string, u long")
        st = Store.create(spark, str(tmp_path / f"s{n}"), schema)
        st.ROWS_PER_FILE = 7_500  # four files: an indexed batch is range-split
        for column, kind in indexes:
            st.index(column, kind)
        got, jobs = _jobs(spark, lambda: st.insert(frame(0, 30_000, 4)))
        assert got == 30_000 and jobs == 2, (indexes, jobs)
        got, jobs = _jobs(spark, lambda: st.insert(frame(30_000, 30_100, 1)))
        assert got == 100 and jobs == 1, (indexes, jobs)
        _, compact = _jobs(spark, lambda: st.compact(target_files=2))
        floors.append(compact)
        for spec in st.manifest.indices.values():
            exact = st.find([]).select(*spec.member_columns).distinct().count()
            assert spec.parts and abs(spec.ndv - exact) <= exact / 20, (spec.column, exact)
    assert floors == [floors[0]] * len(index_sets), floors


def _spark_order(v):
    """A Python sort key in Spark's ascending order: NULL first, -0.0
    equal to 0.0, NaN above every double, strings by UTF-8 bytes, and
    tuples column by column."""
    if isinstance(v, tuple):
        return tuple(_spark_order(x) for x in v)
    if v is None:
        return (0, 0)
    if isinstance(v, float) and v != v:
        return (2, 0)
    if isinstance(v, str):
        return (1, v.encode())
    return (1, v)


def _batch_files(st, cols):
    """The last batch's data files as (rows, sorted distinct cluster keys),
    read with pyarrow."""
    rel = st.manifest.files[-1].path.rsplit("/", 1)[0]
    out = []
    for f in st.manifest.files:
        if f.path.rsplit("/", 1)[0] != rel:
            continue
        t = pq.read_table(st._abs(f.path), columns=list(cols)).to_pydict()
        keys = list(zip(*(t[c] for c in cols))) if len(cols) > 1 else t[cols[0]]
        keys = [tuple(k) if isinstance(k, list) else k for k in keys]
        out.append((f.rows, sorted(set(keys), key=_spark_order)))
    return out


# lead column cases of the range split: name -> (key expression over id,
# index kind, the insert's Spark jobs). A proxy value shared by many keys
# (half the strings start with the 7 bytes 'shared-'; the composite key's
# lead has 3 values) takes the sampler's job; an array key is hash-split
_LEADS = {
    "long": ("xxhash64(id) % 1000003", "btree", 2),
    "double": (
        "CASE WHEN id % 97 = 0 THEN double('NaN') WHEN id % 89 = 0 THEN -0.0D "
        "WHEN id % 83 = 0 THEN 0.0D WHEN id % 79 = 0 THEN NULL ELSE rand(3) * 100 END",
        "btree",
        2,
    ),
    "string": (
        "CASE WHEN id % 2 = 0 THEN concat('shared-', sha2(cast(id AS string), 256)) "
        "ELSE concat(substr('üéabc€xyz', 1 + id % 6, 3), sha2(cast(id AS string), 256)) END",
        "btree",
        3,
    ),
    "string_light_ties": (
        "concat(substr('üéabc€xyz', 1 + id % 6, 3), sha2(cast(id AS string), 256))",
        "btree",
        2,
    ),
    "decimal": ("cast(rand(5) * 1000000 AS decimal(18, 3))", "btree", 2),
    "date": ("date_add(DATE'2000-01-01', cast(id % 5000 AS int))", "btree", 2),
    "timestamp": ("timestamp_micros(xxhash64(id) % 100000000000000)", "btree", 2),
    "timestamp_ntz": (
        "to_timestamp_ntz(timestamp_micros(xxhash64(id) % 100000000000000))",
        "btree",
        2,
    ),
    "binary": ("unhex(sha2(cast(id AS string), 256))", "btree", 2),
    "boolean": ("id % 3 = 0", "btree", 2),
    "all_equal": ("5L", "btree", 2),
    "composite": ("concat('g', cast(id % 3 AS string))", "composite", 3),
    "array": ("array(cast(id % 500 AS int), cast(id % 7 AS int))", "hash", 2),
}


@pytest.mark.parametrize("lead", sorted(_LEADS))
def test_range_split_layout_by_lead_type(spark, tmp_path, lead):
    """A 12,000-row DataFrame insert at 3,000 rows a file runs two Spark
    jobs (the counts pass, which also takes the cluster key's quantiles,
    and the write) for every lead column type whose proxy values are
    light, and three where a proxy value shared by many keys takes the
    range sampler (a string prefix, a composite key's lead). Each key sits in exactly one file,
    and the files are key-disjoint in Spark's cluster order, NULL, ±0.0,
    NaN, shared string prefixes and composite tuples included (an array
    key is hash-split: it has no order). A file holds 3,000 rows within
    10%, or within 20% where the sampler cut it, unless the batch has
    fewer distinct keys than files (boolean, all-equal), where each key
    is one file. Point, multi-key and range finds return the rows the
    batch holds."""
    from pyspark.sql import functions as F

    expr, kind, want_jobs = _LEADS[lead]
    src = spark.range(0, 12_000, numPartitions=4).select(F.expr(expr).alias("key"), "id")
    st = Store.create(spark, str(tmp_path / "s"), src.schema)
    st.ROWS_PER_FILE = 3_000
    cols = ["key", "id"] if kind == "composite" else ["key"]
    st.index(tuple(cols) if kind == "composite" else "key", "hash" if kind != "btree" else "btree")
    n, jobs = _jobs(spark, lambda: st.insert(src))
    assert n == 12_000 and jobs == want_jobs, jobs

    files = _batch_files(st, cols)
    owner = {}
    for i, (_, keys) in enumerate(files):
        for k in keys:
            assert owner.setdefault(_spark_order(k), i) == i, (k, owner[_spark_order(k)], i)
    rows = [r for r, _ in files]
    distinct = len(owner)
    if distinct >= 4 * len(rows):
        slack = 600 if want_jobs == 3 and lead != "array" else 300
        assert len(rows) == 4 and all(abs(r - 3_000) <= slack for r in rows), rows
    else:
        assert len(rows) <= distinct, (rows, distinct)
    if lead != "array":
        spans = sorted((_spark_order(k[0]), _spark_order(k[-1])) for _, k in files)
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi < lo, (hi, lo)

    if lead == "array":
        return  # no equality probe on an array literal
    rows_by_id = {r["id"]: r for r in src.collect()}
    probe = [rows_by_id[i][cols[0]] for i in (1, 4_001, 11_998)]
    if lead in ("double",):
        probe = [v for v in probe if v is not None and v == v]
    for v in probe:
        want = sorted(i for i, r in rows_by_id.items() if r[cols[0]] == v)
        got = sorted(r["id"] for r in st.find([eq(cols[0], v)]).collect())
        assert got == want, (v, got[:5], want[:5])
    got = sorted(r["id"] for r in st.find_many(cols[0], probe).collect())
    assert got == sorted(i for i, r in rows_by_id.items() if r[cols[0]] in probe)
    if kind == "btree" and lead not in ("boolean", "all_equal"):
        lo, hi = sorted(probe, key=_spark_order)[:2]
        got = sorted(r["id"] for r in st.find([between(cols[0], lo, hi)]).collect())
        want = sorted(
            i
            for i, r in rows_by_id.items()
            if r[cols[0]] is not None
            and _spark_order(lo) <= _spark_order(r[cols[0]]) <= _spark_order(hi)
        )
        assert got == want, (lo, hi, len(got), len(want))


def _split_bounds_loop(cand, n_null, n_parts, keyed, tie=1 / 8):
    """The reference of ``_split_bounds``, one proxy value at a time:
    ``cand`` is ``(value, rows)`` pairs."""
    import itertools

    step = (n_null + sum(w for _, w in cand)) / n_parts
    if step <= 0:
        return 0, []
    runs, cum = [], n_null
    for v, same in itertools.groupby(sorted(cand), key=lambda t: t[0]):
        w = sum(x for _, x in same)
        p = min(n_parts - 1, int((cum + w / 2) // step))
        if not (keyed and abs(v) < 2.0**52):
            j = int(cum // step) + 1  # the targets strictly inside this value
            while j < n_parts and j * step < cum + w:
                if (j * step - cum if p >= j else cum + w - j * step) > step * tie:
                    return None
                j += 1
        if runs and runs[-1][1] == p:
            runs[-1][0] = v
        else:
            runs.append([v, p])
        cum += w
    return min(n_parts - 1, int(n_null / 2 // step)), runs


def test_split_bounds_keeps_each_proxy_value_in_one_partition():
    """``_split_bounds`` puts each proxy value whole in the partition of
    its rows' midpoint. A value that is one key stays whole however heavy
    (the other partitions it spans stay empty); a value that may hold
    several keys declines (None: the sampler) once it would move a target
    by more than 1/8 of a file; NULL takes its own midpoint's partition.
    The vectorized split equals a loop over the values on random weighted
    inputs with ties."""
    import random

    from shortcut_spark.store import _split_bounds

    def split(cand, n_null, n_parts, keyed):
        got = _split_bounds([v for v, _ in cand], [w for _, w in cand], n_null, n_parts, keyed)
        assert got == _split_bounds_loop(cand, n_null, n_parts, keyed), (cand, n_null, n_parts)
        return got

    even = [(float(v), 1.0) for v in range(100)]
    assert split(even, 0, 4, True) == (0, [[24.0, 0], [49.0, 1], [74.0, 2], [99.0, 3]])
    # 50 rows at 10.0 over targets 25 and 50: one key, one partition
    heavy = even[:10] + [(10.0, 50.0)] + even[60:]
    assert split(heavy, 0, 4, True) == (0, [[9.0, 0], [10.0, 1], [74.0, 2], [99.0, 3]])
    assert split(heavy, 0, 4, False) is None
    # a 3-row tie straddling a 25-row target moves it by 1 row: kept whole
    light = even[:24] + [(24.0, 3.0)] + even[27:]
    assert split(light, 0, 4, False) == (0, [[23.0, 0], [49.0, 1], [74.0, 2], [99.0, 3]])
    # 2^52 and up is not one key even where the type's proxy is
    assert split([(2.0**53, 50.0)] + even[50:], 0, 4, True) is None
    assert split(even[:50], 50, 4, True) == (1, [[24.0, 2], [49.0, 3]])
    assert split([], 7, 3, True) == (1, [])
    rng = random.Random(5)
    for _ in range(300):
        n = rng.randrange(1, 60)
        cand = [(float(rng.randrange(-20, 20)), rng.choice((0.5, 1.0, 3.0, 9.0))) for _ in range(n)]
        split(cand, rng.choice((0, 0, 2.0, 11.0)), rng.randrange(1, 9), rng.random() < 0.5)


def test_range_split_takes_no_quantiles_for_a_batch_its_row_bound_puts_in_one_file(
    spark, tmp_path, monkeypatch
):
    """A write whose plan bounds its rows (``_row_bound``) to one file
    takes no quantiles: an insert takes the one-job single-file write,
    with no counts pass and no split, and a distributed ``apply_changes``
    of a bounded delta, a loaded cache or an uncached plan, keeps the
    plain generated count in its stats aggregate. A bounded
    multi-file batch and an unbounded source (a parquet read, which may
    hold any number of rows) take them."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import shortcut_spark.store as store_mod

    taken = []
    init = store_mod._RangeSplit.__init__

    def spy(self, schema, cols, quantiles=True):
        init(self, schema, cols, quantiles)
        taken.append(self.quantiles)

    monkeypatch.setattr(store_mod._RangeSplit, "__init__", spy)
    st = Store.create(spark, str(tmp_path / "s"), T.StructType.fromDDL("v double, id long"))
    st.ROWS_PER_FILE = 7_500
    st.index("v", "btree")

    def frame(n):
        return spark.range(0, n, numPartitions=4).select((F.rand(3) * 10).alias("v"), "id")

    assert _jobs(spark, lambda: st.insert(frame(1_000))) == (1_000, 1)
    assert st.insert(frame(30_000)) == 30_000
    frame(1_000).write.parquet(str(tmp_path / "src"))
    assert st.insert(spark.read.parquet(str(tmp_path / "src"))) == 1_000
    st.DRIVER_INSERT_ROWS = 0

    def delta():
        wm = st.manifest.rowid
        return spark.range(wm, wm + 1_000).select(
            F.lit("insert").alias("change_type"), F.col("id").alias(ROWID), F.lit(1.0).alias("v"), "id"
        )

    cached = delta()
    cached.cache().count()  # a loaded cache holds its row count
    assert st.apply_changes(cached) == (1_000, 0)
    cached.unpersist()
    assert st.apply_changes(delta()) == (1_000, 0)  # read before apply_changes persists it
    assert taken == [True, True, False, False], taken


def test_range_split_gives_a_300_file_batch_its_file_count(spark, tmp_path):
    """30,000 rows at 100 rows a file make 300 files: four write tasks'
    1,024-point quantile grids place a candidate bound every ~7 rows, so
    every one of the 299 bounds lands, and each file holds 100 rows within
    half (a task's KLL sketch ranks its 7,500 rows to about 1/1,000). The
    files are key-disjoint and the insert runs 2 jobs."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    st = Store.create(spark, str(tmp_path / "s"), T.StructType.fromDDL("v double, id long"))
    st.ROWS_PER_FILE = 100
    st.index("v", "btree")
    src = spark.range(0, 30_000, numPartitions=4).select(
        (F.rand(11) * 1e6).alias("v"), F.col("id")
    )
    n, jobs = _jobs(spark, lambda: st.insert(src))
    assert n == 30_000 and jobs == 2, jobs
    files = _batch_files(st, ["v"])
    rows = [r for r, _ in files]
    assert len(rows) == 300 and all(50 <= r <= 150 for r in rows), (len(rows), min(rows), max(rows))
    spans = sorted((k[0], k[-1]) for _, k in files)
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:]))



def test_range_split_keeps_its_files_under_aqe(spark, tmp_path):
    """A batch above ``STATIC_INSERT_ROWS`` writes with AQE on. Its range
    split is a repartition by number, which AQE does not coalesce: with
    the bound lowered to 0, a 12,000-row batch at 3,000 rows a file still
    writes 4 key-disjoint files of 3,000 rows within 10%, where coalescing
    to the 64 MB advisory size would have made one."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from shortcut_spark.session import scoped_confs

    st = Store.create(spark, str(tmp_path / "s"), T.StructType.fromDDL("v double, id long"))
    st.ROWS_PER_FILE = 3_000
    st.STATIC_INSERT_ROWS = 0
    st.index("v", "btree")
    src = spark.range(0, 12_000, numPartitions=4).select((F.rand(13) * 50).alias("v"), "id")
    aqe = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
    }
    with scoped_confs(spark, aqe):
        assert st.insert(src) == 12_000
    files = _batch_files(st, ["v"])
    assert len(files) == 4 and all(abs(r - 3_000) <= 300 for r, _ in files), files
    spans = sorted((k[0], k[-1]) for _, k in files)
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:]))

def test_range_split_pins_for_sharded_postings_cdc_apply_and_compact(spark, tmp_path):
    """No range sampler on the other Store write paths. A posting build
    above one shard runs in the executors: a 300-row DataFrame insert at
    50 posting rows a shard runs 2 jobs (the one-file write its plan row
    bound picks, and the build, whose one task writes the part's one
    shard, sorted by key). A distributed ``apply_changes`` of 12,000 rows at 3,000 rows a
    file takes its quantiles in its stats aggregate and writes 4
    key-disjoint files in 6 jobs under the session's AQE, where every
    exchange is a job of its own (7 with the range sampler). ``compact``
    cuts its rowid bounds from the manifest: 2 jobs (3 with the sampler)
    for 3 files of 4,000 rows within 2%."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL("k long, v double")
    st = Store.create(spark, str(tmp_path / "p"), schema)
    st.index("k", "hash")
    st.POSTING_SHARD_ROWS = 50
    src = spark.range(0, 300, numPartitions=2).select(
        (F.col("id") * 7 % 1009).alias("k"), (F.col("id") / 3).alias("v")
    )
    n, jobs = _jobs(spark, lambda: st.insert(src))
    assert n == 300 and jobs == 2, jobs
    spec = st.manifest.indices["k"]
    (shard,) = st._posting_files(spec.parts)
    keys = pq.read_table(shard).column("key").to_pylist()
    assert keys == sorted(keys) and len(keys) == 300
    assert spec.part_stats[spec.parts[-1]] == [min(keys), max(keys)]

    fol = Store.create(spark, str(tmp_path / "f"), schema)
    fol.index("v", "btree")
    fol.ROWS_PER_FILE = 3_000
    fol.DRIVER_INSERT_ROWS = 0
    delta = spark.range(0, 12_000, numPartitions=4).select(
        F.lit("insert").alias("change_type"),
        F.col("id").alias(ROWID),
        F.col("id").alias("k"),
        (F.rand(2) * 10).alias("v"),
    )
    got, jobs = _jobs(spark, lambda: fol.apply_changes(delta))
    assert got == (12_000, 0) and jobs == 6, (got, jobs)
    files = _batch_files(fol, ["v"])
    assert len(files) == 4 and all(abs(r - 3_000) <= 300 for r, _ in files), files
    spans = sorted((k[0], k[-1]) for _, k in files)
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:]))

    _, jobs = _jobs(spark, lambda: fol.compact(target_files=3))
    rows = [f.rows for f in fol.manifest.files]
    assert jobs == 2 and len(rows) == 3 and all(abs(r - 4_000) <= 80 for r in rows), (jobs, rows)
    assert sorted(r[0] for r in fol.find([], with_rowid=True).select(ROWID).collect()) == list(
        range(12_000)
    )

def test_compact_splits_live_rows_after_a_deferred_range_delete(spark, tmp_path):
    """``compact`` cuts its rowid bounds from the live rows: a deferred
    delete of the lower half of the rowids takes that half's share out of
    the manifest's spans (the tombstone footers' rowid ranges and counts),
    so ``compact(target_files=4)`` writes 4 files of 1,500 live rows
    within 2%, not 2 files of 3,000 over the surviving half, in 3 jobs
    (4 with the range sampler, whose files held 1,413–1,608 rows)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    st = Store.create(spark, str(tmp_path / "s"), T.StructType.fromDDL("id long, v double"))
    st.ROWS_PER_FILE = 3_000
    st.index("v", "btree")
    src = spark.range(0, 12_000, numPartitions=4).select("id", (F.rand(4) * 100).alias("v"))
    assert st.insert(src) == 12_000
    assert st.delete([between("id", 0, 5_999)], defer=True) == 6_000
    assert st.manifest.tombstone_rows == 6_000
    # the bins read the live rowids 6,000..11,999 off the footers alone
    rowids, rows = st._live_rowid_bins(4)
    assert abs(rows.sum() - 6_000) <= 60, rows.sum()
    assert rows[rowids <= 5_990].sum() <= 60
    _, jobs = _jobs(spark, lambda: st.compact(target_files=4))
    rows = sorted(f.rows for f in st.manifest.files)
    assert jobs == 3 and len(rows) == 4 and all(abs(r - 1_500) <= 30 for r in rows), (jobs, rows)
    spans = sorted((f.min_rowid, f.max_rowid) for f in st.manifest.files)
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:])), spans
    got = sorted(r["id"] for r in st.find([]).select("id").collect())
    assert got == list(range(6_000, 12_000))


def _scratch_sketch(spark, st, column):
    """(union ndv, sketch bytes) of a from-scratch HLL sketch over the
    live postings of the index on ``column`` (:func:`_union_ndv`)."""
    from pyspark.sql import functions as F

    post = _spark_postings(spark, st, st.manifest.indices[column])
    row = (
        post.agg(F.hll_sketch_agg(F.col("key").cast("string")).alias("sk"))
        .select(F.hll_sketch_estimate(F.hll_union("sk", "sk")).alias("ndv"), "sk")
        .collect()[0]
    )
    return int(row["ndv"]), bytes(row["sk"])


def _union_ndv(spark, a: bytes, b: bytes) -> int:
    """The HLL estimate of the union of two sketches. A sketch's own
    estimate depends on how it was built — one task's sketch reads its
    HIP estimate, a merge of several tasks' sketches the union estimator —
    so equal key sets can read differently (19,949 vs 19,906 on 20,011
    keys); union estimates compare key sets whatever built the sketches."""
    from pyspark.sql import functions as F

    row = (
        spark.createDataFrame([(bytearray(a), bytearray(b))], "a binary, b binary")
        .select(F.hll_sketch_estimate(F.hll_union("a", "b")).alias("u"))
        .collect()[0]
    )
    return int(row["u"])


def _hll_ndv(spark, a: bytes) -> int:
    """The HLL estimate of one sketch, by the estimator its build took."""
    from pyspark.sql import functions as F

    row = spark.createDataFrame([(bytearray(a),)], "a binary").select(F.hll_sketch_estimate("a")).collect()
    return int(row[0][0])


def _same_keys(spark, a: bytes, b: bytes) -> bool:
    """Two HLL sketches hold the same keys: the union of each with itself
    reads as their union does (set-mode sketches lay their coupons out in
    insertion order, so equal key sets need not give equal bytes)."""
    ab = _union_ndv(spark, a, b)
    return _union_ndv(spark, a, a) == ab == _union_ndv(spark, b, b)


def _exact_ndv(st, column):
    return st.find([]).select(column).distinct().count()


def test_index_stats_exact_after_inserts_bound_after_delete(spark, tmp_path):
    """The ndv contract: after inserts — through the fused driver build
    and the Spark write that observes the sketches alike — every index's
    ndv is its sketch's estimate and the sketch holds the keys of a
    from-scratch sketch of its live postings, compared by union estimates
    so that how many tasks built either sketch does not matter; after
    a copy-on-write delete ndv is still at least the exact distinct count
    of live keys; compact() rebuilds it to the from-scratch value."""
    import base64

    from pyspark.sql import functions as F

    st = _two_index_store(spark, str(tmp_path / "s"), batches=3)
    # the next batch is written by Spark, which observes its sketches, and
    # indexed in the executors (120 rows > one shard)
    st.DRIVER_INSERT_ROWS = st.POSTING_SHARD_ROWS = 50
    st.insert(
        spark.range(300, 420).select(
            F.col("id").alias("k"), (F.col("id") / 2).alias("v"), F.lit("d").alias("s")
        )
    )
    for column in ("k", "v"):
        spec = st.manifest.indices[column]
        ndv, sk = _scratch_sketch(spark, st, column)
        stored = base64.b64decode(spec.sketch)
        assert spec.ndv == _hll_ndv(spark, stored) and _union_ndv(spark, stored, stored) == ndv
        assert _same_keys(spark, stored, sk)
    # a driver delete, its survivors indexed from arrow
    del st.DRIVER_INSERT_ROWS, st.POSTING_SHARD_ROWS
    st.delete([between("k", 0, 99)])  # a third of the keys vanish
    for column in ("k", "v"):
        assert st.manifest.indices[column].ndv >= _exact_ndv(st, column)
        assert st.manifest.indices[column].rows == len(st)
    # the compact write observes fresh sketches; the executors index it
    st.DRIVER_INSERT_ROWS = st.POSTING_SHARD_ROWS = 50
    st.compact(target_files=2)
    for column in ("k", "v"):
        spec = st.manifest.indices[column]
        ndv, sk = _scratch_sketch(spark, st, column)
        stored = base64.b64decode(spec.sketch)
        assert spec.ndv == _hll_ndv(spark, stored) and _union_ndv(spark, stored, stored) == ndv
        assert _same_keys(spark, stored, sk)


def test_spark_cow_delete_leaves_index_sketches_as_they_are(spark, tmp_path, monkeypatch):
    """A copy-on-write delete on the Spark path re-indexes its survivors
    in the executors without sketching their keys, which
    every sketch already holds: the stored sketch bytes and ndv of a hash
    and a bloom index stay as they were."""
    from pyspark.sql import types as T

    st = Store.create(spark, str(tmp_path / "s"), T.StructType.fromDDL("k long, s string"))
    st.index("k", "hash")
    st.index("s", "bloom")
    st.insert([(i, f"s{i % 5}") for i in range(40)])
    st.DRIVER_INSERT_ROWS = 0
    st.POSTING_SHARD_ROWS = 20  # the 39 survivors exceed one shard: the executors
    before = {c: (s.sketch, s.ndv) for c, s in st.manifest.indices.items()}
    sketched = []
    monkeypatch.setattr(
        st, "_sketch_cols", lambda *a, **k: sketched.append(a) or Store._sketch_cols(*a, **k)
    )
    assert st.delete([eq("k", 3)]) == 1
    assert not sketched
    assert {c: (s.sketch, s.ndv) for c, s in st.manifest.indices.items()} == before
    assert sorted(r[0] for r in st.find([]).collect()) == [i for i in range(40) if i != 3]


def _all_kinds_store(spark, path, driver_rows, frame=False):
    """Hash, trigram, case-insensitive trigram, bloom and composite indexes
    over two 30-row inserts, literal or (``frame``) DataFrame batches;
    ``driver_rows`` is ``DRIVER_INSERT_ROWS`` (0: Spark writes every batch
    and, with ``POSTING_SHARD_ROWS`` below a batch, every index is built
    in the executors)."""
    from pyspark.sql import types as T

    from shortcut_spark import BloomIndex, TrigramIndex

    schema = T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("h", T.LongType()),
        ]
    )
    rows = [
        (f"alpha{i % 13}", None if i % 5 == 0 else f"Be{i}", i % 7, None if i % 9 == 0 else i % 17)
        for i in range(60)
    ]
    st = Store.create(spark, path, schema)
    st.DRIVER_INSERT_ROWS = driver_rows
    if not driver_rows:
        st.POSTING_SHARD_ROWS = 20
    st.index("a", TrigramIndex)
    st.index("b", TrigramIndex(case_insensitive=True))
    st.index("n", BloomIndex(m_bits=1 << 10, k=3))
    st.index(("a", "n"))
    st.index("h", HashIndex)
    for lo in (0, 30):
        batch = rows[lo : lo + 30]
        st.insert(spark.createDataFrame(batch, schema) if frame else batch)
    return st


def test_fused_driver_index_build_matches_distributed(spark, tmp_path):
    """The driver build of a small batch and the executor build of the
    same batches write what the Spark builders that the kernel replaced
    wrote (:func:`_reference_build`): posting sets (key, file id) of hash,
    composite and two trigram indexes, one of them case-insensitive, the
    bloom bitsets per file, and sketches of one key set; ndv agrees. A
    literal batch is indexed from the arrow table the driver wrote, its
    key sketches taken on the driver; a DataFrame batch, written by Spark
    with its sketches observed in the write (but the trigram ones), from
    a pyarrow read of its index columns."""
    dist = _all_kinds_store(spark, str(tmp_path / "dist"), 0)
    for frame in (False, True):
        fused = _all_kinds_store(spark, str(tmp_path / f"fused{int(frame)}"), 20_000, frame)
        for column in ("a", "b", "a,n", "h", "n"):
            specs = [st.manifest.indices[column] for st in (fused, dist)]
            assert specs[0].ndv == specs[1].ndv and specs[0].rows == specs[1].rows == 60
            for st, spec in zip((fused, dist), specs):
                want, _, want_sk = _reference_build(spark, st, spec)
                got, sk = _built(spark, st, spec)
                assert got == want and got, (frame, column)
                assert _same_keys(spark, sk, want_sk), (frame, column)
        assert dist.manifest.indices["n"].ndv == 7
        assert rows_of(fused.find([eq("n", 3)])) == rows_of(dist.find([eq("n", 3)]))


def _nan_eq(a, b) -> bool:
    """``a == b`` elementwise through lists, with NaN equal to NaN."""
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_nan_eq(x, y) for x, y in zip(a, b))
    return a == b or (a != a and b != b)


def _bloom_positions_expr(column: str, m_bits: int, k: int):
    """The JVM twin of ``_bloom_positions_py`` that the Spark bloom builder
    hashed with: md5("<key as string>:<i>") taken as a 60-bit int, mod m."""
    from pyspark.sql import functions as F

    return F.expr(
        f"transform(sequence(0, {k - 1}), i -> "
        f"pmod(cast(conv(substring(md5(cast(concat(cast(`{column}` as string), ':', "
        f"cast(i as string)) as binary)), 1, 15), 16, 10) as bigint), {m_bits}))"
    )


def _reference_build(spark, st, spec, files=None):
    """What the Spark builders that the index build kernel replaced wrote
    for ``spec`` over ``files`` (the store's live files when None), the
    reference of both venues: (the posting rows as a set of reprs, or
    {file id: bitset} for a bloom index; the range key [min, max] with
    NaN on top, None when it is no number or string; the HLL sketch of
    the keys, from scratch)."""
    import copy

    from pyspark.sql import functions as F

    files = st.manifest.files if files is None else files
    ids = F.create_map(*[x for f in files for x in (F.lit(st._abs(f.path)), F.lit(f.id))])
    src = st._read_files(files, with_meta=True, live=False).withColumn(
        "__file_id", ids[F.col("__file_path")].cast("int")
    )
    fresh = copy.copy(spec)
    fresh.sketch = None
    if spec.kind == "trigram":
        keys = src.select(F.explode(F.array_distinct(Store._grams(spec))).alias("key"))
    else:
        keys = src.select(*[m.alias(f"m{j}") for j, m in enumerate(st._sketch_members(spec))])
    sketch = keys.agg(*Store._sketch_cols(fresh, [F.col(c) for c in keys.columns])).first()[0]
    if spec.kind == "bloom":
        m_bits, k = int(spec.params["m_bits"]), int(spec.params["k"])
        pos = src.filter(F.col(spec.column).isNotNull()).select(
            "__file_id", F.explode(_bloom_positions_expr(spec.column, m_bits, k)).alias("pos")
        )
        bits = {}
        for r in pos.distinct().collect():
            b = bits.setdefault(r["__file_id"], bytearray(m_bits // 8))
            b[r["pos"] >> 3] |= 1 << (r["pos"] & 7)
        return {f: bytes(b) for f, b in bits.items()}, None, bytes(sketch)
    if spec.kind == "trigram":
        grams = F.explode(F.array_distinct(Store._grams(spec))).alias("key")
        postings = src.select(grams, "__file_id")
    else:
        names = st._posting_schema(spec).names
        postings = src.select(
            *[F.col(c).alias(n) for c, n in zip(spec.member_columns, names)], "__file_id"
        )
    postings = postings.distinct()
    rkey = postings.columns[0]
    lo, hi = postings.agg(F.min(rkey), F.max(rkey)).first()
    rng = [lo, hi] if Store._stats_ok(lo) and Store._stats_ok(hi) else None
    return {repr(tuple(r)) for r in postings.collect()}, rng, bytes(sketch)


def _built(spark, st, spec):
    """What ``spec`` holds over the store's live files, in the shape of
    :func:`_reference_build`: its posting rows, or its bitsets as the
    probe reads them; and its stored sketch."""
    import base64

    if spec.kind == "bloom":
        got = st._bloom_bitsets(spec, [f.id for f in st.manifest.files])
        got = {f: b for f, b in got.items() if b is not None}
    else:
        got = {repr(tuple(r)) for r in _spark_postings(spark, st, spec).collect()}
    return got, base64.b64decode(spec.sketch)


def test_write_sketched_driver_build_matches_distributed(spark, tmp_path):
    """A Spark-written batch is indexed by the one kernel in either venue
    — on the driver, with the sketches its write observed, and in the
    executors (both bounds at 0), which sketch the keys themselves — and
    both hold what the Spark builders that the kernel replaced wrote
    (:func:`_reference_build`): the postings of a hash index on a double,
    a btree on a float, a composite over (string, double) and a hash
    index on an array, the bloom bitsets, each part's range (NaN on top)
    and sketches of one key set. The keys hold ±0.0, NaN, NULL and
    all-NULL composite keys, and the arrays ``['a, b']`` and ``['a',
    'b']``, which Spark casts to one string: the array index counts them
    as 2 keys. The executor build is one job."""
    from pyspark.sql import types as T

    from shortcut_spark import BloomIndex

    nan = float("nan")
    schema = T.StructType.fromDDL("d double, f float, s string, n long, a array<string>")
    edge = [
        (-0.0, -0.0, None, None, None),
        (0.0, 0.0, "a", 1, ["a, b"]),
        (nan, nan, None, None, ["a", "b"]),
        (None, None, None, 2, None),
        (nan, None, "b", None, ["a, b"]),
        (-0.0, nan, "a", None, ["a", "b"]),
    ]
    rows = [
        edge[i // 3 % 6] if i % 3 == 0 else (i / 4, i / 8, f"s{i % 7}", i % 11, ["a", "b"])
        for i in range(90)
    ]
    stores, jobs = [], []
    for venue in ("driver", "executors"):
        st = Store.create(spark, str(tmp_path / venue), schema)
        st.index("d", "hash")
        st.index("f", "btree")
        st.index(("s", "d"))
        st.index("n", BloomIndex(m_bits=1 << 10, k=3))
        st.index("a", "hash")
        if venue == "executors":
            st.DRIVER_INSERT_ROWS = st.POSTING_SHARD_ROWS = 0
            st._observe_sketches = lambda df: (df, None)  # the build sketches its keys
        for lo in (0, 45):
            batch = spark.createDataFrame(rows[lo : lo + 45], schema)
            n, j = _jobs(spark, lambda: st.insert(batch))
            assert n == 45
            jobs.append(j)
        stores.append(st)
    assert jobs[2:] == [j + 1 for j in jobs[:2]], jobs
    for column in ("d", "f", "s,d", "n", "a"):
        specs = [st.manifest.indices[column] for st in stores]
        assert specs[0].ndv == specs[1].ndv > 0, column
        for st, spec in zip(stores, specs):
            want, _, want_sk = _reference_build(spark, st, spec)
            got, sk = _built(spark, st, spec)
            assert got == want and got, (column, got, want)
            assert _same_keys(spark, sk, want_sk), column
            if spec.kind == "bloom":
                continue
            assert len(spec.parts) == 2, spec.parts
            for part, f in zip(spec.parts, st.manifest.files):
                assert _nan_eq(spec.part_stats.get(part), _reference_build(spark, st, spec, [f])[1])
    assert [st.manifest.indices["a"].ndv for st in stores] == [2, 2]


def _reference_sketch(spark, spec, stored, keys):
    """(sketch bytes, ndv) of the DataFrame ``keys`` (the index's key
    columns) merged into the sketch ``stored`` (None: none) by the
    aggregate the driver build ran before it sketched on the driver: one
    ``coalesce(1)`` aggregate of ``_sketch_cols`` over the keys."""
    import base64
    import copy

    from pyspark.sql import functions as F

    ref = copy.copy(spec)
    ref.sketch = base64.b64encode(stored).decode() if stored else None
    row = keys.coalesce(1).agg(*Store._sketch_cols(ref, [F.col(c) for c in keys.columns]))
    row = row.collect()[0]
    return bytes(row["__sk"]), int(row["__ndv"])


def _reference_keys(spark, st, spec, data=None):
    """The keys of the data file ``data`` (the store's only one when None)
    that the index build sketches, as a ``LocalRelation``: the distinct
    postings of a hash, btree or composite index (``_distinct_rows`` of
    the file's rows), the string keys of a bloom index and the grams of a
    trigram index."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from shortcut_spark.session import local_relation

    if data is None:
        (data,) = st.manifest.files
    table = pq.read_table(st._abs(data.path)).select(st.manifest.schema.names)
    rows = local_relation(spark, [table], st.manifest.schema)
    if spec.kind == "bloom":
        return rows.select(F.col(spec.column).cast("string").alias("key"))
    if spec.kind == "trigram":
        grams = {}  # in first arrival order, as the build takes them
        for r in rows.select(Store._grams(spec).alias("g")).collect():
            grams.update(dict.fromkeys(r["g"]))
        schema = T.StructType([T.StructField("key", T.StringType())])
        return local_relation(spark, [pa.table({"key": pa.array(list(grams), pa.string())})], schema)
    schema = T.StructType(st._posting_schema(spec).fields[:-1])
    part = Store._distinct_rows(table.select(spec.member_columns).rename_columns(schema.names))
    return local_relation(spark, [part], schema)


def _stored_sketches(spark):
    """HLL sketches of 3, 100 and 2,000 string keys: a LIST-mode, a
    SET-mode and an HLL-mode sketch."""
    from pyspark.sql import functions as F

    keys = spark.range(2_000).select(F.col("id"), F.concat(F.lit("stored"), "id").alias("s"))
    row = keys.agg(
        *[F.hll_sketch_agg(F.when(F.col("id") < n, F.col("s"))).alias(str(n)) for n in (3, 100, 2_000)]
    ).collect()[0]
    return {"list": bytes(row["3"]), "set": bytes(row["100"]), "hll": bytes(row["2000"])}


def test_hll_image_is_the_one_task_aggregate_sketch(spark):
    """``hll.image`` of a batch's coupons is the sketch a one-task
    ``hll_sketch_agg`` of its keys serializes, byte for byte, on both
    sides of the LIST/SET boundary (8 coupons), at each SET growth
    (25, 49, 97, 193 coupons) and at the largest SET (``hll.SET_MAX``);
    keys arrive with repeats and an empty key, which the sketch skips."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from shortcut_spark import hll
    from shortcut_spark.session import local_relation

    schema = T.StructType([T.StructField("k", T.StringType())])
    for n in (1, 7, 8, 25, 49, 97, 193, hll.SET_MAX):
        keys = [f"key-{i}-é" for i in range(n)]
        keys = pa.array(["", *keys, *keys[::3], None], pa.string())
        rel = local_relation(spark, [pa.table({"k": keys})], schema)
        agg = rel.coalesce(1).agg(F.hll_sketch_agg("k")).collect()[0][0]
        assert hll.image(hll.coupons(keys)) == bytes(agg), n


def test_driver_sketch_matches_the_sketch_aggregate(spark, tmp_path):
    """The index build sketches its keys in the kernel (MurmurHash3
    coupons in DataSketches images, merged into the stored sketch by
    ``hll_union`` over a one-row ``LocalRelation``), with no job on the
    driver and in the one build job in the executors, and reads as the
    aggregate it replaced: against an HLL-mode stored sketch
    the merged bytes are equal, and with no stored sketch or a LIST-mode
    or SET-mode one ndv and the key set (union estimates) are. The keys
    cover NULL, "", strings across MurmurHash3's 8- and 16-byte block
    and tail boundaries, 2- and 4-byte UTF-8, ±0.0, NaN, 2**53
    neighbours, negative and extreme longs, decimal, date and timestamp
    keys, a binary key that is not UTF-8, composite keys with NULL
    members and trigram grams. A 3,000-key batch, whose coupons fill
    several SET images, merges to the aggregate's bytes as well."""
    import base64
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    from shortcut_spark import BloomIndex, TrigramIndex

    nan = float("nan")
    schema = T.StructType.fromDDL(
        "s string, t string, f string, d double, l long, m decimal(12,2), "
        "dt date, ts timestamp, b binary"
    )
    strs = [None, "", "a", "a" * 7, "a" * 8, "x" * 15, "y" * 16, "z" * 17, "q" * 31, "w" * 32]
    strs += ["e" * 33, "é", "é" * 8, "日本", "😀", "😀a" * 5, "mixé日😀"]
    grams = ["hello world", "héllo", "日本語テキスト", None, "ab", "😀😀😀x"]
    dbls = [0.0, -0.0, nan, float(2**53 - 1), float(2**53 + 2), -1.5, 1e300, None, 1e-7]
    longs = [2**53 - 1, 2**53 + 1, -1, -(2**63), 2**63 - 1, None, 0]
    decs = [Decimal("1.50"), Decimal("-0.01"), Decimal("0.00"), None, Decimal("9999999999.99")]
    dates = [dt.date(1970, 1, 1), dt.date(2024, 2, 29), None, dt.date(1969, 12, 31)]
    stamps = [dt.datetime(2024, 1, 1, 12, 30, 15, 123456), dt.datetime(1970, 1, 1), None]
    bins = [b"\xff\xfe", b"ok", b"\x80abc\xc3", b"", None]
    cols = (strs, grams, strs[::-1], dbls, longs, decs, dates, stamps, bins)
    batch = [tuple(c[i % len(c)] for c in cols) for i in range(40)]
    stored = _stored_sketches(spark)
    runs = [(mode, False) for mode in (None, "list", "set", "hll")]
    for mode, executors in runs + [(None, True), ("hll", True)]:
        st = Store.create(spark, str(tmp_path / f"s{mode}{int(executors)}"), schema)
        st.index("s", "hash")
        st.index("t", TrigramIndex)
        st.index("f", BloomIndex(m_bits=1 << 10, k=3))
        st.index("d", "hash")
        st.index("l", "btree")
        st.index("m", "hash")
        st.index("dt", BloomIndex(m_bits=1 << 10, k=3))
        st.index("ts", "btree")
        st.index("b", "hash")
        st.index(("s", "d"))
        for spec in st.manifest.indices.values():
            spec.sketch = base64.b64encode(stored[mode]).decode() if mode else None
        if executors:
            # a Spark write observing no sketch, then every index built
            # and sketched in the executors, in one job
            st.DRIVER_INSERT_ROWS = st.POSTING_SHARD_ROWS = 0
            st._observe_sketches = lambda df: (df, None)
        n, jobs = _jobs(spark, lambda: st.insert(batch))
        assert n == 40 and jobs == (2 if executors else 0), (mode, jobs)
        for name, spec in st.manifest.indices.items():
            got = base64.b64decode(spec.sketch)
            keys = _reference_keys(spark, st, spec)
            want, ndv = _reference_sketch(spark, spec, stored.get(mode), keys)
            assert spec.ndv == ndv, (mode, name, spec.ndv, ndv)
            assert _same_keys(spark, got, want), (mode, name)
            if mode == "hll":
                assert got == want, name
    schema = T.StructType.fromDDL("l long, s string")
    batch = [(i * 7919 % 100_003, f"key-{i}-é") for i in range(3_000)]
    for mode in (None, "hll"):
        st = Store.create(spark, str(tmp_path / f"big{mode}"), schema)
        st.index("l", "hash")
        st.index("s", "hash")
        for spec in st.manifest.indices.values():
            spec.sketch = base64.b64encode(stored[mode]).decode() if mode else None
        n, jobs = _jobs(spark, lambda: st.insert(batch))
        assert n == 3_000 and jobs == 0, (mode, jobs)
        for name, spec in st.manifest.indices.items():
            got = base64.b64decode(spec.sketch)
            keys = _reference_keys(spark, st, spec)
            want, ndv = _reference_sketch(spark, spec, stored.get(mode), keys)
            assert _same_keys(spark, got, want), (mode, name)
            if mode == "hll":
                assert got == want and spec.ndv == ndv, name
            else:
                assert abs(spec.ndv - ndv) <= 0.02 * ndv, (name, spec.ndv, ndv)


@pytest.mark.slow
def test_store_mix_micro_insert_sketches_match_the_sketch_aggregate(spark, tmp_path):
    """On the seed-11 ``store_mix`` store (90,000 base rows in 12 files,
    a hash index on ``k`` and a btree on ``v``) ndv reads as it did when
    the driver build sketched with a Spark aggregate: setup and the
    DataFrame inserts take their sketches from the write, as before, and
    each of three rounds' 100-row literal inserts, which takes no job,
    merges its keys into the stored HLL-mode sketches to the bytes and
    ndv the aggregate merges them to."""
    import base64
    import random
    import sys

    from pyspark.sql import types as T

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    import gen
    import workloads

    space = gen.RowSpace.from_seed(workloads.N_BASE, random.Random(11))
    st = Store.create(spark, str(tmp_path / "s"), T.StructType.fromDDL(gen.STORE_DDL))
    st.ROWS_PER_FILE = workloads.FILE_ROWS
    st.index("k", "hash")
    st.index("v", "btree")
    st.insert(space.frame(spark, 0, workloads.N_BASE))
    assert len(st.manifest.files) == 12
    lo = workloads.N_BASE
    for _ in range(3):
        st.insert(space.frame(spark, lo, lo + workloads.INSERT_ROWS))
        lo += workloads.INSERT_ROWS
        stored = {c: base64.b64decode(s.sketch) for c, s in st.manifest.indices.items()}
        micro = [space.row(i) for i in range(lo, lo + workloads.MICRO_ROWS)]
        n, jobs = _jobs(spark, lambda: st.insert(micro))
        assert n == workloads.MICRO_ROWS and jobs == 0
        lo += workloads.MICRO_ROWS
        for column, spec in st.manifest.indices.items():
            keys = _reference_keys(spark, st, spec, st.manifest.files[-1])
            want, ndv = _reference_sketch(spark, spec, stored[column], keys)
            assert base64.b64decode(spec.sketch) == want and spec.ndv == ndv, column


def test_driver_index_builds_take_no_job(spark, tmp_path):
    """Every driver index build sketches on the driver with no job: a
    100-row literal insert into a store with hash, btree, composite,
    bloom and trigram indexes, an ``index()`` backfill of a store below
    ``DRIVER_INSERT_ROWS``, and a driver ``apply_changes`` of a delta the
    driver holds."""
    from pyspark.sql import types as T

    from shortcut_spark import BloomIndex, TrigramIndex
    from shortcut_spark.session import local_relation

    schema = T.StructType.fromDDL("k long, v double, s string, g string")
    rows = [(i, i / 3, f"s{i % 11}", f"gram text {i}") for i in range(100)]
    st = Store.create(spark, str(tmp_path / "s"), schema)
    st.index("k", "hash")
    st.index("v", "btree")
    st.index(("k", "s"))
    st.index("s", BloomIndex(m_bits=1 << 10, k=3))
    st.index("g", TrigramIndex)
    n, jobs = _jobs(spark, lambda: st.insert(rows))
    assert n == 100 and jobs == 0
    leader = Store.create(spark, str(tmp_path / "leader"), schema)
    vc = leader.manifest.version
    leader.insert(rows)
    follower = Store.create(spark, str(tmp_path / "follower"), schema)
    follower.index("k", "hash")
    follower.index("g", TrigramIndex)
    follower.apply_changes(leader.changes(vc))
    v0 = leader.manifest.version
    leader.insert([(1_000 + i, 0.5, "x", "more grams") for i in range(20)])
    leader.delete([eq("k", 7)])
    _, jobs = _jobs(spark, lambda: leader.index("v", "btree"))
    assert jobs == 0 and leader.manifest.indices["v"].ndv > 0
    delta = leader.changes(v0)
    delta = local_relation(spark, [delta.toArrow()], delta.schema)  # a delta the driver holds
    got, jobs = _jobs(spark, lambda: follower.apply_changes(delta))
    assert got == (20, 1) and jobs == 0
    assert rows_of(follower.find([eq("k", 1_005)])) == [(1_005, 0.5, "x", "more grams")]
    assert follower.find([eq("k", 7)]).count() == 0


def test_executor_index_build_is_one_job(spark, tmp_path):
    """A batch above the driver bounds builds its hash, btree, composite,
    bloom and trigram indexes in the executors, all five in one Spark
    job: the insert's jobs + 1. Each index holds one part, and finds
    through each return what they return on the driver-built store."""
    from pyspark.sql import types as T

    from shortcut_spark import BloomIndex, TrigramIndex
    from shortcut_spark.cmp import contains

    schema = T.StructType.fromDDL("k long, v double, s string, g string")
    rows = [(i, i / 3, f"s{i % 11}", f"gram text {i}") for i in range(100)]
    conds = [
        [eq("k", 7)],
        [eq("v", 5.0)],
        [eq("k", 8), eq("s", "s8")],
        [eq("s", "s3")],
        [contains("g", "text 4")],
    ]
    got = []
    for bound in (None, 0):
        st = Store.create(spark, str(tmp_path / f"s{bound}"), schema)
        st.index("k", "hash")
        st.index("v", "btree")
        st.index(("k", "s"))
        st.index("s", BloomIndex(m_bits=1 << 10, k=3))
        st.index("g", TrigramIndex)
        if bound is not None:
            st.DRIVER_INSERT_ROWS = st.POSTING_SHARD_ROWS = bound
        n, jobs = _jobs(spark, lambda: st.insert(spark.createDataFrame(rows, schema)))
        assert n == 100 and all(len(s.parts) == 1 for s in st.manifest.indices.values())
        got.append((jobs, [rows_of(st.find(c)) for c in conds]))
    assert got[1][0] == got[0][0] + 1, got
    assert got[1][1] == got[0][1] and all(got[0][1]), got


def test_bloom_bitsets_of_a_split_file_or_together(spark, tmp_path):
    """A data file of many row groups, which Spark splits across the
    build's tasks, gets one bitset per task in the bloom part, each over
    its own rows' keys. The probe ORs every bitset of a file, so each
    key's bits are set and its find returns its row."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from shortcut_spark import BloomIndex
    from shortcut_spark.session import scoped_confs
    from shortcut_spark.store import _bloom_positions_py

    st = Store.create(spark, str(tmp_path / "s"), T.StructType.fromDDL("k long, s string"))
    src = spark.range(0, 20_000, numPartitions=1).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("s")
    )
    with scoped_confs(spark, {"parquet.block.size": str(64 * 1024)}):
        st.insert(src)
    (f,) = st.manifest.files
    assert pq.ParquetFile(st._abs(f.path)).metadata.num_row_groups > 4
    # the build in the executors, with a task per split at any core count
    st.DRIVER_INSERT_ROWS, st.POSTING_SHARD_ROWS = 0, 1_000
    with scoped_confs(spark, {"spark.sql.files.maxPartitionBytes": str(256 * 1024)}):
        st.index("s", BloomIndex(m_bits=1 << 16, k=3))
    spec = st.manifest.indices["s"]
    part = pa.concat_tables([pq.read_table(p) for p in st._posting_files(spec.parts)])
    assert part.column("__file_id").to_pylist().count(f.id) > 1
    bits = st._bloom_bitsets(spec, [f.id])[f.id]
    keys = [r["s"] for r in src.collect()]
    assert all(Store._bloom_hit(bits, p) for p in _bloom_positions_py(keys, 1 << 16, 3))
    for i in (0, 7_777, 19_999):
        assert rows_of(st.find([eq("s", keys[i])])) == [(i, keys[i])]


def test_index_build_venue_bounds_and_executor_shards(spark, tmp_path):
    """A write-sketched index whose kernel needs no derived key is built
    on the driver up to ``POSTING_SHARD_ROWS`` rows, a bloom index only
    while its ndv is at most ``DRIVER_INSERT_ROWS``; one whose kernel
    needs a derived key (a double bloom key's string, an array key's
    JSON) only up to ``DRIVER_INSERT_ROWS`` rows. An executor backfill
    over one split per file writes one shard per core, not one per
    file, so a probe reads few shards. Finds are exact on both."""
    from pyspark.sql import types as T

    from shortcut_spark import BloomIndex
    from shortcut_spark.session import scoped_confs

    schema = T.StructType.fromDDL("k long, u long, d double, a array<int>")
    rows = [(i, i % 10, i / 4, [i % 5, i % 3]) for i in range(300)]
    st = Store.create(spark, str(tmp_path / "s"), schema)
    st.index("k", "hash")
    st.index("u", BloomIndex(m_bits=1 << 10, k=3))
    st.index("d", BloomIndex(m_bits=1 << 10, k=3))
    st.index("a", "hash")
    venues = {}
    for name in ("_index_tables", "_index_executors"):

        def record(specs, *a, _real=getattr(st, name), _name=name, **kw):
            venues.update((s.column, _name) for s in specs)
            return _real(specs, *a, **kw)

        setattr(st, name, record)
    st.DRIVER_INSERT_ROWS, st.POSTING_SHARD_ROWS = 100, 1_000
    st.insert(spark.createDataFrame(rows, schema))
    drv, exe = "_index_tables", "_index_executors"
    assert venues == {"k": drv, "u": drv, "d": exe, "a": exe}, venues
    st.POSTING_SHARD_ROWS = 200  # a bloom index of 10 keys over 300 rows
    st.insert(spark.createDataFrame(rows, schema))
    assert venues == {"k": exe, "u": exe, "d": exe, "a": exe}, venues
    assert len(rows_of(st.find([eq("u", 3)]))) == 60
    assert rows_of(st.find([eq("d", 2.5)])) == [(10, 0, 2.5, [0, 1])] * 2
    assert len(rows_of(st.find([eq("a", [4, 2])]))) == 40

    cores = spark.sparkContext.defaultParallelism
    bf = Store.create(spark, str(tmp_path / "bf"), T.StructType.fromDDL("k long"))
    for lo in range(0, 10 * (cores + 4), 10):  # literal inserts, a file each
        bf.insert([(i,) for i in range(lo, lo + 10)])
    assert len(bf.manifest.files) == cores + 4
    bf.DRIVER_INSERT_ROWS = 0
    with scoped_confs(spark, {"spark.sql.files.maxPartitionBytes": "1024"}):
        bf.index("k", "hash")
    spec = bf.manifest.indices["k"]
    assert len(bf._posting_files(spec.parts)) <= cores
    assert all(bf._posting_hits(spec, [k]) for k in (0, 77, 10 * cores + 39))


def test_posting_map_driver_read_matches_spark(spark, tmp_path):
    """The driver posting probe (``_posting_hits``) reads the parts with
    pyarrow — no Spark job — and names the live files a Spark read of the
    same parts names, for one key, several keys (an absent one among
    them) and a composite key, over driver-built and distributed parts
    and after a copy-on-write delete retires a file."""
    from pyspark.sql import functions as F

    probes = (("h", [5]), ("h", [0, 3, 16, 99]), ("a,n", [("alpha4", 4)]))
    for name, driver_rows in (("fused", 20_000), ("dist", 0)):
        st = _all_kinds_store(spark, str(tmp_path / name), driver_rows)
        for step in ("insert", "delete"):
            if step == "delete":
                assert st.delete([eq("h", 3)]) > 0
            live = {f.id for f in st.manifest.files}
            for column, keys in probes:
                spec = st.manifest.indices[column]
                hits, jobs = _jobs(spark, lambda: st._posting_hits(spec, keys))
                assert jobs == 0, (name, step, column, keys)
                post = _spark_postings(spark, st, spec)
                if spec.columns:
                    post = post.filter((F.col("k0") == keys[0][0]) & (F.col("k1") == keys[0][1]))
                else:
                    post = post.filter(F.col("key").isin(keys))
                want = {r["__file_id"] for r in post.collect()}
                assert hits & live == want and want, (name, step, column, keys)
