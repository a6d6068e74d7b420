"""Reads of Store-owned files: the bounded tombstone set filters reads as a
rowid literal and gives the same answers as the anti-join it replaces,
every read of a Store-owned parquet dir carries its schema, IN lists are
SQL literals, the driver-side posting probe answers every edge probe like
Spark's own filter, and the driver read of a small lookup returns what the
Spark read returns."""

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq

from shortcut_spark import MatView, Store, between, eq
from shortcut_spark.store import ROWID
from tests.test_store import _jobs, _spark_bitsets, _spark_postings


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _add_file_without_stats(st, rows):
    """Register one data file written without footer statistics, so the
    manifest records the ``[-1, -1]`` rowid sentinel for it."""
    from pyspark.sql.pandas.types import to_arrow_schema

    wm = st.manifest.rowid
    names = [ROWID, *st.colnames]
    table = pa.Table.from_pylist(
        [dict(zip(names, (wm + i, *r))) for i, r in enumerate(rows)],
        schema=to_arrow_schema(st._schema_with_rowid()),
    )
    rel = os.path.join("data", f"nostats{st.manifest.version + 1}")
    os.makedirs(st._abs(rel))
    pq.write_table(table, os.path.join(st._abs(rel), "part-00000.parquet"), write_statistics=False)
    st._register_and_index(rel)
    st.manifest.rowid = wm + len(rows)
    st._commit()


def _scenario(spark, root):
    """Every tombstone consumer on one timeline; returns what each step
    observed. Run once per tombstone path."""
    from pyspark.sql import types as T

    out = {}
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("s", T.StringType()),
        ]
    )
    path = os.path.join(root, "s")
    st = Store.create(spark, path, schema)
    st.index("k", "hash")
    # v runs against k, so compact(sort_by="v") interleaves rowids
    for b in range(3):
        st.insert([(k, (k * 37) % 120, f"s{k % 5}") for k in range(b * 40, b * 40 + 40)])
    mv = MatView.create(
        spark, os.path.join(root, "mv"), st, ["s"], [("n", "count", None), ("sv", "sum", "v")]
    )

    def look(tag):
        out[f"{tag}.all"] = rows_of(st.find([], with_rowid=True))
        out[f"{tag}.len"] = len(st)
        out[f"{tag}.point"] = [rows_of(st.find([eq("k", k)])) for k in (3, 41, 44, 90, 119, 503)]
        out[f"{tag}.many"] = rows_of(st.find_many("k", [1, 3, 41, 44, 60, 90, 200]))
        out[f"{tag}.range"] = rows_of(st.find([between("v", 10, 60)]))
        out[f"{tag}.tomb_rows"] = st.manifest.tombstone_rows

    v0 = st.manifest.version
    # tombstones in several dirs, spread over the three files
    for k in (3, 44, 90):
        assert st.delete([eq("k", k)], defer=True) == 1
    assert len(st.manifest.tombstones) == 3
    look("defer")
    out["defer.plan"] = _plan(st.find([]))
    # a CoW delete in the first file (rowid ranges disjoint): k=3 leaves
    # the tombstone set with its file
    assert st.delete([eq("k", 7)]) == 1
    assert st.manifest.tombstone_rows == 2
    look("cow_disjoint")
    out["changes.cdf"] = rows_of(st.changes(v0))
    assert mv.refresh() > 0
    out["mv.1"] = rows_of(mv.read())

    # a merge poisons the feed: changes() takes the churn-bounded tier,
    # whose shared-file semi-join reads the tombstone set
    v1 = st.manifest.version
    st.merge([(41, 999, "m")], on="k")
    assert st.delete([eq("k", 60)], defer=True) == 1
    out["changes.churn"] = rows_of(st.changes(v1))
    assert st.last_changes_used_cdf is False
    look("churn")

    # overlapping file rowid ranges, then tombstones, then a CoW delete
    # whose retired file holds a tombstoned rowid: consolidation drops it
    st.compact(target_files=3, sort_by="v")
    spans = sorted((f.min_rowid, f.max_rowid) for f in st.manifest.files)
    assert any(a[1] >= b[0] for a, b in zip(spans, spans[1:])), "ranges must overlap"
    for k in (1, 2, 5):
        st.delete([eq("k", k)], defer=True)
    # a live key in the file that holds the tombstoned k=1
    keys = [
        {r["k"] for r in spark.read.parquet(st._abs(f.path)).select("k").collect()}
        for f in st.manifest.files
    ]
    victim = min(next(ks for ks in keys if 1 in ks) - {1, 2, 5})
    tomb_before = st.manifest.tombstone_rows
    assert st.delete([eq("k", victim)]) == 1
    assert st.manifest.tombstone_rows < tomb_before  # k=1 left the set
    look("cow")
    v_cow = st.manifest.version

    # a file without rowid stats: its tombstones can sit anywhere
    _add_file_without_stats(st, [(500 + i, i, "x") for i in range(10)])
    assert any(f.min_rowid == -1 for f in st.manifest.files)
    st.delete([eq("k", 503)], defer=True)
    look("sentinel")
    assert mv.refresh() > 0
    out["mv.2"] = rows_of(mv.read())

    # restore to a version with fewer tombstones: the cached set must go
    st.restore(v_cow)
    look("restore")
    out["reopen.all"] = rows_of(Store.open(spark, path).find([], with_rowid=True))
    out["reopen.len"] = len(Store.open(spark, path))

    # distributed apply_changes: the resurrection probe reads the set
    leader = Store.create(spark, os.path.join(root, "leader"), schema)
    vc = leader.manifest.version
    leader.insert([(k, k, "l") for k in range(20)])
    la = leader.manifest.version
    fol = Store.create(spark, os.path.join(root, "fol"), schema)
    fol.DRIVER_INSERT_ROWS = -1  # instance override: distributed venue
    fol.apply_changes(leader.changes(vc))
    leader.delete([eq("k", 4)])
    lb = leader.manifest.version
    out["apply.del"] = fol.apply_changes(leader.changes(la))
    leader.restore(la)  # resurrects k=4 under its old rowid
    out["apply.res"] = fol.apply_changes(leader.changes(lb))
    out["apply.rows"] = rows_of(fol.find([], with_rowid=True))
    out["apply.tomb_rows"] = fol.manifest.tombstone_rows
    assert out["apply.rows"] == rows_of(leader.find([], with_rowid=True))

    st.compact(target_files=2)
    out["compact.all"] = rows_of(st.find([], with_rowid=True))
    out["compact.tomb_rows"] = st.manifest.tombstone_rows
    return out


def test_inline_tombstone_filter_matches_anti_join(spark, tmp_path, monkeypatch):
    """The bounded tombstone set, read on the driver and filtered as a
    rowid literal, answers every read exactly like the anti-join — finds,
    multigets, len, both CDC delete tiers, view refreshes, the CoW
    consolidation, restore, reopen, apply_changes and compact. A
    ``TOMB_INLINE_ROWS`` of 0 forces the anti-join everywhere."""
    inline = _scenario(spark, str(tmp_path / "inline"))
    monkeypatch.setattr(Store, "TOMB_INLINE_ROWS", 0)
    anti = _scenario(spark, str(tmp_path / "anti"))
    assert "LeftAnti" not in inline.pop("defer.plan")
    assert "LeftAnti" in anti.pop("defer.plan")
    assert inline.keys() == anti.keys()
    for key in inline:
        assert inline[key] == anti[key], key
    assert inline["apply.res"] == (1, 0) and inline["apply.tomb_rows"] == 0


def test_tomb_ids_cache_follows_the_tombstone_set(spark, tmp_path):
    """The driver-side set is cached per tuple of tombstone dirs: a grown
    set and a restore to fewer dirs both re-read, and a set over the bound
    declines unless the caller passes a larger one."""
    st = Store.create(spark, str(tmp_path / "s"), 2)
    st.insert([(f"k{i}", str(i)) for i in range(10)])
    v0 = st.manifest.version
    ids = {r["c0"]: r[ROWID] for r in st.find([], with_rowid=True).collect()}
    st.delete([eq(0, "k1")], defer=True)
    v1 = st.manifest.version
    st.delete([eq(0, "k2")], defer=True)
    assert st._tomb_ids() == sorted([ids["k1"], ids["k2"]])
    st.restore(v1)
    assert st._tomb_ids() == [ids["k1"]]
    st.restore(v0)
    assert st._tomb_ids() == [] and st.manifest.tombstones == []
    st.restore(v1 + 1)
    st.TOMB_INLINE_ROWS = 1
    assert st._tomb_ids() is None
    assert st._tomb_ids(st.CDF_DRIVER_READ_ROWS) == sorted([ids["k1"], ids["k2"]])
    assert len(st) == 8 and st.find([eq(0, "k2")]).count() == 0


# -- lint: every read of a Store-owned parquet dir carries its schema ------

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "shortcut_spark")

# (module, enclosing function) -> why its read may infer the schema
_SCHEMALESS_READ_ALLOWLIST = {
    ("store.py", "from_parquet"): (
        "reads the caller's own parquet files, whose schema only their "
        "footers know; the Store adopts it"
    ),
}


def _read_without_schema(call) -> bool | None:
    """For a ``<...>.parquet(...)`` call: None when it is a write, else
    whether no ``.schema(...)`` sits between ``.read`` and ``.parquet``."""
    node, has_schema = call.func.value, False
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
            continue
        if node.attr == "write":
            return None
        if node.attr == "read":
            return not has_schema
        has_schema = has_schema or node.attr == "schema"
        node = node.value
    return None


def _schemaless_reads():
    """(module, enclosing function, line) of every ``<...>.read...parquet(``
    call in store.py and matview.py with no ``.schema(`` in its chain."""
    found = set()
    for module in ("store.py", "matview.py"):
        path = os.path.join(_PKG, module)
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet"
                    and _read_without_schema(node)
                ):
                    found.add((module, fn.name, node.lineno))
    return sorted(found)


def test_store_owned_reads_carry_their_schema():
    reads = _schemaless_reads()
    stray = [r for r in reads if (r[0], r[1]) not in _SCHEMALESS_READ_ALLOWLIST]
    assert not stray, f"pass .schema(...) to reads of Store-owned files: {stray}"
    # every allowlisted read still exists (a stale entry would hide a new one)
    assert {(r[0], r[1]) for r in reads} == set(_SCHEMALESS_READ_ALLOWLIST)
    # the driver's pyarrow reads are schema-bound too: ds.dataset(..., schema=)
    path = os.path.join(_PKG, "store.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    datasets = [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "dataset"
    ]
    assert datasets
    unbound = [n.lineno for n in datasets if not any(k.arg == "schema" for k in n.keywords)]
    assert not unbound, f"pass schema= to ds.dataset: store.py lines {unbound}"



# -- lint: index parts are read by Spark only in the probe fallback --------


def test_index_parts_read_by_spark_only_in_probe_postings():
    """Posting and bloom parts are read on the driver with pyarrow; the one
    Spark read of them is ``_probe_postings``, for the probes pyarrow
    cannot decide with Spark's coercion. A function reads index parts
    when it names ``spark.read`` and any of the part accessors."""
    part_names = {"parts", "_posting_files", "_posting_schema", "_parts_for_probe"}
    path = os.path.join(_PKG, "store.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    readers = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        attrs = [n for n in ast.walk(fn) if isinstance(n, ast.Attribute)]
        spark_read = any(
            a.attr == "read"
            and (
                (isinstance(a.value, ast.Attribute) and a.value.attr == "spark")
                or (isinstance(a.value, ast.Name) and a.value.id == "spark")
            )
            for a in attrs
        )
        if spark_read and any(a.attr in part_names for a in attrs):
            readers.add(fn.name)
    assert readers == {"_probe_postings"}, f"read index parts with _arrow_read: {readers}"


# -- lint: no driver posting map --------------------------------------------


def test_no_library_code_reads_a_posting_map():
    """Every key probe is a pushed-down read of the posting parts
    (``Store._posting_hits``): no library code reads a driver posting
    map, its cache or its cap (``Store.POSTING_MAP_MAX`` stays only as a
    class attribute that perfbench reports)."""
    names = {"POSTING_MAP_MAX", "_posting_map", "_posting_maps"}
    hits = []
    for root, _, files in os.walk(_PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Attribute) and node.attr in names) or (
                    isinstance(node, ast.Name) and node.id in names and isinstance(node.ctx, ast.Load)
                ):
                    hits.append((os.path.relpath(path, _PKG), node.lineno))
    assert not hits, hits


# -- lint: an index key sketch is built in one of four places ---------------


def _functions_using(attr: str = None, const=None) -> set:
    """(file, innermost function) pairs of the library code that names the
    attribute ``attr`` or holds the constant ``const``."""
    found = set()
    for root, _, names in os.walk(_PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                inner = {
                    id(n)
                    for sub in ast.walk(fn)
                    if sub is not fn and isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef))
                    for n in ast.walk(sub)
                }
                for node in ast.walk(fn):
                    if id(node) in inner:
                        continue
                    if (attr and isinstance(node, ast.Attribute) and node.attr == attr) or (
                        const is not None and isinstance(node, ast.Constant) and node.value == const
                    ):
                        found.add((name, fn.name))
    return found


def test_sketch_cols_called_only_from_the_sketch_sites():
    """An index's key sketch is observed in the Spark write of its batch
    (``_observe_sketches``) or taken by the index build kernel
    (``hll``, in either venue) with no job of its own. Any other caller
    of ``_sketch_cols`` would be a new sketch job, and ``hll_sketch_agg``
    appears in ``_sketch_cols`` alone. The key string a sketch hashes is
    encoded in one helper, ``_sketch_key``, for the Spark sketches and
    the kernel's alike."""
    assert _functions_using("_sketch_cols") == {("store.py", "_observe_sketches")}
    assert _functions_using("hll_sketch_agg") == {("store.py", "_sketch_cols")}
    assert _functions_using("_sketch_key") == {
        ("store.py", "_sketch_cols"),
        ("store.py", "_derived_keys"),
    }
    assert _functions_using(const="<null>") == {("store.py", "_sketch_key")}
    assert _functions_using(const="\x1f") == {("store.py", "_sketch_key")}



# -- lint: one Python UDF and one index build task in store.py --------------


def test_store_python_udfs_are_the_residual_and_the_index_build():
    """store.py runs Python in the executors at two places only: the
    row-at-a-time UDF of ``delete_filter``'s callable residual, and the
    ``mapInArrow`` of the index build's executor venue, which runs the
    driver's own kernel. Every other index semantics stays in one place,
    not in a Spark twin of the kernel."""
    path = os.path.join(_PKG, "store.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    udfs = {"udf", "pandas_udf", "mapInArrow", "mapInPandas", "applyInPandas", "applyInArrow"}
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Attribute) and node.attr in udfs:
                found.append((fn.name, node.attr))
    assert sorted(found) == [("_index_executors", "mapInArrow"), ("delete_filter", "udf")], found


# -- lint: no range sampler on the Store's write paths -----------------------


def test_repartition_by_range_only_in_compact_layouts():
    """Store writes range-split with no sampler job (``_RangeSplit``:
    bounds from an aggregate the write already collects, or from the
    manifest). ``repartitionByRange`` and its sampler job stay only in
    ``compact``'s ``sort_by`` and z-order branches, whose layout is the
    point of the call, and in ``_RangeSplit.split_by``'s fallback for a
    batch whose quantiles cannot split it evenly while keeping every
    proxy value in one file."""
    path = os.path.join(_PKG, "store.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    callers = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartitionByRange"
            ):
                callers.append((fn.name, ast.unparse(node.args[1])))
    assert sorted(callers) == [
        ("compact", "'__z'"),
        ("compact", "sort_by"),
        ("split_by", "*self.cols"),
    ], callers

# -- lint: IN lists in store.py are SQL literals ----------------------------


def test_store_isin_only_in_the_literal_helper():
    """``Column.isin`` makes one py4j call per value; store.py builds every
    IN list with ``Store._in_literal``, whose type fallback is the one
    ``.isin(`` left."""
    path = os.path.join(_PKG, "store.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    helper = next(
        fn for fn in ast.walk(tree) if isinstance(fn, ast.FunctionDef) and fn.name == "_in_literal"
    )
    lines = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "isin"
    ]
    stray = [n for n in lines if not helper.lineno <= n <= helper.end_lineno]
    assert not stray, f"build IN lists with Store._in_literal: store.py lines {stray}"
    assert len(lines) == 1


def test_in_literal_matches_isin(spark, tmp_path):
    """The SQL literal list selects what ``isin`` selects: strings with
    quotes, backslashes, control characters and unicode; ints past 2**31;
    a column name with a space and one with a backtick; and the ``isin``
    fallbacks — floats, mixed types, strings holding ``$`` (which the
    parser would substitute as ``${...}``), and quoted strings under the
    legacy literal parser."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from shortcut_spark.session import scoped_confs

    st = Store.create(spark, str(tmp_path / "s"), 2)
    words = ["a'b", "c\\d", "ünï→✓", "x\\'y", "tab\there", "nl\nx", "\\", "''", "plain"]
    dollars = ["${x}", "${env:HOME}", "${y", "x${", "y}z", "$"]
    others = ["other", "a b", "c\\\\d", "", os.environ.get("HOME", "/"), "y,z", "x"]
    df = spark.createDataFrame(
        [(w, i, float(i), w) for i, w in enumerate(words + dollars + others)],
        T.StructType(
            [
                T.StructField("s t", T.StringType()),
                T.StructField("n", T.LongType()),
                T.StructField("x", T.DoubleType()),
                T.StructField("b`q", T.StringType()),
            ]
        ),
    )
    cases = [
        ("s t", words),
        ("s t", ["${x}"]),
        ("s t", ["${env:HOME}"]),
        ("s t", ["${y", "x${", "y}z"]),
        ("s t", words + dollars),
        ("n", [0, 3, 2**40, -7]),
        ("x", [1.0, 2.5]),
        ("x", [1, 2.0]),
    ]
    for column, values in cases:
        want = rows_of(df.filter(F.col(column).isin(values)))
        assert rows_of(df.filter(st._in_literal(column, values))) == want, (column, values)
    assert "IN" in str(st._in_literal("s t", words))
    # a backticked name: isin cannot even name it, so check by value
    for values in (words, ["plain", "x"]):
        got = rows_of(df.filter(st._in_literal("b`q", values)))
        assert [r[3] for r in got] == sorted(values), values
    assert "IN" in str(st._in_literal("b`q", ["plain"]))
    with scoped_confs(spark, {"spark.sql.parser.escapedStringLiterals": "true"}):
        got = rows_of(df.filter(st._in_literal("s t", words)))
        assert got == rows_of(df.filter(F.col("s t").isin(words)))
        assert len(got) == len(words)


def test_find_many_keeps_dollar_keys(spark, tmp_path):
    """Keys holding ``$`` reach the residual filter and the trigram
    fallback's gram list unchanged: ``${x}`` is not substituted away and
    ``'${y','x${','y}z'`` is not read across its literals."""
    from shortcut_spark import HashIndex, TrigramIndex
    from shortcut_spark.cmp import contains

    keys = ["${x}", "${env:HOME}", "${y", "x${", "y}z"]
    decoys = ["", os.environ.get("HOME", "/"), "y,z", "plain"]
    st = Store.create(spark, str(tmp_path / "s"), 2)
    for b, batch in enumerate((keys[:3] + decoys[:2], keys[3:] + decoys[2:])):
        st.insert([(k, f"v{b}") for k in batch])
    want = sorted((k, v) for k, v in rows_of(st.df().drop(ROWID)) if k in keys)
    assert len(want) == len(keys)
    assert rows_of(st.find_many(0, keys)) == want  # stats path
    for k in keys:
        assert rows_of(st.find_many(0, [k])) == [r for r in want if r[0] == k], k
    st.index(0, HashIndex)
    assert rows_of(st.find_many(0, keys)) == want  # indexed path
    tri = Store.create(spark, str(tmp_path / "t"), 2)
    tri.index(0, TrigramIndex())
    for b in range(3):
        tri.insert([(f"row {i} batch {b}", str(i)) for i in range(20)])
    tri.insert([("pay ${env:HOME} now", "hit"), ("pay HOME now", "decoy")])
    got = rows_of(tri.find([contains(0, "${env:HOME}")]))
    assert got == [("pay ${env:HOME} now", "hit")]
    assert tri.explain_find([contains(0, "${env:HOME}")]).endswith(
        f"files=1/{len(tri.manifest.files)}"
    )


# -- the driver-side posting probe answers like Spark's filter ---------------

_BIG = 2**53


def _edge_store(spark, path):
    """Hash indexes on a long, a double, a string and a decimal column and a
    composite on (g, h), backfilled over two batches in the executors and
    built on the driver over five more. Two unrelated permutations of the row number feed
    k and the other columns, and every batch carries the same low and high
    guard rows, so every file spans every column's range: only the
    postings narrow a point find. Values sit on the probes' edges: ±0.0, NaN and 2**53 on
    the double, 2**53 and 2**53 + 1 on the long, quotes, backslashes and
    unicode on the string."""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("s", T.StringType()),
            T.StructField("m", T.DecimalType(10, 2)),
            T.StructField("g", T.StringType()),
            T.StructField("h", T.LongType()),
        ]
    )
    st = Store.create(spark, path, schema)
    st.POSTING_SHARD_ROWS = 50  # the backfill of 244 rows runs in the executors
    special = {  # in both executor-indexed batches and three driver-built ones
        5: (_BIG, -0.0, "it's"),
        18: (_BIG + 1, 0.0, "back\\slash"),
        245: (-3, float("nan"), "ünï→✓"),
        261: (-4, float("nan"), "q'\\'"),
        302: (-5, float(_BIG), "s53"),
    }
    rows = []
    for i in range(380):
        k, p = (i * 151) % 380, (i * 233) % 380
        k, d, s = special.get(i, (k, p / 2, f"s{p}"))
        rows.append((k, d, s, Decimal(p % 97) / 4, f"g{p % 11}", p % 13))

    def guards(b):
        return [
            (-100 - b, -1e9 - b, f" {b}", Decimal(0), "g0", 0),
            (2**60 + b, 1e300 + b, f"\uffff{b}", Decimal(0), "g0", 0),
        ]

    for b in range(2):
        st.insert(rows[b:240:2] + guards(b))
    # each file is a build task of its own: every first part holds 2 shards
    for c in ("k", "d", "s", "m"):
        st.index(c, "hash")
    st.index(("g", "h"))
    for b in range(5):
        st.insert(rows[240 + b :: 5] + guards(2 + b))  # 30 rows: the driver build
    return st


def _edge_probes():
    """(column, probe, declined) — ``declined`` when the driver reader must
    hand the probe to the Spark fallback."""
    from decimal import Decimal

    nan = float("nan")
    return [
        ("k", 7, False),
        ("k", 2.0, False),
        ("k", 1.5, True),
        ("k", _BIG + 1, False),
        ("k", float(_BIG), True),  # Spark compares as doubles: 2**53 and 2**53 + 1
        ("k", 999_999, False),
        ("d", 3, False),  # an int on a double key
        ("d", 0.0, False),
        ("d", -0.0, False),
        ("d", nan, True),
        ("d", float(_BIG), False),
        ("d", _BIG + 1, True),  # no exact double; Spark rounds it to 2**53
        ("d", 12345.5, False),
        ("s", "s7", False),
        ("s", "it's", False),
        ("s", "back\\slash", False),
        ("s", "ünï→✓", False),
        ("s", "q'\\'", False),
        ("s", "absent", False),
        ("m", 5, False),
        ("m", 1.5, True),  # a float on a decimal key
        ("m", Decimal("1.25"), True),  # not a probe type the driver takes
        ("m", 98, False),
        (("g", "h"), ("g3", 4), False),
        (("g", "h"), ("g3", 4.0), False),
        (("g", "h"), ("g3", 4.5), True),
        (("g", "h"), ("g0", 12), False),
        (("g", "h"), ("g99", 1), False),
    ]


def _check_edge_probes(st, tag):
    """Every edge probe: ``find`` returns the rows Spark's own filter over
    the raw table returns; the driver reader declines exactly the declined
    probes, which then take the Spark fallback; an accepted probe's hit
    set equals the Spark probe's over the same part-pruned files. Returns
    the probes that reached the posting layer (the rest were pruned by
    file stats, or too few files were left to probe). The ground truth
    and the Spark probes each run as one job for all probes."""
    from functools import reduce

    from pyspark.sql import functions as F

    from shortcut_spark.cmp import Condition
    from shortcut_spark.session import scoped_confs

    probes = []
    for column, probe, declined in _edge_probes():
        cols, vals = (column, probe) if isinstance(column, tuple) else ((column,), (probe,))
        conds = [eq(c, v) for c, v in zip(cols, vals)]
        probes.append((f"{tag} {column}={probe!r}", conds, declined))
    # truth: Spark's own filter over the raw table, one branch per probe,
    # evaluated by Spark and not pushed into the parquet reader (whose
    # dictionary filter tells -0.0 from 0.0, which Spark SQL equates)
    raw = st.find([], with_rowid=True)
    truth: dict[int, list] = {}
    branches = [
        reduce(lambda df, c: df.filter(F.col(c.column) == F.lit(c.cmp.value.payload)), conds, raw)
        .select(F.lit(i).alias("i"), ROWID)
        for i, (_, conds, _) in enumerate(probes)
    ]
    with scoped_confs(st.spark, {"spark.sql.parquet.filterPushdown": "false"}):
        for r in reduce(lambda x, y: x.unionByName(y), branches).collect():
            truth.setdefault(r["i"], []).append(r[ROWID])

    calls = []
    driver, fallback = st._posting_hits, st._probe_postings
    st._posting_hits = lambda spec, keys: calls.append("driver") or driver(spec, keys)
    st._probe_postings = lambda spec, point: calls.append("spark") or fallback(spec, point)
    consulted, spark_hits, driver_hits = [], [], {}
    try:
        for i, (where, conds, declined) in enumerate(probes):
            calls.clear()
            got = st.find(conds, with_rowid=True).collect()
            assert sorted(r[ROWID] for r in got) == sorted(truth.get(i, [])), where
            if calls:
                consulted.append(where)
                assert calls == (["driver", "spark"] if declined else ["driver"]), where
            spec = st.manifest.indices[",".join(c.column for c in conds)]
            vals = [c.cmp.value.payload for c in conds]
            hits = driver(spec, [tuple(vals) if spec.columns else vals[0]])
            assert (hits is None) == declined, where
            if hits is not None:
                driver_hits[i] = hits
                names = st._posting_schema(spec).names
                post = fallback(spec, vals[0])
                for n, c in zip(names, conds):
                    post = post.filter(Condition(n, c.cmp).to_column(names))
                spark_hits.append(post.select(F.lit(i).alias("i"), "__file_id"))
    finally:
        del st._posting_hits, st._probe_postings
    if spark_hits:
        got: dict[int, set] = {i: set() for i in driver_hits}
        for r in reduce(lambda x, y: x.unionByName(y), spark_hits).collect():
            got[r["i"]].add(r["__file_id"])
        assert got == driver_hits, tag
    return consulted


def test_find_many_equals_the_union_of_finds_on_edge_keys(spark, tmp_path):
    """``find_many`` of every edge probe of a column at once — ±0.0, NaN,
    2**53 neighbours, decimals, quotes and unicode, and keys the driver
    declines — returns the union of the per-key ``find`` rows."""
    st = _edge_store(spark, str(tmp_path / "s"))
    by_column: dict = {}
    for column, probe, _ in _edge_probes():
        if not isinstance(column, tuple):
            by_column.setdefault(column, []).append(probe)
    for column, keys in by_column.items():
        # compared as reprs: a NaN is unequal to itself
        want = sorted({repr(r) for k in keys for r in rows_of(st.find([eq(column, k)]))})
        assert sorted(map(repr, rows_of(st.find_many(column, keys)))) == want and want, column


def test_driver_posting_probe_matches_spark(spark, tmp_path):
    """The zero-job driver probe (pyarrow over the part-pruned posting
    files) answers every edge probe like Spark: over
    sharded and driver-built parts, after a copy-on-write delete and a
    deferred delete (postings of retired files must not leak into
    results), after compact, and on a reopened handle."""
    path = str(tmp_path / "s")
    st = _edge_store(spark, path)
    spec = st.manifest.indices["k"]
    assert any(len(st._posting_files([p])) > 1 for p in spec.parts), "no sharded part"
    n = len(_edge_probes()) - 1  # ("g99", 1) is out of every file's g range
    assert len(_check_edge_probes(st, "initial")) == n
    assert st.delete([eq("k", 7)]) == 1
    assert st.delete([eq("s", "it's")]) == 1
    assert len(_check_edge_probes(st, "cow")) == n
    assert st.delete([eq("k", 13)], defer=True) == 1
    assert st.delete([eq("d", 0.0)], defer=True) == 2  # -0.0 went with "it's"
    assert len(_check_edge_probes(st, "deferred")) == n
    st.compact(target_files=5)
    # the rewrite gathers the edge values into few files, so file stats
    # now rule out some probes before the postings are asked
    m = len(_check_edge_probes(st, "compact"))
    assert m >= 10
    assert len(_check_edge_probes(Store.open(spark, path), "reopen")) == m


# -- the driver read of a lookup answers like the Spark read -----------------


def _typed_store(spark, path):
    """One column of every driver-read type, an index on k (hash), d
    (btree) and s (trigram), over two driver-written batches and two
    Spark-written ones (INT96 timestamps). Values sit on the edges: NULL
    in every column, NaN and ±0.0, quotes, backslashes and unicode,
    timestamps at the ends of their range."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.sql import types as T

    from shortcut_spark import TrigramIndex

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("s", T.StringType()),
            T.StructField("t", T.StringType()),
            T.StructField("m", T.DecimalType(10, 2)),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tn", T.TimestampNTZType()),
            T.StructField("b", T.BinaryType()),
            T.StructField("f", T.BooleanType()),
        ]
    )
    utc = dt.timezone.utc
    words = ["it's", "back\\slash", "ünï→✓", "q'\\'", "plain", "abc", "xabcx"]
    edge_d = [0.0, -0.0, float("nan"), 1.5, -2.25, 1e300]
    edge_ts = [
        dt.datetime(1000, 1, 1, tzinfo=utc),  # collect() cannot render year 1
        dt.datetime(9999, 12, 31, 23, 59, 59, 999999, tzinfo=utc),
        dt.datetime(2024, 2, 29, 12, 30, 0, 123456, tzinfo=utc),
    ]

    def row(i):
        if i % 11 == 0:  # NULL everywhere but the key
            return (i,) + (None,) * 9
        ts = edge_ts[i % 3]
        return (
            i,
            edge_d[i % 6],
            words[i % 7],
            words[(i // 7) % 7],
            Decimal(i % 13) / 4,
            dt.date(1970, 1, 1) + dt.timedelta(days=(i * 37) % 3000 - 1500),
            ts,
            ts.replace(tzinfo=None),
            bytes([i % 5, 0, 255]),
            i % 2 == 0,
        )

    st = Store.create(spark, path, schema)
    st.index("k", "hash")
    st.index("d", "btree")
    st.index("s", TrigramIndex())
    for b in range(4):
        rows = [row(i) for i in range(b * 40, b * 40 + 40)]
        if b % 2:
            st.insert(rows)  # the driver insert: pyarrow-written
        else:
            st.insert(spark.createDataFrame(rows, schema))  # Spark-written
    # a file whose only zero is -0.0, beside NaN, and one whose only zero
    # is 0.0: row groups a pushed-down `d = 0.0` or `d = NaN` would skip
    for b, ds in enumerate(([-0.0, float("nan"), 5.0], [0.0, 7.0])):
        base = 160 + 10 * b
        st.insert([(base + j, d, *row(base + j)[2:]) for j, d in enumerate(ds * 3)])
    return st


def _typed_lookups():
    """(name, call on a Store) of every lookup shape the driver read serves."""
    import datetime as dt
    from decimal import Decimal

    from shortcut_spark import col_eq
    from shortcut_spark.cmp import Bound, contains

    finds = {
        "k": [eq("k", 41)],
        "k_miss": [eq("k", 10_001)],
        "d=0.0": [eq("d", 0.0)],
        "d=-0.0": [eq("d", -0.0)],
        "d=nan": [eq("d", float("nan"))],
        "d<=-0.0": [between("d", None, -0.0)],
        "d>=0.0": [between("d", 0.0, None)],
        "d(-0.0,2]": [between("d", Bound.excluded(-0.0), 2)],
        "s'": [eq("s", "it's")],
        "s\\": [eq("s", "back\\slash")],
        "s_uni": [eq("s", "ünï→✓")],
        "contains": [contains("s", "abc")],
        "contains_q": [contains("s", "'\\'")],
        "col_eq": [col_eq("s", "t")],
        "m": [eq("m", Decimal("1.25"))],
        "dt": [between("dt", dt.date(1969, 1, 1), dt.date(1971, 1, 1))],
        "ts": [eq("ts", dt.datetime(9999, 12, 31, 23, 59, 59, 999999))],
        "ts_range": [between("ts", None, dt.datetime(1500, 1, 1))],
        "tn": [eq("tn", dt.datetime(1000, 1, 1))],
        "b": [eq("b", bytes([3, 0, 255]))],
        "f": [eq("f", True), between("k", 20, 60)],
    }
    calls = []
    for name, conds in finds.items():
        calls.append((name, lambda st, c=conds: st.find(c, with_rowid=True)))
    for name in ("k", "d=0.0", "s'", "col_eq"):
        calls.append((name + "/no_rowid", lambda st, c=finds[name]: st.find(c)))
    calls += [
        ("or", lambda st: st.find_or([[eq("k", 41)], [eq("s", "q'\\'"), eq("f", True)]])),
        ("many_k", lambda st: st.find_many("k", list(range(0, 1000, 3)))),
        ("many_s", lambda st: st.find_many("s", ["it's", "back\\slash", "none"])),
        ("many_d", lambda st: st.find_many("d", [0.0, 1.5])),
    ]
    return calls


def _canon(df):
    """Rows in a comparable form: NaN equals NaN and -0.0 differs from 0.0."""
    return sorted(repr(tuple(r)) for r in df.collect())


def _lookups_agree(st, where):
    """Every lookup gives the same rows from the driver read and from the
    Spark read (bound 0); returns the driver read's job count per lookup."""
    jobs = {}
    for name, call in _typed_lookups():
        got, jobs[name] = _jobs(st.spark, lambda: _canon(call(st)))
        st.DRIVER_INSERT_ROWS = 0
        try:
            want = _canon(call(st))
        finally:
            del st.DRIVER_INSERT_ROWS
        assert got == want, f"{where} {name}"
    return jobs


def test_driver_read_matches_spark_read(spark, tmp_path, monkeypatch):
    """The zero-job driver read of a lookup (pyarrow, then a Spark
    ``LocalRelation``) returns what the Spark parquet read returns, for
    every driver type and edge value, with and without ``__rowid``, for
    ``find``, ``find_or`` and ``find_many``: on a fresh store, after a
    copy-on-write delete, after deferred deletes with the tombstone set
    filtered as a literal and as an anti-join, after compact and on a
    reopened handle. A point find takes no job in every state; a store
    with an array column keeps the Spark read."""
    from pyspark.sql import types as T

    path = str(tmp_path / "s")
    st = _typed_store(spark, path)
    assert _lookups_agree(st, "fresh")["k"] == 0
    assert st.delete([eq("k", 43)]) == 1
    assert _lookups_agree(st, "cow")["k"] == 0
    assert st.delete([eq("s", "it's")], defer=True) > 1
    assert st.delete([eq("k", 41)], defer=True) == 1
    assert _lookups_agree(st, "deferred")["k"] == 0
    # a tombstone set over the literal bound: the Spark read pays the
    # anti-join, the driver read still drops the ids in the scan
    monkeypatch.setattr(Store, "TOMB_INLINE_ROWS", 0)
    assert "LeftAnti" in _plan(st._read_files(st.manifest.files))
    jobs = _lookups_agree(st, "anti-join")
    assert jobs["k"] == jobs["s'"] == jobs["many_k"] == 0
    monkeypatch.undo()
    st.compact(target_files=2)
    assert st.manifest.tombstone_rows == 0
    assert _lookups_agree(st, "compact")["k"] == 0
    assert _lookups_agree(Store.open(spark, path), "reopen")["k"] == 0

    arr = Store.create(
        spark,
        str(tmp_path / "a"),
        T.StructType(
            [T.StructField("k", T.LongType()), T.StructField("a", T.ArrayType(T.LongType()))]
        ),
    )
    arr.insert([(i, [i, i + 1]) for i in range(10)])
    rows, jobs = _jobs(spark, lambda: arr.find([eq("k", 3)]).collect())
    assert [tuple(r) for r in rows] == [(3, [3, 4])] and jobs == 1


# -- an int zero on a float column keeps both zeros --------------------------


def test_int_zero_on_a_float_column_keeps_negative_zero(spark, tmp_path):
    """An int (or decimal) ``0`` on a double column selects the rows
    Spark's ``d = 0`` selects — ``-0.0`` as well as ``0.0`` — on the Spark
    read (bound 0), where the pushed-down filter meets a row group whose
    only zero is ``-0.0``: ``find`` with ``eq`` and ``between`` bounds,
    ``find_many`` and ``delete``. A file whose footer max is NaN is not
    pruned away."""
    from decimal import Decimal

    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType()), T.StructField("d", T.DoubleType())])
    st = Store.create(spark, str(tmp_path / "s"), schema)
    st.DRIVER_INSERT_ROWS = 0
    st.insert([(i, -0.0 if i % 2 else 5.0) for i in range(10)])  # its only zero: -0.0
    st.insert([(i, 0.0 if i % 2 else -5.0) for i in range(10, 20)])  # its only zero: 0.0
    # Spark's writer records this file's max as NaN, which proves nothing
    st.insert([(i, 0.0 if i % 2 else float("nan")) for i in range(20, 24)])
    assert [f.stats["d"][1] != f.stats["d"][1] for f in st.manifest.files] == [False, False, True]
    zeros = [k for k in range(24) if k % 2]

    def keys(df):
        return sorted(r["k"] for r in df.collect())

    for conds in (
        [eq("d", 0)],
        [eq("d", Decimal(0))],
        [between("d", 0, 1)],
        [between("d", 0, 0)],
        [between("d", -1, 0)],
    ):
        assert keys(st.find(conds)) == zeros, conds
    assert keys(st.find_many("d", [0, 7])) == zeros
    assert st.delete([eq("d", 0)]) == 12
    assert keys(st.find([])) == [k for k in range(24) if k % 2 == 0]


# -- lint: one driver-side parquet writer ------------------------------------


def test_parquet_written_with_pyarrow_only_by_write_parquet():
    """The library writes parquet with pyarrow in one place,
    ``store._write_parquet``, which the driver's ``Store._write_arrow``
    and the index build tasks share: no other ``pq.write_table`` call
    exists."""
    calls = []
    for root, _, names in os.walk(_PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "write_table"
                    ):
                        calls.append((os.path.relpath(path, _PKG), fn.name, node.lineno))
    stray = [c for c in calls if c[:2] != ("store.py", "_write_parquet")]
    assert not stray, f"write parquet with store._write_parquet: {stray}"
    assert len(calls) == 1


def test_data_files_read_on_the_driver_only_by_arrow_read():
    """The Store reads data files on the driver through one reader,
    ``Store._arrow_read`` (schema-bound, INT96 at Spark's precision): a
    raw ``pq.read_table`` appears only where it reads tombstone and
    changelog dirs, in ``_tomb_ids`` and ``delete_filter``."""
    path = os.path.join(_PKG, "store.py")
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    readers = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "read_table"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "pq"
            ):
                readers.add(fn.name)
    assert readers == {"_tomb_ids", "delete_filter"}, (
        f"read data files on the driver with Store._arrow_read: {sorted(readers)}"
    )


def test_no_pyarrow_cast_to_a_decimal_type():
    """Values become ``DECIMAL(27,6)`` only through Spark's cast: pyarrow's
    cast rounds the binary double where Spark rounds its decimal string
    (docs/SCALE.md, "Zero-job view refresh"), so ``store.py`` and
    ``matview.py`` pass no ``pa.decimal128``/``pa.decimal256`` type to a
    ``.cast`` or ``pc.cast``."""
    bad = []
    for name in ("store.py", "matview.py"):
        path = os.path.join(_PKG, name)
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "cast"
            ):
                continue
            for arg in [*node.args, *(k.value for k in node.keywords)]:
                if any(
                    isinstance(sub, ast.Attribute) and sub.attr in ("decimal128", "decimal256")
                    for sub in ast.walk(arg)
                ):
                    bad.append((name, node.lineno))
    assert not bad, f"cast to a decimal with Spark's cast, not pyarrow's: {bad}"


def test_driver_kernels_keep_rows_after_an_all_dead_file(spark, tmp_path):
    """pyspark's ``createDataFrame`` drops every row after a zero-row
    record batch that follows a non-empty one, and a file whose rows are
    all tombstoned reads as one: the driver read of a find, the driver
    delete and the small-batch index build (an index with no keys between
    two with keys) still see every row after it."""
    from pyspark.sql import types as T

    st = Store.create(spark, str(tmp_path / "s"), T.StructType.fromDDL("k long, v string"))
    for lo, v in ((0, "y"), (2, "x"), (4, "y")):
        st.insert([(lo + 1, v), (lo + 2, v)])
    st.delete([eq("v", "x")], defer=True)  # the middle file is all dead
    assert [r[0] for r in sorted(st.find([between("k", 0, 10)]).collect())] == [1, 2, 5, 6]
    assert st.delete([between("k", 0, 10)], defer=True) == 4
    assert len(st) == 0
    ix = Store.create(
        spark, str(tmp_path / "ix"), T.StructType.fromDDL("j long, s string, k long")
    )
    ix.index("j", "hash")
    ix.index("s", "trigram")
    ix.index("k", "hash")
    ix.insert([(i % 7, "ab", i) for i in range(50)])  # "ab" has no trigram
    assert {c: s.ndv for c, s in ix.manifest.indices.items()} == {"j": 7, "s": 0, "k": 50}


def test_manifest_committed_only_by_txn():
    """One code path commits and rolls back: ``self._commit()`` is called
    only inside ``Store._txn``, and ``Manifest.commit`` only inside
    ``Store._commit`` and ``Store.create``. A mutation stages its change
    and sets ``self._staged`` inside ``with self._txn():``."""
    allowed = {
        "_commit": {("store.py", "_txn")},
        "commit": {("store.py", "_commit"), ("store.py", "create")},
    }
    calls = []
    for root, _, names in os.walk(_PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in allowed
                    ):
                        calls.append(
                            (node.func.attr, os.path.relpath(path, _PKG), fn.name, node.lineno)
                        )
    stray = [c for c in calls if c[1:3] not in allowed[c[0]]]
    assert not stray, f"commit through Store._txn: {stray}"
    assert sorted(c[:3] for c in calls) == [
        ("_commit", "store.py", "_txn"),
        ("commit", "store.py", "_commit"),
        ("commit", "store.py", "create"),
    ]


# -- the driver delete writes what the Spark delete writes -------------------


def _num(v):
    """A part range or ndv with NaN spelled out and -0.0 folded into 0.0
    (Spark's min keeps the first of two equal zeros, pyarrow's the
    negative one; a probe compares them as numbers)."""
    if isinstance(v, list):
        return [_num(x) for x in v]
    return repr(v + 0.0) if isinstance(v, float) else v


def _index_state(st):
    """Every index's live postings (bloom bitsets), part ranges, ndv and
    row count, with each file id replaced by its file's (min rowid, max
    rowid, rows): the two delete paths may number survivor files apart."""
    from shortcut_spark.idx import BLOOM

    ident = {f.id: (f.min_rowid, f.max_rowid, f.rows) for f in st.manifest.files}
    out = {}
    for name, spec in st.manifest.indices.items():
        if spec.kind == BLOOM:
            bits = _spark_bitsets(st.spark, st, spec)
            out[name] = sorted((ident[i], b) for i, b in bits.items())
        else:
            post = _spark_postings(st.spark, st, spec)
            out[name] = sorted(repr((*r[:-1], ident[r[-1]])) for r in post.collect())
        assert out[name], name
        out[f"{name}.ranges"] = [_num(spec.part_stats.get(p)) for p in spec.parts]
        out[f"{name}.ndv"] = (spec.ndv, spec.rows)
    return out


def _delete_state(st, since):
    return {
        "rows": _canon(st.find([], with_rowid=True)),
        "changes": _canon(st.changes(since)),
        "len": len(st),
        "tombstones": (st.manifest.tombstone_rows, st._tomb_ids(st.CDF_DRIVER_READ_ROWS)),
        **_index_state(st),
    }


def test_driver_delete_matches_spark_delete(spark, tmp_path, monkeypatch):
    """A delete served on the driver (victims picked by Spark over a
    ``LocalRelation``, everything written with pyarrow) leaves the store
    the Spark delete (``DRIVER_INSERT_ROWS`` at 0) leaves, on twin copies
    of one store with every driver type, edge values and hash, btree,
    trigram, bloom and composite indexes: the same count, rows, change
    feed, postings, part ranges, ndv and tombstones, and the same on a
    reopened handle. Covered: a point delete, a residual ``Column``, a
    residual callable (its UDF job), deferred deletes, copy-on-write
    deletes over tombstones filtered as a literal and as an anti-join,
    and, after ``compact(sort_by=...)`` interleaves rowid ranges, a
    deferred delete and a copy-on-write delete in overlapping files."""
    import shutil

    from pyspark.sql import functions as F

    from shortcut_spark import BloomIndex
    from shortcut_spark.cmp import contains

    drv = _typed_store(spark, str(tmp_path / "base"))
    drv.index("ts", BloomIndex(m_bits=1 << 10, k=3))
    drv.index(("b", "dt"))
    drv.index("m", "hash")

    def twin(st, name):
        shutil.copytree(st.path, str(tmp_path / name))
        return Store.open(spark, str(tmp_path / name))

    spk = twin(drv, "spark")

    def both(op, jobs=0):
        v = drv.manifest.version
        n, got_jobs = _jobs(spark, lambda: op(drv))
        spk.DRIVER_INSERT_ROWS = 0
        try:
            assert op(spk) == n > 0
        finally:
            del spk.DRIVER_INSERT_ROWS
        assert got_jobs == jobs
        assert drv.manifest.version == spk.manifest.version == v + 1
        assert _delete_state(drv, v) == _delete_state(spk, v)

    both(lambda st: st.delete([eq("k", 43)]))
    both(lambda st: st.delete_filter([between("k", 20, 60)], F.col("f")))
    both(
        lambda st: st.delete_filter(
            [eq("s", "plain"), between("k", 80, 159)], lambda row: row[0] % 3 == 0
        ),
        jobs=1,
    )
    both(lambda st: st.delete([eq("d", float("nan")), between("k", 0, 90)], defer=True))
    both(lambda st: st.delete([contains("s", "abc"), between("k", 100, 175)], defer=True))
    # copy-on-write deletes in files that hold tombstoned rows (at most
    # three files each: Spark packs more small files into one task, and
    # so into one survivor file)
    both(lambda st: st.delete([eq("d", 0), between("k", 120, 175)]))
    monkeypatch.setattr(Store, "TOMB_INLINE_ROWS", 0)  # the Spark read anti-joins
    both(lambda st: st.delete([between("k", 0, 30), eq("s", "back\\slash")]))
    monkeypatch.undo()
    v0 = drv.manifest.version
    assert _delete_state(Store.open(spark, drv.path), v0) == _delete_state(spk, v0)

    drv.compact(target_files=3, sort_by="m")
    spans = sorted((f.min_rowid, f.max_rowid) for f in drv.manifest.files)
    assert any(a[1] >= b[0] for a, b in zip(spans, spans[1:])), "ranges must overlap"
    spk = twin(drv, "spark2")
    gone = min(r["k"] for r in drv.find([]).collect())
    both(lambda st: st.delete([eq("k", gone)], defer=True))
    # another live row in the file that holds the tombstoned one
    held = next(
        f
        for f in drv.manifest.files
        if (gone,) in drv._read_files([f], live=False).select("k").collect()
    )
    victim = max(r["k"] for r in drv._read_files([held]).select("k").collect())
    both(lambda st: st.delete([eq("k", victim)]))
    assert drv.manifest.tombstone_rows == 0  # the tombstone left with its file
    v0 = drv.manifest.version
    assert _delete_state(Store.open(spark, drv.path), v0) == _delete_state(spk, v0)


def test_wide_row_delete_takes_no_job(spark, tmp_path):
    """A one-row delete from a store of ~600-byte rows takes no job with
    either strategy, and the row is gone from every read."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("k", T.LongType())]
        + [T.StructField(f"w{i}", T.StringType()) for i in range(8)]
        + [T.StructField("u", T.LongType())]
    )
    st = Store.create(spark, str(tmp_path / "s"), schema)
    st.index("k", "hash")
    for b in range(3):
        st.insert(
            [(k, *[f"{k:08d}-{i}-" * 6 + "x" * 10 for i in range(8)], k % 7)
             for k in range(b, 3000, 3)]
        )
    for k, defer in ((30, False), (31, True)):
        n, jobs = _jobs(spark, lambda: st.delete([eq("k", k)], defer=defer))
        assert n == 1 and jobs == 0, defer
        assert st.find([eq("k", k)]).count() == 0
    assert len(st) == st.find([]).count() == 2998
