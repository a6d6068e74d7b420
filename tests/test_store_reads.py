"""Reads of Store-owned files: the bounded tombstone set filters reads as a
rowid literal and gives the same answers as the anti-join it replaces, and
every read of a Store-owned parquet dir carries its schema."""

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq

from shortcut_spark import MatView, Store, between, eq
from shortcut_spark.store import ROWID


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
