"""Session-conf scoping (shortcut_spark/session.py ``scoped_confs``) and
job counting (``job_tag``).

Library code flips session-global confs only through ``scoped_confs``;
these tests pin the helper's contract (exception-safe, nested-safe,
unset keys come back unset), restore at every static-compile site under
an injected failure, and a source lint that keeps ``conf.set`` /
``conf.unset`` calls out of every other module."""

import ast
import os

import pytest

from shortcut_spark import Store
from shortcut_spark.session import job_tag, scoped_confs

AQE = "spark.sql.adaptive.enabled"
SHP = "spark.sql.shuffle.partitions"
KEY = "spark.shortcut.test.scoped"


def test_scoped_confs_restores_on_exit_and_on_exception(spark):
    with scoped_confs(spark, {KEY: "outer"}):
        with scoped_confs(spark, {KEY: "a"}):
            assert spark.conf.get(KEY) == "a"
        assert spark.conf.get(KEY) == "outer"
        with pytest.raises(RuntimeError, match="boom"):
            with scoped_confs(spark, {KEY: "b"}):
                assert spark.conf.get(KEY) == "b"
                raise RuntimeError("boom")
        assert spark.conf.get(KEY) == "outer"
    assert spark.conf.get(KEY, None) is None


def test_scoped_confs_nested_inner_restores_outer_values(spark):
    prior = spark.conf.get(SHP)
    with scoped_confs(spark, {AQE: "false", SHP: "3"}):
        with scoped_confs(spark, {SHP: "1"}):
            assert spark.conf.get(SHP) == "1"
            assert spark.conf.get(AQE) == "false"
        assert spark.conf.get(SHP) == "3"
        assert spark.conf.get(AQE) == "false"
        with scoped_confs(spark, {}):  # the gated-off form is a no-op
            assert spark.conf.get(SHP) == "3"
    assert spark.conf.get(SHP) == prior
    assert spark.conf.get(AQE) == "true"


def test_scoped_confs_unset_key_comes_back_unset(spark):
    # a registered SQL conf the session never sets: a plain get() returns
    # its default, so only get(k, None) tells "unset" from "set to the
    # default" — restoring the default string would pin it for good
    key = "spark.sql.files.openCostInBytes"
    assert spark.conf.get(key, None) is None
    assert spark.conf.get(key) is not None
    with scoped_confs(spark, {key: "7", KEY: "x"}):
        assert spark.conf.get(key) == "7"
        assert spark.conf.get(KEY) == "x"
    assert spark.conf.get(key, None) is None
    assert spark.conf.get(KEY, None) is None


# -- every static-compile site restores both confs on failure ------------


class _Boom(Exception):
    pass


def _fail_inside_scope(spark, monkeypatch, owner, name):
    """Make ``owner.name`` raise when it runs inside a static-compile
    scope (AQE flipped off) and pass through otherwise, so the failure
    lands exactly in the region the site's scope covers."""
    orig = getattr(owner, name)

    def wrapped(*args, **kwargs):
        if spark.conf.get(AQE) == "false":
            raise _Boom(name)
        return orig(*args, **kwargs)

    monkeypatch.setattr(owner, name, wrapped)


def _matview_small_refresh(spark, tmp_path, monkeypatch):
    from pyspark.sql import types as T

    from shortcut_spark.matview import MatView

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.DoubleType())]
    )
    base = Store.create(spark, str(tmp_path / "b"), schema)
    base.insert([("a", 1.0), ("b", 2.0)])
    # a max view: a small count/sum refresh runs on the driver, outside
    # any static-compile scope
    mv = MatView.create(spark, str(tmp_path / "v"), base, ["k"], [("mx", "max", "v")])
    base.insert([("a", 3.0)])
    _fail_inside_scope(spark, monkeypatch, Store, "merge")
    mv.refresh()


def _cc_loop(spark, tmp_path, monkeypatch):
    from shortcut_spark.operators import graph

    monkeypatch.setattr(graph, "CC_DRIVER_EDGES", 0)
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    _fail_inside_scope(spark, monkeypatch, type(edges), "localCheckpoint")
    graph.connected_components(edges).collect()


def _pagerank_loop(spark, tmp_path, monkeypatch):
    from shortcut_spark.operators import graph

    monkeypatch.setattr(graph, "CC_DRIVER_EDGES", 0)
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    _fail_inside_scope(spark, monkeypatch, type(edges), "localCheckpoint")
    graph.pagerank(edges).collect()


def _kmeans_rollup(spark, tmp_path, monkeypatch):
    from shortcut_spark.operators import cluster

    monkeypatch.setattr(cluster, "_FORCE_EXPR", True)  # the distributed loop
    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i // 3)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    _fail_inside_scope(spark, monkeypatch, type(emb), "collect")
    cluster.kmeans_exact(emb, k=2, iters=2).collect()


@pytest.mark.parametrize(
    "site",
    [_matview_small_refresh, _cc_loop, _pagerank_loop, _kmeans_rollup],
    ids=["matview_small_refresh", "cc_loop", "pagerank_loop", "kmeans_rollup"],
)
def test_static_compile_sites_restore_confs_on_failure(spark, tmp_path, monkeypatch, site):
    # an outer scope sets distinctive priors: the site's own scope must
    # hand back exactly these, not the session or Spark defaults
    with scoped_confs(spark, {AQE: "true", SHP: "3"}):
        with pytest.raises(_Boom):
            site(spark, tmp_path, monkeypatch)
        assert spark.conf.get(AQE) == "true"
        assert spark.conf.get(SHP) == "3"


# -- lint: session confs are written only through session.py -------------

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "shortcut_spark")

# (module path under shortcut_spark/, conf key) -> why it may write directly
_CONF_WRITE_ALLOWLIST = {
    ("sources/__init__.py", "spark.sql.legacy.parquet.nanosAsLong"): (
        "one-way fallback for older Spark: the DataFrame load_fixture returns "
        "reads the file lazily, so the conf must outlive the call"
    ),
}


def _conf_writes():
    """(module path, conf key or None, line) for every ``<x>.conf.set(...)``
    / ``<x>.conf.unset(...)`` call in the package outside session.py."""
    found = []
    for root, _dirs, names in os.walk(_PKG):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, _PKG).replace(os.sep, "/")
            if rel == "session.py":
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("set", "unset")
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "conf"
                ):
                    arg = node.args[0] if node.args else None
                    key = arg.value if isinstance(arg, ast.Constant) else None
                    found.append((rel, key, node.lineno))
    return found


def test_session_confs_written_only_through_session_module():
    writes = _conf_writes()
    stray = [w for w in writes if (w[0], w[1]) not in _CONF_WRITE_ALLOWLIST]
    assert not stray, f"use session.scoped_confs instead of conf.set/unset: {stray}"
    # every allowlisted write still exists (a stale entry would hide a new one)
    assert {(w[0], w[1]) for w in writes} == set(_CONF_WRITE_ALLOWLIST)


def test_job_tag_counts_the_body_jobs_and_keeps_the_callers_tags(spark):
    """A tag yields the ids of the jobs its body ran, nested tags included,
    and leaves the caller's own job tags as they were, on exit and on an
    exception."""
    sc = spark.sparkContext
    sc.addJobTag("caller-tag")
    try:
        with job_tag(spark) as idle:
            pass
        with job_tag(spark) as outer:
            spark.range(10).collect()
            with job_tag(spark) as inner:
                spark.range(5).collect()
        with pytest.raises(RuntimeError, match="boom"):
            with job_tag(spark) as failed:
                spark.range(3).collect()
                raise RuntimeError("boom")
        assert set(sc.getJobTags()) == {"caller-tag"}
    finally:
        sc.removeJobTag("caller-tag")
    assert idle == []
    assert inner and set(inner) < set(outer) and outer == sorted(outer)
    assert failed and not set(failed) & set(outer)
