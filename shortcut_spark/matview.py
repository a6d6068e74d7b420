"""Incrementally-maintained materialized aggregate views over a Store.

EXTENSION — the reference engine has no derived-data surface (its tables
are plain row stores, ``src/lib.rs:25-26``); this is the standard
lakehouse companion feature: a grouped aggregate kept in sync with a base
``Store`` by consuming its CDC delta (``Store.changes``) instead of
recomputing from scratch.

Maintenance theory (classic self-maintainable IVM):

- ``count`` / ``sum`` / ``avg`` are **self-maintainable**: the new group
  state is a pure function of the old state and the signed delta
  (+row for insert, -row for delete). A refresh therefore reads ONLY the
  delta and the touched groups' current rows — never the base table.
- ``min`` / ``max`` are NOT self-maintainable under deletes (deleting the
  current minimum says nothing about the runner-up), so any view that
  carries one falls back to recomputing **only the touched groups** from
  the base — one scan semi-joined to the touched key set (file-level
  stats pruning applies when the base is Z-ordered/indexed on a group
  key).

Exactness: sums are carried in the state as ``DECIMAL(27,6)`` (the repo's
``dsum`` convention), so incremental +/- is order-independent and the
refreshed view is bit-identical to a from-scratch recompute — which is
exactly what the DuckDB oracle does. Each sum carries its non-null count
(``__c_<name>``) beside it, so ``avg`` divides by it and a group with no
non-null value reads NULL, as in SQL.

Two venues, one algebra: a self-maintainable view whose change window the
base's change feed serves, within ``Store.CDF_DRIVER_READ_ROWS`` change
rows and a state the driver may read, refreshes on the driver with no
Spark job (``_refresh_driver``: pyarrow reads, Spark's own decimal cast
over a ``LocalRelation``, an exact Python combine, a driver ``merge``).
Everything else — min/max views, windows the feed does not serve, bigger
deltas or states — runs the same combine as a Spark plan.

State storage is itself a ``Store`` (dogfooding): each refresh is ONE
atomic ``merge`` commit keyed on a null-safe md5 group key, so readers see
the pre-refresh or post-refresh view, never a torn middle — and the view
inherits snapshots/history/time-travel for free. Groups whose count
reaches zero are retained as ``__n = 0`` rows (filtered by ``read()``)
so a later re-insert is a plain upsert; ``vacuum_groups()`` physically
drops them.

100 TB story: refresh cost is ∝ |delta| + |touched groups|, not |base|.
``changes()`` prunes unread files driver-side by manifest ``max_rowid``,
the state scan is bounded by view cardinality, and the merge commit
tombstones only the touched groups' state rows.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import job_tag, local_relation, scoped_confs
from .store import Store, _spark_key

_DEC = T.DecimalType(27, 6)

#: agg kinds a view may carry; (kind, needs_col, self_maintainable)
_KINDS = {
    "count": (False, True),
    "sum": (True, True),
    "avg": (True, True),
    "min": (True, False),
    "max": (True, False),
}

_META = "matview.json"
_GK = "__gk"
_N = "__n"


def _gk_expr(keys: Sequence[str]):
    """Null-safe canonical group key: md5 of the keys' JSON struct with
    explicit nulls — NULL and '' hash differently, and joins on it are
    null-safe without <=> plumbing."""
    return F.md5(
        F.to_json(
            F.struct(*[F.col(k).cast("string").alias(k) for k in keys]),
            {"ignoreNullFields": "false"},
        )
    )


class MatView:
    """A grouped-aggregate view over a base ``Store``, refreshed from CDC.

    ``aggs`` is a list of ``(out_name, kind, col)`` with kind one of
    count | sum | avg | min | max (col is None for count).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        base: Store,
        keys: list[str],
        aggs: list[tuple[str, str, str | None]],
        state: Store,
        base_version: int,
    ):
        self.spark = spark
        self.path = path
        self.base = base
        self.keys = list(keys)
        self.aggs = [tuple(a) for a in aggs]
        self.state = state
        self.base_version = base_version
        #: observability: did the last refresh scan the base table?
        self.last_refresh_scanned_base = False
        #: observability: Spark jobs the last refresh ran (job-group count)
        self.last_refresh_jobs = 0
        self._self_maintainable = all(_KINDS[k][1] for _, k, _ in self.aggs)
        # built once: each build is a chain of py4j calls
        self._gk = _gk_expr(self.keys)

    # -- construction -------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        base: Store,
        keys: Sequence[str],
        aggs: Sequence[tuple[str, str, str | None]],
    ) -> "MatView":
        keys = list(keys)
        aggs = [tuple(a) for a in aggs]
        base_fields = {f.name: f for f in base.schema.fields}
        for k in keys:
            if k not in base_fields:
                raise ValueError(f"no such group key {k!r}")
        for name, kind, col in aggs:
            if kind not in _KINDS:
                raise ValueError(f"unknown agg kind {kind!r}")
            if _KINDS[kind][0] and col not in base_fields:
                raise ValueError(f"no such agg column {col!r}")
        fields = [T.StructField(_GK, T.StringType(), False)]
        fields += [
            T.StructField(k, base_fields[k].dataType, True) for k in keys
        ]
        fields.append(T.StructField(_N, T.LongType(), True))
        for name, kind, col in aggs:
            if kind in ("sum", "avg"):
                fields.append(T.StructField(f"__s_{name}", _DEC, True))
                fields.append(T.StructField(f"__c_{name}", T.LongType(), True))
            elif kind == "min":
                fields.append(
                    T.StructField(f"__m_{name}", base_fields[col].dataType, True)
                )
            elif kind == "max":
                fields.append(
                    T.StructField(f"__x_{name}", base_fields[col].dataType, True)
                )
        schema = T.StructType(fields)
        state = Store.create(spark, os.path.join(path, "state"), schema)
        mv = cls(spark, path, base, keys, aggs, state, base.manifest.version)
        full = mv._full_agg(base.find([]))
        state.insert(mv._to_state_rows(full))
        mv._save_meta()
        return mv

    @classmethod
    def open(cls, spark: SparkSession, path: str, base: Store | None = None) -> "MatView":
        with open(os.path.join(path, _META)) as fh:
            meta = json.load(fh)
        if base is None:
            base = Store.open(spark, meta["base_path"])
        state = Store.open(spark, os.path.join(path, "state"))
        missing = [
            f"__c_{name}"
            for name, kind, _ in meta["aggs"]
            if kind in ("sum", "avg") and f"__c_{name}" not in state.schema.names
        ]
        if missing:
            raise ValueError(
                f"the view at {path!r} has no non-null counts {missing} (it "
                "predates them); recreate it with MatView.create"
            )
        # base_version prefers the STATE STORE's committed manifest props
        # (r12: refresh stamps it inside the merge's own manifest flip,
        # so state + version advance atomically — a crash between the old
        # merge commit and the meta-JSON rewrite could otherwise reopen
        # with a stale version and re-apply, hence double-count, the
        # delta). The JSON value remains the create-time fallback.
        committed = state.manifest.props.get("mv_base_version")
        base_version = (
            int(committed) if committed is not None else meta["base_version"]
        )
        return cls(
            spark,
            path,
            base,
            meta["keys"],
            [tuple(a) for a in meta["aggs"]],
            state,
            base_version,
        )

    def _save_meta(self) -> None:
        tmp = os.path.join(self.path, _META + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "base_path": self.base.path,
                    "base_version": self.base_version,
                    "keys": self.keys,
                    "aggs": [list(a) for a in self.aggs],
                },
                fh,
            )
        os.replace(tmp, os.path.join(self.path, _META))

    # -- aggregation shapes -------------------------------------------

    def _full_agg(self, df: DataFrame) -> DataFrame:
        """From-scratch grouped aggregate in internal state shape
        (group keys + __n + per-agg state columns)."""
        exprs = [F.count(F.lit(1)).alias(_N)]
        for name, kind, col in self.aggs:
            if kind in ("sum", "avg"):
                exprs.append(F.sum(F.col(col).cast(_DEC)).alias(f"__s_{name}"))
                exprs.append(F.count(F.col(col)).alias(f"__c_{name}"))
            elif kind == "min":
                exprs.append(F.min(col).alias(f"__m_{name}"))
            elif kind == "max":
                exprs.append(F.max(col).alias(f"__x_{name}"))
        return df.groupBy(*self.keys).agg(*exprs)

    def _to_state_rows(self, agged: DataFrame) -> DataFrame:
        """Attach __gk and project to the exact state schema (order AND
        types — Spark widens SUM(DECIMAL(27,6)) to (37,6), so every
        column is cast back to its declared state type)."""
        with_gk = agged.withColumn(_GK, self._gk)
        return with_gk.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in self.state.schema.fields]
        )

    # -- refresh -------------------------------------------------------

    def refresh(self) -> int:
        """Bring the view up to the base's current version. Returns the
        number of groups touched (upserted into the state store).

        A self-maintainable view whose window the change feed serves, and
        whose change rows and state the driver may read, refreshes with no
        Spark job: :meth:`_refresh_driver` combines on the driver and the
        state's ``merge`` of the literal rows is a driver merge. Every
        other refresh combines on Spark. A bounded one (:meth:`_static_confs`)
        collects the combined rows and merges them as a literal batch, as
        the driver refresh does; an unbounded one materializes them ONCE
        (``localCheckpoint``) before the merge — the merge needs them twice
        (victims key probe + the insert itself), and without the cut each
        use would re-execute the whole delta-agg + state-scan + join plan
        from scratch. Either way the view's new
        base version commits in the merge's one state commit. Jobs per
        refresh are counted under a job tag of their own (:func:`job_tag`)
        and exposed as ``last_refresh_jobs`` (observability for the
        many-small-jobs failure mode)."""
        cur = self.base.manifest.version
        if cur == self.base_version:
            self.last_refresh_scanned_base = False
            self.last_refresh_jobs = 0
            return 0
        with job_tag(self.spark) as jobs:
            rows = self._refresh_driver() if self._self_maintainable else None
            confs = {} if rows is not None else self._static_confs(cur)
            with scoped_confs(self.spark, confs):
                if rows is None:
                    delta = self.base.changes(self.base_version)
                    touched = (
                        self._combine_self_maintainable(delta)
                        if self._self_maintainable
                        else self._recompute_touched(delta)
                    )
                    # lazy cut (r12): the merge's victims probe is the first
                    # action over ``rows`` and materializes the checkpoint
                    # in ITS job
                    rows = self._to_state_rows(touched)
                    rows = rows.collect() if confs else rows.localCheckpoint(eager=False)
                try:
                    # The view's new base_version is STAGED as a manifest
                    # prop in the same transaction as the merge, so it
                    # persists inside the merge's one atomic manifest flip
                    # (r12, the stream_epoch pattern) and a failed merge
                    # takes it back: state and version can never be
                    # durable separately.
                    with self.state._txn():
                        self.state.manifest.props["mv_base_version"] = str(cur)
                        n_groups, _ = self.state.merge(rows, on=_GK)
                finally:
                    if isinstance(rows, DataFrame):
                        rows.unpersist()
            self.last_refresh_scanned_base = not self._self_maintainable
            self.base_version = cur
        self.last_refresh_jobs = len(jobs)
        return n_groups

    def _static_confs(self, cur: int) -> dict:
        """The session confs of a Spark refresh to ``cur``: AQE off and one
        shuffle partition when the plan's inputs are bounded small, else
        none (r9). A micro-batch refresh plan has ~8 exchanges and AQE
        materializes EACH as its own Spark job; a bulk delta keeps AQE
        (skew joins / partition coalescing earn their jobs there).
        Identical results either way — AQE only re-plans execution. When
        the change feed serves a self-maintainable view's window, the plan
        never touches the base snapshots — its inputs are the delta (≈
        est) and the state store (semi-probe + combine join + merge
        victims), so the gate bounds est + 2·STATE rows; otherwise the
        snapshot-diff delete tier anti-joins base rowid scans (AQE's
        dynamic broadcast measured +35% at sf0.1) and the gate bounds
        base + delta. With AQE off every exchange fans to the session's
        shuffle partitions (32 × ~8 exchanges measured slower than the
        AQE jobs), so the bounded plan runs on one partition, and with no
        broadcast: a statically planned broadcast is a job of its own, while
        a sort-merge join of one partition runs inside its stage's job (the
        state merge's victims semi-join included). A 100-row min/max
        refresh runs 1 job with it and 11 without (docs/SCALE.md, "One
        DataFrame insert path")."""
        est = self._estimate_delta_rows(cur)
        feed = (
            self._self_maintainable
            and self.base._cdf_window_rels(self.base_version) is not None
        )
        bound = self.state.manifest.live_rows if feed else self.base.manifest.live_rows
        if est is None or est + 2 * bound > 100_000:
            return {}
        return {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "1",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }

    def _estimate_delta_rows(self, cur_version: int) -> int | None:
        """Driver-side (zero-job) estimate of the CDC delta's row count
        between the view's snapshot and ``cur_version``: appends are
        exactly the rowid-watermark advance (rowids are never reused and
        rewrites preserve them); deletes fall out of the live-row balance
        old_live + appended − cur_live (exact when nothing was restored —
        a resurrection-tier refresh just loses the fast path). None when
        the old snapshot's manifest is no longer retained (vacuumed):
        the caller then keeps the conservative AQE plan."""
        from .manifest import Manifest

        try:
            old = Manifest.load(self.base.path, version=self.base_version)
        except FileNotFoundError:
            return None
        cur = self.base.manifest
        appended = max(0, cur.rowid - old.rowid)
        deleted = max(0, old.live_rows + appended - cur.live_rows)
        return appended + deleted

    def _combine_self_maintainable(self, delta: DataFrame) -> DataFrame:
        """IVM fast path: new group state = old state + signed delta.
        Reads the delta and the state store only — NEVER the base."""
        sgn = F.when(F.col("change_type") == F.lit("insert"), F.lit(1)).otherwise(
            F.lit(-1)
        )
        exprs = [F.sum(sgn).alias("__dn")]
        for name, kind, col in self.aggs:
            if kind in ("sum", "avg"):
                exprs.append(
                    F.sum(
                        F.when(
                            F.col(col).isNotNull(),
                            (sgn.cast(_DEC) * F.col(col).cast(_DEC)).cast(_DEC),
                        )
                    ).alias(f"__ds_{name}")
                )
                exprs.append(
                    F.sum(F.when(F.col(col).isNotNull(), sgn)).alias(f"__dc_{name}")
                )
        d = (
            delta.groupBy(*self.keys)
            .agg(*exprs)
            .withColumn(_GK, self._gk)
        )
        old = (
            self.state.find([])
            .join(d.select(_GK), _GK, "left_semi")
        )
        comb = old.alias("o").join(d.alias("d"), _GK, "full_outer")
        sel = [
            F.coalesce(F.col(f"o.{k}"), F.col(f"d.{k}")).alias(k) for k in self.keys
        ]
        sel.append(
            (
                F.coalesce(F.col(f"o.{_N}"), F.lit(0))
                + F.coalesce(F.col("d.__dn"), F.lit(0))
            ).alias(_N)
        )
        for name, kind, col in self.aggs:
            if kind in ("sum", "avg"):
                sel.append(
                    (
                        F.coalesce(F.col(f"o.__s_{name}"), F.lit(0).cast(_DEC))
                        + F.coalesce(F.col(f"d.__ds_{name}"), F.lit(0).cast(_DEC))
                    )
                    .cast(_DEC)
                    .alias(f"__s_{name}")
                )
                sel.append(
                    (
                        F.coalesce(F.col(f"o.__c_{name}"), F.lit(0))
                        + F.coalesce(F.col(f"d.__dc_{name}"), F.lit(0))
                    ).alias(f"__c_{name}")
                )
        return comb.select(*sel)

    def _refresh_driver(self) -> list[tuple] | None:
        """The driver twin of :meth:`_combine_self_maintainable`, with its
        semantics and no Spark job: the touched groups' new state rows,
        in state schema order, for :meth:`refresh` to merge. None for a
        keyless view (one global group), when the base cannot serve the
        change window on the driver
        (:meth:`Store._change_tables`), the driver may not read the state
        (:meth:`Store._driver_tables`), or a decimal cast or a combined
        sum overflows ``DECIMAL(27,6)`` — before anything is staged, so the
        Spark path decides (under ANSI it raises).

        The window's rows are grouped with Spark's grouping equality
        (:func:`_spark_key`). Each summed value is Spark's own
        ``cast(v as DECIMAL(27,6))``, from a projection over an Arrow-built
        ``LocalRelation`` that ``ConvertToLocalRelation`` evaluates on the
        driver (pyarrow's cast rounds the binary double and Spark its
        decimal string, so they differ; docs/SCALE.md), and the signed
        values are summed exactly in Python. Each group's ``__gk`` comes
        from :func:`_gk_expr` over a ``LocalRelation`` of the distinct
        keys, and the combine adds old state and signed delta: a group
        that nets to zero stays as an ``__n = 0`` row."""
        import decimal

        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        if not self.keys:
            return None
        sums = [(name, col) for name, kind, col in self.aggs if kind in ("sum", "avg")]
        got = self.base._change_tables(
            self.base_version, list(dict.fromkeys([*self.keys, *(c for _, c in sums)]))
        )
        if got is None:
            return None
        state = self.state._driver_tables(self.state.manifest.files)
        if state is None:
            return None
        ins, dels = got
        n_ins = ins.num_rows
        if not n_ins + dels.num_rows:
            return []
        schema = self.base.schema
        # the distinct summed columns, Spark-cast row by row
        scols = list(dict.fromkeys(c for _, c in sums))
        vals = [()] * (n_ins + dels.num_rows)
        if scols:
            rel = local_relation(
                self.spark,
                [t.select(scols) for t in (ins, dels)],
                T.StructType([schema[c] for c in scols]),
            )
            vals = rel.select(*[F.col(c).try_cast(_DEC) for c in scols]).collect()
            # a non-null value whose cast is NULL overflowed (or was NaN)
            if [sum(v is None for v in col) for col in zip(*vals)] != [
                ins[c].null_count + dels[c].null_count for c in scols
            ]:
                return None
        keys = zip(*[ins[k].to_pylist() + dels[k].to_pylist() for k in self.keys])
        # group -> [key, Δ__n, Δ sum and Δ non-null count per summed column]
        groups: dict = {}
        # exact: at most CDF_DRIVER_READ_ROWS terms, each below 10**21
        with decimal.localcontext(prec=60):
            for i, (key, v) in enumerate(zip(keys, vals)):
                sgn = 1 if i < n_ins else -1
                g = groups.get(ck := tuple(map(_spark_key, key)))
                if g is None:
                    key = [x + 0.0 if isinstance(x, float) else x for x in key]
                    g = groups[ck] = [key, 0, [0] * len(scols), [0] * len(scols)]
                g[1] += sgn
                for j, d in enumerate(v):
                    if d is not None:
                        g[2][j] += sgn * d
                        g[3][j] += sgn
            kschema = T.StructType([schema[k] for k in self.keys])
            keys = pa.Table.from_pylist(
                [
                    {f.name: Store._driver_cell(f.dataType, v) for f, v in zip(kschema, g[0])}
                    for g in groups.values()
                ],
                schema=to_arrow_schema(kschema),
            )
            gks = [
                r[0]
                for r in local_relation(self.spark, [keys], kschema)
                .select(self._gk)
                .collect()
            ]
            want = pa.array(gks, pa.string())
            old = {
                r[_GK]: r for t in state for r in t.filter(pc.is_in(t[_GK], want)).to_pylist()
            }
            limit = decimal.Decimal(10) ** 21
            out = []
            for (key, dn, ds, dc), gk in zip(groups.values(), gks):
                new = {**dict(zip(self.keys, key)), **old.get(gk, {}), _GK: gk}
                new[_N] = (new.get(_N) or 0) + dn
                for name, col in sums:
                    j = scols.index(col)
                    new[f"__s_{name}"] = (new.get(f"__s_{name}") or 0) + ds[j]
                    if abs(new[f"__s_{name}"]) >= limit:
                        return None
                    new[f"__c_{name}"] = (new.get(f"__c_{name}") or 0) + dc[j]
                out.append(tuple(new[f] for f in self.state.schema.names))
        return out

    def _recompute_touched(self, delta: DataFrame) -> DataFrame:
        """min/max path: recompute ONLY the touched groups from the base.
        Groups that vanished entirely come back as __n = 0 rows so the
        merge tombstones them in the same commit."""
        touched = (
            delta.withColumn(_GK, self._gk)
            .select(_GK, *self.keys)
            .distinct()
        )
        base_rows = (
            self.base.find([])
            .withColumn(_GK, self._gk)
            .join(touched.select(_GK), _GK, "left_semi")
        )
        recomputed = self._full_agg(base_rows.drop(_GK))
        vanished = touched.join(
            recomputed.withColumn(_GK, self._gk).select(_GK),
            _GK,
            "left_anti",
        ).select(*self.keys)
        zero = vanished.withColumn(_N, F.lit(0).cast("long"))
        for name, kind, col in self.aggs:
            if kind in ("sum", "avg"):
                zero = zero.withColumn(f"__s_{name}", F.lit(None).cast(_DEC))
                zero = zero.withColumn(f"__c_{name}", F.lit(0).cast("long"))
            elif kind == "min":
                dt = dict((f.name, f.dataType) for f in self.state.schema.fields)[
                    f"__m_{name}"
                ]
                zero = zero.withColumn(f"__m_{name}", F.lit(None).cast(dt))
            elif kind == "max":
                dt = dict((f.name, f.dataType) for f in self.state.schema.fields)[
                    f"__x_{name}"
                ]
                zero = zero.withColumn(f"__x_{name}", F.lit(None).cast(dt))
        return recomputed.unionByName(zero)

    # -- read ----------------------------------------------------------

    def read(self) -> DataFrame:
        """The view in user shape: group keys + finalized aggregates.
        avg finalizes as exact-decimal sum (cast double) / non-null count
        — the ``davg`` twin convention; as in SQL, sum and avg are NULL
        for a group with no non-null value."""
        df = self.state.find([]).filter(F.col(_N) > 0)
        sel = [F.col(k) for k in self.keys]
        for name, kind, col in self.aggs:
            if kind == "count":
                sel.append(F.col(_N).alias(name))
            elif kind in ("sum", "avg"):
                s, c = F.col(f"__s_{name}").cast("double"), F.col(f"__c_{name}")
                sel.append(F.when(c > 0, s if kind == "sum" else s / c).alias(name))
            elif kind == "min":
                sel.append(F.col(f"__m_{name}").alias(name))
            elif kind == "max":
                sel.append(F.col(f"__x_{name}").alias(name))
        return df.select(*sel)

    def vacuum_groups(self) -> int:
        """Physically drop retained __n = 0 group rows (cosmetic — read()
        already filters them). One CoW delete commit."""
        from .cmp import eq

        return self.state.delete([eq(_N, 0)])
