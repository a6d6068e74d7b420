"""The ``Store`` — reference-shaped table API over parquet + manifest.

Reference surface (``src/lib.rs``): ``Store::new`` (``:80-87``), ``insert``
(``:178-187``), ``find`` (``:130-137``), ``delete``/``delete_filter``
(``:140-169``), ``index`` (``:195-205``). Same semantics, re-expressed for
a shared-nothing cluster:

- **insert** is batch-first (a single row is the degenerate batch). Each
  batch gets dense autoincrement ``__rowid`` values from the manifest
  watermark (reference ``rowid`` counter, ``src/lib.rs:57,186``; modeled on
  SQLite rowids, ``src/lib.rs:7-9``). Dense numbering uses per-partition
  counts + a window — NOT ``monotonically_increasing_id`` alone, which is
  sparse. Indices are updated as part of the same commit, mirroring
  index-maintenance-on-insert (``src/lib.rs:181-184``).
- **find** compiles the AND-list of conditions to one Spark filter, after
  index-driven *file pruning* (see ``plans.access_path``). The pruned scan
  re-checks every condition — the reference's superset-then-residual-filter
  contract (``src/lib.rs:89-91,133``). Returns a lazy ``DataFrame`` (the
  analogue of ``find``'s lazy iterator, ``src/lib.rs:134-136``): nothing
  runs until an action.
- **delete / delete_filter** are copy-on-write: affected files are rewritten
  without the victim rows and the manifest flips atomically
  (``src/lib.rs:149-169``; add/remove-only abstraction per ``README.md:32``).
  ``delete_filter``'s arbitrary row closure (``src/lib.rs:149``) is accepted
  as a Spark ``Column`` (fast path) or a Python callable (row-at-a-time UDF
  — the slow path, parity only).
- **index** backfills from all live rows then registers, replacing any
  existing index on the column (``src/lib.rs:195-205``; silent replace at
  ``:204``). Works before or after data exists (``src/lib.rs:330-345``).
- schema arity is *always* validated (the reference only
  ``debug_assert``s, ``src/lib.rs:179`` — "bleh"; SURVEY §4.3).

Scale notes (100 TB design point): data and posting files are immutable
parquet; commits only touch metadata + affected files; a full scan is a
plain multi-file parquet read that Catalyst pushes filters into; index
lookups read a key-pruned slice of the posting parts (small) and then only
the surviving data files. Manifest file lists would graduate to
Iceberg-style avro manifests at millions of files — the JSON layout here
keeps the same information.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import json
import os
import uuid
from typing import Any, Callable, Iterable, Sequence

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .cmp import Condition, _float_zero, conjunction, eq
from .idx import BLOOM, BTREE, COMPOSITE, HASH, TRIGRAM, IndexSpec, as_index_kind
from .manifest import DataFile, Manifest
from .plans import AccessPath, choose_access_path
from .session import local_relation, scoped_confs

ROWID = "__rowid"

__all__ = ["Store", "ROWID"]


def _bloom_positions_py(keys: Sequence, m_bits: int, k: int):
    """The k bit positions of each of ``keys`` in an ``m_bits``-bit bloom
    filter, one row of an int64 array per key: position_i =
    md5("<key>:<i>") taken as a 60-bit int, mod m. The one bloom hash:
    the build (:func:`_index_part`) sets these bits and the probe tests
    them. Each key's "<key>:" state is hashed once and copied per i, and
    numpy reads the top 60 bits of every digest: twice the per-key speed
    of parsing each hex digest (docs/SCALE.md, "One index kernel")."""
    import hashlib

    import numpy as np

    suffixes = [str(i).encode() for i in range(k)]
    out = bytearray()
    for key in keys:
        h = hashlib.md5(f"{key}:".encode())
        for sfx in suffixes:
            c = h.copy()
            c.update(sfx)
            out += c.digest()
    top = np.frombuffer(bytes(out), ">u8")[::2] >> np.uint64(4)
    return (top % np.uint64(m_bits)).astype(np.int64).reshape(-1, k)


def _write_parquet(path: str, table, row_group_size=None) -> None:
    """Write the arrow ``table`` as the parquet file ``path``, its dir made
    when missing, under a hidden name renamed into place once complete:
    a killed writer leaves no partial ``*.parquet`` for a listing."""
    d, name = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{uuid.uuid4().hex[:8]}.tmp")
    pq.write_table(table, tmp, row_group_size=row_group_size)
    os.replace(tmp, path)


def _index_part(table, plan: dict) -> tuple:
    """The one index build kernel: an index's part of the arrow ``table``
    (its member columns, its Spark-derived key ``plan["derived"]`` when
    it has one, :meth:`Store._derived_keys`, and ``__file_id``) as
    ``(part, lo, hi, coupons)``: the part in its written layout (None for
    no rows), a posting part's range key [lo, hi] (None: unknown) and,
    when ``plan["sketch"]``, its keys' HLL coupons (:mod:`.hll`).

    A posting part holds the distinct ``(key, __file_id)`` rows under
    Spark's grouping equality (:meth:`Store._distinct_rows`) sorted by
    the range key, whose [min, max] ranks NaN on top
    (:meth:`Store._min_max`); a nested key, which pyarrow can neither
    group nor sort, is deduplicated by its derived string and left
    unsorted. A trigram part holds each file's distinct grams, a bloom
    part one bitset per file of its distinct non-NULL keys."""
    import numpy as np
    import pyarrow.compute as pc

    from . import hll

    kind, derived, names = plan["kind"], plan["derived"], plan["schema"].names
    nested = any(pa.types.is_nested(table.schema.field(c).type) for c in plan["members"])
    fid = table.column("__file_id")
    if kind in (TRIGRAM, BLOOM):
        if kind == TRIGRAM:
            grams = table.column(derived).combine_chunks()
            key, fid = pc.list_flatten(grams), fid.take(pc.list_parent_indices(grams))
        elif derived:
            key = table.column(derived)
        else:
            key = pc.cast(table.column(plan["members"][0]), pa.string())
        part = Store._distinct_rows(pa.table({"key": key, "__file_id": fid}))
        part = part.filter(pc.is_valid(part.column("key")))
        keys = part.column("key")
    else:
        part = table.select([*plan["members"], "__file_id"]).rename_columns(names)
        if derived:
            part = part.append_column("__d", table.column(derived))
        part = Store._distinct_rows(part, ["__d", "__file_id"] if nested else names)
        keys = part.column("__d") if derived else part.column(0)
    cps = None
    if plan["sketch"]:
        # an integer key is sketched as its string, a string or binary one as its bytes
        cps = hll.coupons(pc.cast(keys, pa.string()) if pa.types.is_integer(keys.type) else keys)
    if not part.num_rows:
        return None, None, None, cps
    lo = hi = None
    if kind == BLOOM:
        # each distinct key is hashed once, whatever files hold it
        m_bits, k = plan["bloom"]
        enc = pc.dictionary_encode(keys.combine_chunks())
        pos = _bloom_positions_py(enc.dictionary.to_pylist(), m_bits, k)[enc.indices.to_numpy()]
        fids = part.column("__file_id").to_numpy()
        bits = {}
        for f in np.unique(fids):
            b = np.zeros(m_bits, np.uint8)
            b[pos[fids == f].ravel()] = 1
            bits[int(f)] = np.packbits(b, bitorder="little").tobytes()
        part = pa.table(
            [pa.array(list(bits), pa.int32()), pa.array(list(bits.values()), pa.binary())],
            schema=plan["schema"],
        )
    elif nested:
        # a nested key keeps its own nullability: arrow casts no nullable
        # list element to Spark's non-null one
        part = part.select(names)
    else:
        lo, hi = Store._min_max(part.column(0))
        part = part.select(names).cast(plan["schema"])
        part = part.sort_by([(names[0], "ascending")], null_placement="at_end")
    return part, lo, hi, cps


# one row per index a build task wrote: the index's position, the part
# file (None when the task's rows gave it none), its range key [lo, hi]
# as JSON and the HLL image of its keys
_TASK_SCHEMA = pa.schema(
    [("i", pa.int32()), ("path", pa.string()), ("lo", pa.string()), ("hi", pa.string()),
     ("sketch", pa.binary())]
)


def _index_task(batches, plans: Sequence[dict], dirs: Sequence[str]):
    """One index build task, on the driver or in a ``mapInArrow`` task:
    the kernel (:func:`_index_part`) over the arrow record ``batches`` for
    each index in ``plans``, each part written as a file of its own in
    ``dirs``, yielding one record batch of ``_TASK_SCHEMA`` rows."""
    from . import hll

    batches = list(batches)
    if not batches:
        return
    table = pa.Table.from_batches(batches)
    out = []
    for i, (plan, d) in enumerate(zip(plans, dirs)):
        part, lo, hi, cps = _index_part(table, plan)
        path = None
        if part is not None:
            path = os.path.join(d, f"part-{uuid.uuid4().hex}.parquet")
            # bounded row groups let a pushed-down key probe skip most of
            # a big part: a point probe of a 1M-posting part took 38.5 ms
            # as one row group and 3.2 ms in 32,768-row groups
            # (docs/SCALE.md, "One posting probe")
            _write_parquet(path, part, row_group_size=32_768)
        lo, hi = (json.dumps(v) if Store._stats_ok(v) else None for v in (lo, hi))
        sketch = None if cps is None else hll.image(cps)
        out.append({"i": i, "path": path, "lo": lo, "hi": hi, "sketch": sketch})
    yield pa.RecordBatch.from_pylist(out, schema=_TASK_SCHEMA)


def _spark_key(v):
    """``v`` as a Python dict key that is equal exactly where Spark's
    grouping and equi-join keys are: ``-0.0`` is ``0.0``, every NaN is one
    key (Python's NaN is not equal to itself) and binary is hashable."""
    if isinstance(v, float):
        return "NaN" if v != v else v + 0.0
    return bytes(v) if isinstance(v, bytearray) else v


def _order_proxy(dt: T.DataType, c: Column) -> Column | None:
    """A double that never falls as ``c`` rises in Spark's ascending sort
    order, NULL where ``c`` is NULL, or None for a type with no such proxy
    (arrays, structs, a collated string). Equal keys always share a proxy;
    distinct keys may too (strings past their first 7 bytes, numbers past
    2^52: :func:`_proxy_is_key`). A string or binary reads its first 7
    bytes big-endian, zero padded, which is Spark's unsigned byte order.
    NaN, the largest double in that order, reads +inf, since a quantile
    sketch cannot order NaN; -0.0 and 0.0 compare equal in Spark already."""
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return F.nanvl(c.cast("double"), F.lit(float("inf")))
    if isinstance(dt, (T.NumericType, T.BooleanType)):
        return c.cast("double")
    if isinstance(dt, T.DateType):
        return F.unix_date(c).cast("double")
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(c).cast("double")
    if isinstance(dt, T.TimestampNTZType):
        # field arithmetic: every cast of a wall-clock value to an instant
        # goes through the session zone, which is not monotone across DST
        return (
            F.unix_date(F.to_date(c)) * 86_400_000_000.0
            + (F.hour(c) * 3600 + F.minute(c) * 60) * 1_000_000.0
            + F.extract(F.lit("SECOND"), c).cast("double") * 1_000_000.0
        )
    if isinstance(dt, T.BinaryType) or (
        isinstance(dt, T.StringType) and getattr(dt, "collation", "UTF8_BINARY") == "UTF8_BINARY"
    ):
        head = F.rpad(F.hex(F.substring(c.cast("binary"), 1, 7)), 14, "0")
        return F.conv(head, 16, 10).cast("double")
    return None


def _proxy_is_key(dt: T.DataType) -> bool:
    """Whether distinct values of type ``dt`` below 2^52 in magnitude have
    distinct :func:`_order_proxy` values: numbers (a decimal up to 15
    digits), booleans, dates and timestamps. A string's proxy holds every
    string that shares its first 7 bytes."""
    if isinstance(dt, T.DecimalType):
        return dt.precision <= 15
    return isinstance(
        dt, (T.NumericType, T.BooleanType, T.DateType, T.TimestampType, T.TimestampNTZType)
    )


# the quantile grid of a range split: each aggregate group reports its
# proxy at these 1,024 fractions from a KLL sketch of k = 2,000 (rank
# error about 1/1,000 of its rows), so a cut lands within about 1/1,000
# of the batch's rows of its target, and a batch gets all of its files
# while a file holds more than one grid point's rows (docs/SCALE.md,
# "Range splits without a sampler job")
_SPLIT_GRID = [(i + 0.5) / 1024 for i in range(1024)]
# the grid as one string literal split and cast: a 1,024-literal array()
# costs about 100 ms of plan analysis an insert, a numpy literal 60 ms of
# py4j, a Python list a py4j call a point
_SPLIT_GRID_SQL = "cast(split('" + ",".join(map(repr, _SPLIT_GRID)) + "', ',') AS array<double>)"
_SPLIT_K = 2_000
# the largest share of a file a cut may move to keep a proxy value that
# can hold several keys in one file; past it the sampler splits the keys
_SPLIT_TIE = 1 / 8


def _split_bounds(
    values: Sequence[float], weights: Sequence[float], n_null: float, n_parts: int, keyed: bool
) -> tuple | None:
    """The ``n_parts``-way range split of a batch of ``n_null`` NULL keys,
    which sort first, and of the non-NULL rows ``weights`` places at the
    proxy ``values``; a value may repeat.

    Each distinct proxy value goes whole to the partition holding the
    midpoint of its rows among the targets ``j * rows / n_parts``, so no
    proxy value spans two files and the files are disjoint in cluster
    order. Returns ``(NULL's partition, [[value, partition], ...])``, one
    pair per run of values sharing a partition, each with its run's
    largest value. None when the split is uneven and only a sampler over
    the full keys evens it: a proxy value that may hold several keys
    (``keyed`` False, or a magnitude from 2^52) would move a target by
    more than ``_SPLIT_TIE`` of a file. A value that is one key stays
    whole, as it does under ``RangePartitioner``."""
    import numpy as np

    v, at = np.unique(np.asarray(values, dtype=float), return_inverse=True)
    w = np.bincount(at.ravel(), weights=np.asarray(weights, dtype=float), minlength=len(v))
    step = (n_null + w.sum()) / n_parts
    if step <= 0:
        return 0, []
    hi = n_null + np.cumsum(w)
    lo = hi - w
    p = np.minimum(n_parts - 1, (lo + hi) / 2 // step).astype(int)
    # the targets strictly inside a value's rows run from `first` to
    # `last`; held whole in partition p, it moves the rows below the
    # targets up to p, and those above the targets past p
    first = lo // step + 1
    last = np.minimum(np.ceil(hi / step) - 1, n_parts - 1)
    top = np.minimum(p, last)
    moved = np.maximum(
        np.where(first <= top, top * step - lo, 0), np.where(p + 1 <= last, hi - (p + 1) * step, 0)
    )
    loose = np.abs(v) >= 2.0**52 if keyed else np.ones(len(v), bool)
    if np.any(loose & (moved > step * _SPLIT_TIE)):
        return None
    ends = [*np.flatnonzero(np.diff(p)).tolist(), len(v) - 1] if len(v) else []
    return min(n_parts - 1, int(n_null / 2 // step)), [[float(v[i]), int(p[i])] for i in ends]


class _RangeSplit:
    """A range split of a batch by its cluster columns that runs no
    sampler job. Bounds: ``aggs`` are the quantile columns of the lead
    column's order proxy (:func:`_order_proxy`), to ride an aggregate the
    caller collects anyway. Split: :meth:`split` merges the quantiles into
    bounds on the driver (:func:`_split_bounds`) and repartitions by each
    row's partition, a step function of its proxy.

    Every proxy value lies in one file, so the files are key-disjoint in
    cluster order. Where that would skew a file by holding together a
    proxy value shared by many keys (strings equal in their first 7
    bytes, a composite key's lead), the split falls back to
    ``repartitionByRange`` and its sampler job, as it does when no
    quantiles were taken (``quantiles`` False: a batch its row bound puts
    in one file). A lead type with no proxy hash-splits by the cluster
    columns, which puts each key in exactly one file."""

    def __init__(self, schema: T.StructType, cols: Sequence[str], quantiles: bool = True):
        self.cols = list(cols)
        dt = schema[cols[0]].dataType if cols else None
        self.proxy = _order_proxy(dt, F.col(cols[0])) if cols else None
        self.keyed = len(self.cols) == 1 and _proxy_is_key(dt)
        self.quantiles = quantiles and self.proxy is not None

    @property
    def aggs(self) -> list[Column]:
        """Aggregate columns of a group's rows (``__qr``), non-NULL keys
        (``__qn``) and proxy quantiles at ``_SPLIT_GRID`` (``__q``)."""
        if not self.quantiles:
            return []
        q = F.kll_sketch_get_quantile_double(
            F.kll_sketch_agg_double(self.proxy, _SPLIT_K), F.expr(_SPLIT_GRID_SQL)
        )
        n = F.count(self.proxy)
        return [
            F.count(F.lit(1)).alias("__qr"),
            n.alias("__qn"),
            F.when(n > 0, q).alias("__q"),
        ]

    def split(self, df: DataFrame, n_parts: int, rows: Sequence) -> DataFrame:
        """``df`` in ``n_parts`` partitions, ranged by the quantiles of the
        collected aggregate ``rows``, each holding :attr:`aggs`."""
        if self.proxy is None:
            return df.repartition(n_parts, *self.cols)
        if not self.quantiles:
            return self.split_by(df, n_parts, None)
        full = [(r["__qn"], r["__q"]) for r in rows if r["__qn"]]
        values = [v for _, q in full for v in q]
        weights = [qn / len(q) for qn, q in full for _ in q]
        return self.split_by(df, n_parts, (values, weights), sum(r["__qr"] - r["__qn"] for r in rows))

    def split_by(
        self, df: DataFrame, n_parts: int, bins: tuple | None, n_null: float = 0
    ) -> DataFrame:
        """``df`` in ``n_parts`` partitions, ranged by ``bins``, the proxy
        values and their weights, and ``n_null`` NULL keys
        (:func:`_split_bounds`); ``bins`` None takes the sampler."""
        bounds = None if bins is None else _split_bounds(*bins, n_null, n_parts, self.keyed)
        if bounds is None:
            return df.repartitionByRange(n_parts, *self.cols)
        p_null, runs = bounds

        # the step function is one SQL text over the proxy column ``__rk``:
        # built as Columns it cost a py4j call a node, 0.2 s of a cold insert
        def lit(v: float) -> str:
            return f"double('{v}')" if v in (float("inf"), float("-inf")) else f"{v!r}D"

        def tree(a: int, b: int) -> str:
            # the partition of a row above runs[:a] and at or below runs[b]:
            # a balanced tree, log2(b - a) tests a row
            if a == b:
                return str(runs[a][1])
            m = (a + b) // 2
            return f"CASE WHEN __rk > {lit(runs[m][0])} THEN {tree(m + 1, b)} ELSE {tree(a, m)} END"

        body = tree(0, len(runs) - 1) if runs else str(p_null)
        out = df.withColumn("__rk", self.proxy)
        key = F.expr(f"CASE WHEN __rk IS NULL THEN {p_null} ELSE {body} END")
        return out.repartitionById(n_parts, key).drop("__rk")


def _default_schema(cols: int) -> T.StructType:
    """``Store::new(cols)`` has positional, homogeneously-typed columns
    (``src/lib.rs:4-5,80-87``); default them to strings named c0..cN-1."""
    return T.StructType([T.StructField(f"c{i}", T.StringType(), True) for i in range(cols)])


class Store:
    # target rows per data file: keeps file count bounded as batches grow
    # (small-files hygiene — at 100 TB this is the knob that keeps the
    # manifest and the task count sane; ~1M rows ≈ 50-150 MB parquet)
    ROWS_PER_FILE = 1_000_000

    def __init__(self, spark: SparkSession, path: str, manifest: Manifest):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.manifest = manifest
        # (column, version) -> {file_id: bitset bytes, or None when the
        # file has none} for BLOOM indices, filled per probed candidate
        # (m_bits/8 bytes per file), so an absent bitset is not re-fetched
        self._bloom_maps: dict[tuple, dict] = {}
        # (column, version) -> vectorized per-file stats arrays for the
        # driver-side pruning loop (the SCALE.md graduation: numpy columns
        # instead of a Python loop over files)
        self._stats_np: dict[tuple, tuple] = {}
        # (tombstone dirs, their sorted rowids) of the last _tomb_ids read
        self._tomb_cache: tuple[tuple, list[int]] = ((), [])
        # the open _txn, and whether its body staged a change to commit
        self._txn_open = False
        self._staged = False

    # read by nothing in the library since every key probe became a pushed-
    # down posting read; perfbench's store sizes still report it
    POSTING_MAP_MAX = 2_000_000

    # -- lifecycle ----------------------------------------------------------

    @classmethod
    def create(cls, spark: SparkSession, path: str, schema: T.StructType | int) -> "Store":
        """``Store::new(cols)`` (``src/lib.rs:80-87``) — an int gives the
        reference's positional all-string table; a ``StructType`` gives real
        named, typed columns (strict superset)."""
        if isinstance(schema, int):
            schema = _default_schema(schema)
        if ROWID in schema.fieldNames():
            raise ValueError(f"{ROWID} is reserved")
        os.makedirs(path, exist_ok=True)
        manifest = Manifest(schema_json=schema.json())
        manifest.commit(path)
        return cls(spark, path, manifest)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        version: int | None = None,
        as_of: float | None = None,
        tag: str | None = None,
    ) -> "Store":
        """Open the current snapshot, a specific ``version``, (``as_of``
        epoch seconds) the latest snapshot committed at or before that
        instant — AS OF TIMESTAMP time travel, resolved driver-side from
        the manifests' ``committed_at`` stamps — or a named ``tag``
        (Iceberg-style ref: the tag name resolves to the version recorded
        by :meth:`tag` in the LATEST manifest, then that snapshot loads;
        a retagged name follows the newest commit's value)."""
        if sum(x is not None for x in (version, as_of, tag)) > 1:
            raise ValueError("pass at most one of version / as_of / tag")
        if as_of is not None:
            version = Manifest.version_as_of(path, as_of)
        if tag is not None:
            head = Manifest.load(path)
            key = f"tag:{tag}"
            if key not in head.props:
                raise ValueError(f"no tag {tag!r}")
            version = int(head.props[key])
        return cls(spark, path, Manifest.load(path, version))

    def tag(self, name: str, version: int | None = None) -> int:
        """Record a NAMED snapshot ref (Iceberg tag): ``name`` → the
        current (or given) version, persisted in the manifest props via
        one metadata-only commit — so tags are themselves versioned,
        replicate with the table, and survive reopen. Returns the tagged
        version. Retagging a name moves it (last write wins); vacuum
        retention is unaffected (tags pin NOTHING — vacuum past a tag
        invalidates it, the documented lakehouse trade; raise
        ``retain_versions`` to keep tagged history readable)."""
        if not name or "/" in name:
            raise ValueError(f"bad tag name {name!r}")
        v = self.manifest.version if version is None else int(version)
        with self._txn():
            self.manifest.props[f"tag:{name}"] = str(v)
            self._staged = True
        return v

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str, parquet: str | Sequence[str]) -> "Store":
        """Ingest existing parquet (e.g. the driver fixtures) into a Store."""
        df = spark.read.parquet(*([parquet] if isinstance(parquet, str) else list(parquet)))
        store = cls.create(spark, path, df.schema)
        store.insert(df)
        return store

    # -- helpers ------------------------------------------------------------

    @property
    def cols(self) -> int:
        return len(self.manifest.colnames)

    @property
    def colnames(self) -> list[str]:
        return self.manifest.colnames

    @property
    def schema(self) -> T.StructType:
        return self.manifest.schema

    def _schema_with_rowid(self) -> T.StructType:
        return T.StructType(
            [T.StructField(ROWID, T.LongType(), False), *self.manifest.schema.fields]
        )

    def _abs(self, rel: str) -> str:
        return os.path.join(self.path, rel)

    def _empty(self, with_rowid: bool = False) -> DataFrame:
        """Empty relation in the store schema. The ``filter(False)`` is
        load-bearing: a bare ``createDataFrame([], ...)`` is RDD-backed
        with defaultParallelism EMPTY partitions that survive into every
        union/join that embeds it (measured: the CDC delta's two empty
        placeholder branches added 64 no-op map tasks to every matview
        refresh), while a provably-false filter lets PruneFilters rewrite
        the branch to an empty LocalRelation that PropagateEmptyRelation
        deletes from the plan outright."""
        schema = self._schema_with_rowid() if with_rowid else self.manifest.schema
        return self.spark.createDataFrame([], schema).filter(F.lit(False))

    def _read_files(
        self, files: Sequence[DataFile], with_meta: bool = False, live: bool = True
    ) -> DataFrame:
        """Rows of ``files``; ``live=False`` skips the tombstone filter
        (index builds: a posting for a dead row is only a superset).

        A bounded tombstone set (:meth:`_tomb_ids`) costs no job: it is
        filtered out as a literal — for a pruned read, only the ids inside
        some read file's rowid range, and no filter when none is. Only a
        set above ``TOMB_INLINE_ROWS`` rows pays the anti-join (a
        broadcast exchange, one job per read).

        The lookups (``find`` with conditions, ``find_many``) and the
        deletes serve few rows from the driver (:meth:`_driver_tables`) and
        fall back here; full scans and the other write-path reads
        (compact, index builds above the driver build's bounds, change
        feeds) always read here."""
        paths = [self._abs(f.path) for f in files]
        df = self.spark.read.schema(self._schema_with_rowid()).parquet(*paths)
        if with_meta:
            # _metadata.file_path is a file: URI; normalize to a plain
            # absolute path so it joins against manifest paths.
            df = df.withColumn(
                "__file_path",
                F.concat(F.lit("/"), F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "")),
            )
        if live and self.manifest.tombstones:
            # merge-on-read: drop the tombstoned rowids. ALL data reads
            # flow through here, so every query surface (find / multiget /
            # delete-victim scans / compact) sees only live rows.
            ids = self._tomb_ids()
            if ids is None:
                df = df.join(self._tombstone_df(), ROWID, "left_anti")
            else:
                # a read of every live file needs every id (each one lies
                # in a live file), so only a pruned read intersects ranges
                if len(files) < len(self.manifest.files):
                    ids = self._ids_in_files(ids, files)
                if ids:
                    df = df.filter(~self._in_literal(ROWID, ids))
        return df

    def _driver_tables(
        self, files: Sequence[DataFile], columns: Sequence[str] | None = None
    ) -> list | None:
        """The live rows of each of ``files`` as one arrow table per file,
        in the store schema with ``__rowid`` (only ``columns``, when
        given), read on the driver with pyarrow (zero Spark jobs) and
        tombstoned rows dropped in the scan — or None when the files hold
        more than ``DRIVER_INSERT_ROWS`` rows, a column fails
        :meth:`_driver_atomic_type`, or the tombstone set holds more than
        ``CDF_DRIVER_READ_ROWS`` rows. The one gate and reader of every
        driver kernel that reads data files: the lookups
        (:meth:`_read_lookup`), the small deletes (:meth:`delete_filter`),
        the unique-key probe (:meth:`_existing_key_driver`), the CDC
        apply (:meth:`_apply_changes_driver`), the literal merge
        (:meth:`merge`) and a view refresh's state read; only the change
        feed's own reader (:meth:`_change_tables`) bounds its rows by
        ``CDF_DRIVER_READ_ROWS``. docs/SCALE.md has the crossovers."""
        if (
            sum(f.rows for f in files) > self.DRIVER_INSERT_ROWS
            or not all(self._driver_atomic_type(f.dataType) for f in self.manifest.schema)
            or (tomb := self._tomb_ids(self.CDF_DRIVER_READ_ROWS)) is None
        ):
            return None
        import pyarrow as pa
        import pyarrow.compute as pc

        ids = self._ids_in_files(tomb, files)
        pred = ~pc.is_in(pc.field(ROWID), pa.array(ids, pa.int64())) if ids else None
        schema = self._schema_with_rowid()
        return [self._arrow_read([self._abs(f.path)], schema, pred, columns) for f in files]

    def _read_lookup(self, files: Sequence[DataFile]) -> DataFrame:
        """Live rows of ``files`` for a lookup, with ``__rowid``. Rows the
        driver may read (:meth:`_driver_tables`) are handed to Spark as an
        Arrow-built ``LocalRelation``: Spark's ``ConvertToLocalRelation``
        then evaluates the caller's filter and projection on the driver,
        with Spark's own semantics, so ``collect()`` launches no job. Such
        a DataFrame has no input files (``inputFiles()`` is empty). Every
        other read takes :meth:`_read_files`."""
        tables = self._driver_tables(files)
        if tables is None:
            return self._read_files(files)
        return local_relation(self.spark, tables, self._schema_with_rowid())

    def _tombstone_df(self) -> DataFrame:
        """The tombstone set as a relation — the fallback for sets above
        ``TOMB_INLINE_ROWS``, where :meth:`_tomb_ids` declines."""
        return self.spark.read.schema(f"{ROWID} long").parquet(
            *[self._abs(t) for t in self.manifest.tombstones]
        )

    def _tomb_ids(self, limit: int | None = None) -> list[int] | None:
        """Sorted tombstoned rowids, or None when the set holds more than
        ``limit`` rows (default ``TOMB_INLINE_ROWS``). Read on the driver
        with pyarrow (zero Spark jobs: one footer and one column read per
        tombstone file). Committed tombstone dirs never change, so the
        list is cached per tuple of dirs."""
        m = self.manifest
        if m.tombstone_rows > (self.TOMB_INLINE_ROWS if limit is None else limit):
            return None
        key = tuple(m.tombstones)
        if self._tomb_cache[0] != key:
            ids: set[int] = set()
            for rel in key:
                d = self._abs(rel)
                for fn in os.listdir(d):
                    if fn.endswith(".parquet"):
                        tbl = pq.read_table(os.path.join(d, fn), columns=[ROWID])
                        ids.update(tbl.column(ROWID).to_pylist())
            self._tomb_cache = (key, sorted(ids))
        return self._tomb_cache[1]

    @staticmethod
    def _ids_in_files(ids: list[int], files: Sequence[DataFile]) -> list[int]:
        """The sorted ``ids`` that fall inside some file's [min_rowid,
        max_rowid] — a file without rowid stats (the -1 sentinel) may hold
        any id. Ranges can overlap (``compact(sort_by=...)``); an id is
        covered when more ranges start at or below it than end below it.
        Vectorized: two sorted bound arrays and two binary searches, no
        per-file Python work beyond reading the bounds (the same walk
        that lists the read's paths)."""
        import numpy as np

        if not ids or not files:
            return []
        lo = np.fromiter((f.min_rowid for f in files), np.int64, len(files))
        if lo.min() < 0:
            return ids
        hi = np.fromiter((f.max_rowid for f in files), np.int64, len(files))
        a = np.asarray(ids, dtype=np.int64)
        started = np.searchsorted(np.sort(lo), a, side="right")
        ended = np.searchsorted(np.sort(hi), a, side="left")
        return a[started > ended].tolist()

    def _in_literal(self, column: str, values: Sequence) -> Column:
        """``column IN (<values>)`` as one SQL literal list: ints unquoted,
        strings quoted and escaped. ``Column.isin`` makes one py4j call
        per value — measured 6 s for 10,000 ids against 12 ms for parsing
        the same list as SQL (4-vCPU host). Any other value type takes
        ``isin``, and so do strings the parser would rewrite: a ``$``
        (the parser substitutes ``${...}`` from the conf and the
        environment before it lexes) and, under the legacy parser that
        keeps backslashes (``spark.sql.parser.escapedStringLiterals``), a
        quote or backslash. ``values`` must not be empty."""
        values = list(values)
        if all(isinstance(v, int) and not isinstance(v, bool) for v in values):
            body = ",".join(map(str, values))
        elif all(isinstance(v, str) and "$" not in v for v in values) and (
            not any("'" in v or "\\" in v for v in values)
            or self.spark.conf.get("spark.sql.parser.escapedStringLiterals", "false") != "true"
        ):
            body = ",".join(
                "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values
            )
        else:
            return F.col(column).isin(values)
        return F.expr(f"`{column.replace('`', '``')}` IN ({body})")

    def _set_tombstones(self, keep: Sequence[int], tag: str) -> None:
        """Replace the tombstone set with ``keep`` — one driver-written
        part, or no part when ``keep`` is empty. ``tag`` prefixes the dir
        name (the op that consolidated the set)."""
        rel = os.path.join("tomb", f"{tag}{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        if keep:
            self._write_rowid_part(rel, list(keep))
        self.manifest.tombstones = [rel] if keep else []
        self.manifest.tombstone_rows = len(keep)

    # -- insert (src/lib.rs:178-187) ----------------------------------------

    def insert(self, rows: DataFrame | Iterable[Sequence[Any]]) -> int:
        """Append a batch. Returns the number of rows inserted.

        Arity/schema is validated always (vs debug-only ``src/lib.rs:179``).

        A literal batch of at most ``DRIVER_INSERT_ROWS`` rows is written
        and indexed on the driver (:meth:`_insert_rows_driver`), its index
        key sketches included, with no Spark job. A larger one becomes a
        DataFrame (:meth:`_literal_frame`). A DataFrame batch whose plan
        row bound (:func:`_row_bound`, no job) fits one file lands in ONE
        job: one exchange into one write task makes rowid = watermark +
        ``monotonically_increasing_id`` with no counts pass, and the row
        count comes from the written footer (which row got which rowid
        follows the shuffle's order; the rowids are dense either way). Any
        other DataFrame batch is tagged with rowids in a lazy
        ``localCheckpoint`` whose first action is the per-partition counts
        pass, which also takes the cluster key's quantiles, then
        range-split by them with no sampler job (:class:`_RangeSplit`; a
        key prefix shared by so many rows that keeping it in one file
        would skew the files takes the sampler). Both are written by
        Spark, with every index's key sketch observed in the write
        (:meth:`_observe_sketches`); the written batch is then indexed
        from a pyarrow read of its index columns with no job, up to each
        index kind's bound, and above it in one Spark job
        (:meth:`_index_files`).
        """
        schema = self.manifest.schema
        if isinstance(rows, DataFrame):
            df = rows
            if [f.name for f in df.schema.fields] != schema.fieldNames():
                raise ValueError(
                    f"schema mismatch: expected {schema.fieldNames()}, "
                    f"got {[f.name for f in df.schema.fields]}"
                )
            for mine, theirs in zip(schema.fields, df.schema.fields):
                if mine.dataType != theirs.dataType:
                    raise ValueError(
                        f"schema mismatch on {mine.name!r}: store has "
                        f"{mine.dataType.simpleString()}, batch has "
                        f"{theirs.dataType.simpleString()}"
                    )
        else:
            data = [tuple(r) for r in rows]
            for r in data:
                if len(r) != len(schema.fields):
                    raise ValueError(f"row has {len(r)} columns, store has {len(schema.fields)}")
            if not data:
                return 0
            # literal micro-batches ingest DRIVER-SIDE when eligible: a
            # bounded Python list needs no cluster to validate, number and
            # write — the Spark path costs ~6 jobs (constraint aggregates,
            # checkpoint, counts, write) of pure scheduling floor for a
            # handful of rows (opt guide §1.2: don't launch distributed
            # jobs for metadata-class data)
            done = self._insert_rows_driver(data, schema)
            if done is not None:
                return done
            df = self._literal_frame(data)

        from .functions import _row_bound, ensure_parallelism

        bound = _row_bound(df)
        self._enforce_constraints(df)
        watermark = self.manifest.rowid
        if bound is not None and self._n_files(bound) == 1:
            # in one partition monotonically_increasing_id IS the dense
            # position; a misjudged bound costs one oversized file, not
            # wrong rowids. The exchange keeps the upstream at its own width
            # (a coalesce pulls it into the one task; docs/SCALE.md), and
            # planned statically it runs in the write's job
            with_id = df.repartition(1).select(
                (F.lit(watermark) + F.monotonically_increasing_id()).alias(ROWID),
                *schema.fieldNames(),
            )
            with scoped_confs(self.spark, {"spark.sql.adaptive.enabled": "false"}):
                return self._write_batch(with_id, None, None, [])

        # Dense rowid assignment: per-partition counts -> cumulative offsets,
        # plus the position inside the partition. Two passes over the batch
        # (same cost class as zipWithIndex) but stays in DataFrame land. A
        # single-file source arrives as one partition, which would
        # serialize the write — spread it first. The tagged batch is
        # localCheckpoint'ed (materialized, lineage CUT): pid/mid come from
        # nondeterministic ops (round-robin repartition, monotonic ids), so
        # a cache-miss recompute between the two passes could renumber rows;
        # with the lineage cut, a lost partition fails the job instead of
        # silently skipping/duplicating rowids.
        tagged = (
            ensure_parallelism(df)
            .withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
        )
        # lazy cut: the counts collect (the tag pass's first action)
        # materializes the checkpoint in the SAME job — an eager
        # localCheckpoint here paid one extra full materialization job per
        # DataFrame insert for identical determinism (the blocks are cut
        # before with_id's second pass either way)
        # Under AQE, localCheckpoint's toRdd eagerly MATERIALIZES the tag
        # plan's shuffle map stage (query-stage re-planning buys nothing
        # for a fixed-width repartition) and the counts collect then
        # schedules as a separate reduce job. Planned statically, the
        # checkpoint stays lazy and the counts job runs map+reduce as ONE
        # job (measured ~0.4 s/insert on the 600k-row bench ingest). The
        # scope ends right after the counts pass — the tail sizes its own
        # confs.
        # The same pass takes the cluster key's quantiles, from which the
        # write's range split is cut with no sampler job (_RangeSplit).
        ranges = _RangeSplit(df.schema, self._cluster_cols())
        try:
            with scoped_confs(self.spark, {"spark.sql.adaptive.enabled": "false"}):
                tagged = tagged.localCheckpoint(eager=False)
                stats = tagged.groupBy("__pid").agg(F.count("*").alias("cnt"), *ranges.aggs)
                stats = stats.collect()
            return self._insert_tagged(tagged, schema, watermark, stats, ranges)
        finally:
            tagged.unpersist()

    # the bound of the driver kernels. Literal (Python-list) batches
    # at or below this many rows insert entirely on the driver: constraint
    # checks in plain Python, rowids by list position, one pyarrow-written
    # file, footer-based registration, index postings and key sketches —
    # no Spark job but the unique probe's scan of a big table. It bounds
    # the driver index build (_index_tables) of a batch whose keys it
    # sketches on the driver and of an index whose kernel needs a
    # Spark-derived key (a trigram's grams, a nested key's JSON), and by
    # its distinct keys a bloom index; any other index whose sketch the
    # batch's Spark write observed is built there up to
    # POSTING_SHARD_ROWS rows (_index_files). It also
    # bounds the rows a lookup, a delete or a CDC apply reads on the
    # driver (_driver_tables): at narrow rows the driver read of a lookup
    # beats a Spark job at every size to 40,000 rows, at ~530-byte rows
    # they cross near 15,000; a driver delete, which hands Spark only the
    # columns its conditions name, wins at every size to 40,000 on both
    # (docs/SCALE.md)
    DRIVER_INSERT_ROWS = 20_000

    @staticmethod
    def _driver_atomic_type(dt: T.DataType) -> bool:
        """Types the driver-insert kernel and the driver read of a lookup
        (:meth:`_read_lookup`) handle: atomic, orderable (for the
        clustering sort) and with unambiguous Python↔Arrow value mapping.
        Session-tz timestamps qualify only on a UTC-clock host (collect()
        renders them through the OS zone — on UTC the naive → aware-UTC
        conversion is exact and fold-free); arrays/maps/structs stay on
        the Spark path."""
        if isinstance(dt, T.DecimalType):
            return True
        if isinstance(dt, T.TimestampNTZType):
            return True
        if isinstance(dt, T.TimestampType):
            import time

            return time.localtime().tm_gmtoff == 0
        return isinstance(
            dt,
            (
                T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
                T.DateType, T.BinaryType,
            ),
        )

    @staticmethod
    def _driver_cell(dt: T.DataType, v):
        """Collected value → the Arrow value the Spark writer would have
        produced. Only session-tz timestamps need help: collect() returns
        a naive datetime in the OS zone (UTC per the type gate), which
        must become aware-UTC so Arrow stores the exact instant."""
        if v is not None and isinstance(dt, T.TimestampType):
            import datetime as _dt

            if v.tzinfo is None:
                return v.replace(tzinfo=_dt.timezone.utc)
        return v

    def _insert_rows_driver(
        self, data: list[tuple], schema: T.StructType
    ) -> int | None:
        """Driver-side ingest of a literal micro-batch; returns the row
        count, or None when ineligible (caller falls back to the
        distributed path — same results, more jobs).

        Dense rowids from the watermark, one parquet file laid out by
        :meth:`_arrow_batch`, per-column footer stats for pruning.
        Registration and index maintenance go through the shared epilogue
        (:meth:`_register_and_index`), indexing from the same table."""
        if len(data) > self.DRIVER_INSERT_ROWS:
            return None
        if not all(self._driver_atomic_type(f.dataType) for f in schema.fields):
            return None
        # constraint enforcement over the literal rows — same semantics
        # and error shapes as _enforce_constraints, zero jobs unless the
        # existing-key probe needs a distributed scan
        self._enforce_constraints_rows(data)
        watermark = self.manifest.rowid
        table = self._arrow_batch([(watermark + i, *r) for i, r in enumerate(data)])
        if table is None:
            return None
        batch_rel = os.path.join(
            "data", f"b{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
        )
        self._write_arrow(batch_rel, table)
        return self._append_batch(batch_rel, len(data), [table])

    def _arrow_batch(self, rows: list[tuple]):
        """``rows`` — ``(rowid, *cells)`` tuples in schema order — as the
        arrow table a driver kernel writes as one data file, in the layout
        of the Spark path's single-file batch (:meth:`_cluster_batch`
        ``n_files == 1``): rows sorted by the clustering columns,
        ascending with NULLs first (``sortWithinPartitions``). None when
        the sort meets an un-orderable value mix or pyarrow cannot coerce
        a cell the way ``createDataFrame`` would: nothing is staged yet,
        so the caller takes the Spark path, which decides."""
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            full = self._schema_with_rowid()
            idxs = [full.names.index(c) for c in self._cluster_cols()]
            if idxs:
                rows = sorted(rows, key=lambda t: tuple((t[i] is not None, t[i]) for i in idxs))
            dts = [f.dataType for f in full.fields]
            return pa.Table.from_pylist(
                [
                    {n: self._driver_cell(dt, v) for n, dt, v in zip(full.names, dts, r)}
                    for r in rows
                ],
                schema=to_arrow_schema(full),
            )
        except Exception:
            return None

    def _literal_frame(self, data: list[tuple]) -> DataFrame:
        """Literal rows of one file's size (:meth:`_n_files`) as the
        ``LocalRelation`` of their :meth:`_arrow_batch` table, whose row
        count (:func:`_row_bound`) and size the plan holds, so the insert
        takes the one-job single-file write. Any other batch, and one whose
        table declines (a non-:meth:`_driver_atomic_type` column), is a
        Python-list ``createDataFrame``, which Spark cannot size."""
        schema = self.manifest.schema
        if self._n_files(len(data)) == 1 and all(
            self._driver_atomic_type(f.dataType) for f in schema.fields
        ):
            table = self._arrow_batch([(0, *r) for r in data])
            if table is not None:
                return local_relation(self.spark, [table.drop_columns(ROWID)], schema)
        return self.spark.createDataFrame(data, schema)

    def _enforce_constraints_rows(self, data: list[tuple]) -> None:
        """Pure-Python twin of :meth:`_enforce_constraints` for literal
        batches: not-null and batch-internal uniqueness never leave the
        driver; the against-table uniqueness probe reads small pruned
        tables driver-side (:meth:`_existing_key_driver`) and falls back
        to the distributed probe only when the table is big."""
        cons = self._constraints()
        if not cons:
            return
        names = self.colnames
        nn = [c for c, k in cons if k == "not_null" and c in names]
        if nn:
            bad = {}
            for c in nn:
                i = names.index(c)
                cnt = sum(1 for r in data if r[i] is None)
                if cnt:
                    bad[c] = cnt
            if bad:
                raise ValueError(f"not_null constraint violated: {bad}")
        for c, k in cons:
            if k != "unique" or c not in names:
                continue
            i = names.index(c)
            vals = [r[i] for r in data if r[i] is not None]
            seen: set = set()
            for v in vals:
                if v in seen:
                    raise ValueError(
                        f"unique constraint on {c!r} violated inside the batch "
                        f"(e.g. key {v!r})"
                    )
                seen.add(v)
            if self.manifest.files:
                keys = list(dict.fromkeys(vals))
                hit = self._existing_key_driver(c, keys)
                if hit is None:
                    # distributed probe, same shape as _enforce_constraints
                    found = self.find_many(c, keys).select(c).limit(1).collect()
                    if found:
                        raise ValueError(
                            f"unique constraint on {c!r} violated: key "
                            f"{found[0][c]!r} already exists"
                        )
                elif hit is not False:
                    raise ValueError(
                        f"unique constraint on {c!r} violated: key "
                        f"{hit!r} already exists"
                    )

    def _existing_key_driver(self, column: str, keys: list):
        """Zero-job membership probe: prune candidate files by footer
        stats and the column's index (:meth:`_key_candidates`), then read
        only those files' live key column (:meth:`_driver_tables`) and
        test membership. Returns a colliding key, False for no collision,
        or None when ineligible (big candidate set / coercion-unsafe
        types) — the caller then uses the distributed probe."""
        if not keys:
            return False
        if not all(self._probe_type_ok(column, k) for k in keys):
            return None
        if any(k != k for k in keys):
            return None  # SQL NaN equality ≠ Python set membership
        tables = self._driver_tables(self._key_candidates(column, keys), [column])
        if tables is None:
            return None
        keyset = set(keys)
        for t in tables:
            for v in t.column(column).to_pylist():
                if v is not None and v in keyset:
                    return v
        return False

    # batches at or below this many rows compile their write + posting
    # build STATICALLY (AQE off, shuffle partitions derived from the
    # driver-known row count): under AQE every exchange of the rowid
    # window, the clustering repartition and the posting distinct/agg
    # materializes as its OWN Spark job — measured 18 jobs vs 9 for the
    # identical 600k-row indexed insert, same rows. Bulk loads above the
    # bound keep AQE (skew splits / coalescing earn their jobs there).
    STATIC_INSERT_ROWS = 10_000_000

    def _insert_tagged(
        self,
        tagged: DataFrame,
        schema: T.StructType,
        watermark: int,
        stats: list,
        ranges: _RangeSplit,
    ) -> int:
        if not stats:
            return 0
        offsets, n = {}, 0
        for r in sorted(stats, key=lambda r: r["__pid"]):
            offsets[r["__pid"]] = n
            n += r["cnt"]
        confs = {}
        if n <= self.STATIC_INSERT_ROWS:
            # the exact batch row count is driver-known after the counts
            # pass: one shuffle partition per ~50k rows (the _cluster_batch
            # file sizing), capped at the core count — the r12 ~250k
            # divisor ran the 600k-row bench ingest 3-wide through the
            # clustering shuffle at any core count
            cores = self.spark.sparkContext.defaultParallelism
            confs = {
                "spark.sql.adaptive.enabled": "false",
                "spark.sql.shuffle.partitions": str(max(1, min(256, cores, -(-n // 50_000)))),
            }
        # a literal pid → offset map, not a broadcast of a Python-list
        # DataFrame (each such broadcast is a Spark job of its own)
        off = F.create_map(
            *[x for pid in offsets for x in (F.lit(pid), F.lit(offsets[pid]))]
        )[F.col("__pid")].cast("long")
        # exchange-free rowids: ``monotonically_increasing_id`` is
        # ``pid << 33`` plus the 0-based record counter of its partition,
        # and the tag plan evaluates it in the same task as
        # ``spark_partition_id`` over the checkpointed blocks — so the low
        # bits ARE the dense position inside the partition
        local = F.col("__mid") - (F.col("__pid").cast("long") * F.lit(1 << 33))
        with_id = tagged.select(
            (F.lit(watermark) + off + local).alias(ROWID), *schema.fieldNames()
        )
        with scoped_confs(self.spark, confs):
            return self._write_batch(with_id, n, ranges, stats)

    def _write_batch(
        self, with_id: DataFrame, n: int | None, ranges: _RangeSplit | None, rows: Sequence
    ) -> int:
        """Lay out (:meth:`_cluster_batch`), write with every index's key
        sketch observed, and commit ``n`` rowid-tagged rows — the tail of
        both DataFrame insert paths. ``n`` None (a one-file batch) is read
        from the written footer; a batch that wrote no row commits nothing."""
        batch_rel = os.path.join("data", f"b{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        out = self._cluster_batch(with_id, 1 if n is None else n, ranges, rows)
        out, obs = self._observe_sketches(out)
        out.write.parquet(self._abs(batch_rel))
        if n is None:
            n = self._parquet_rows(batch_rel)
            if not n:
                import shutil

                shutil.rmtree(self._abs(batch_rel), ignore_errors=True)
                return 0
        return self._append_batch(batch_rel, n, sketch=obs)

    def _n_files(self, n: int) -> int:
        """The file count of an ``n``-row batch. File sizing caps rows per
        file (manifest/small-files hygiene) but never collapses write
        parallelism below what the batch supports — coalesce propagates
        upstream, and a 1-task write serializes the whole rowid window for
        mid-size batches."""
        cores = self.spark.sparkContext.defaultParallelism
        return max(1, -(-n // self.ROWS_PER_FILE), min(cores, -(-n // 50_000)))

    def _cluster_batch(
        self, with_id: DataFrame, n: int, ranges: _RangeSplit | None, rows: Sequence
    ) -> DataFrame:
        """Partition a rowid-tagged batch of ``n`` rows for writing: size
        files (:meth:`_n_files`), and honor any index's clustering (shared
        by ``insert`` and ``apply_changes``), range-splitting a batch of
        several files by ``ranges`` from the caller's collected aggregate
        ``rows`` (a one-file batch needs neither).
        """
        n_files = self._n_files(n)
        cols = self._cluster_cols()
        if n_files == 1:
            # single-file batch: a coalesce(1) + in-file sort gives the
            # layout of a one-way range split (per-file min/max stats,
            # sorted row groups, every key in exactly one file) with no
            # shuffle.
            out = with_id.coalesce(1)
            return out.sortWithinPartitions(*cols) if cols else out
        if cols:
            return ranges.split(with_id, n_files, rows).sortWithinPartitions(*cols)
        return with_id.coalesce(n_files) if n_files < 32 else with_id

    def _cluster_cols(self) -> list[str]:
        """The columns a new batch is clustered by, on every write path.

        A range (btree) index's lead column comes first: disjoint key
        ranges per file + sorted row groups → manifest min/max AND
        parquet row-group pruning bite on fresh inserts (the eager index
        maintenance of src/lib.rs:181-184, expressed as layout). Else the
        first hash/composite index's member tuple (lead column first):
        each key lands in exactly one file, so file-level min/max stats
        alone prune a point lookup to ~1 file and the posting set shrinks
        to ~ndv rows — the write amplification an index costs, one extra
        shuffle per batch. Else no clustering (``[]``)."""
        specs = list(self.manifest.indices.values())
        for s in specs:
            if s.kind == BTREE:
                return [s.column]
        for s in specs:
            if s.kind in (HASH, COMPOSITE):
                return list(s.member_columns)
        return []

    def _append_batch(
        self,
        batch_rel: str,
        n: int,
        tables: list | None = None,
        sketch: bool | Observation | None = True,
    ) -> int:
        """Commit the ``n`` freshly-written rows under ``batch_rel`` (held
        on the driver as ``tables``, when the driver wrote them) as the
        next rowids — the shared tail of the driver and the Spark insert
        paths."""
        with self._txn():
            self._register_and_index(batch_rel, tables, sketch)
            self.manifest.rowid += n
            self._staged = True
        return n

    def _register_and_index(
        self, batch_rel: str, tables: list | None = None, sketch: bool | Observation | None = True
    ) -> None:
        """Register freshly-written batch files and add them to every
        index (from ``tables``, one arrow table per file, when the driver
        wrote them; ``sketch`` as :meth:`_index_files` takes it) — the
        shared epilogue of ``insert`` and ``apply_changes``."""
        new_files = self._register_files(batch_rel)
        self._index_files(list(self.manifest.indices.values()), new_files, tables, sketch)

    CONSTRAINT_KINDS = ("not_null", "unique")

    def add_constraint(self, column: int | str, kind: str = "not_null") -> None:
        """Declare a WRITE-TIME constraint (EXTENSION — the reference
        validates arity only, ``src/lib.rs:179``): every subsequent
        ``insert`` (and therefore ``merge``, whose append flows through
        insert AFTER its victims are tombstone-masked — so replacing a
        key never false-positives the uniqueness check) rejects the whole
        batch if violated; nothing is committed on rejection.

        Kinds: ``not_null`` (one aggregate over the batch, all not_null
        columns folded together); ``unique`` (SQL semantics — NULLs are
        exempt): batch-internal duplicates via one group-count; collision
        with existing rows via ``find_many`` for batches of ≤1024 distinct
        keys (a hash/bloom index on the column prunes the probed file set,
        like any equality probe) and a column-pruned full-scan semi-join
        for bulk-load-sized batches (where the scan is amortized).
        Constraints live in the manifest (replicate, survive reopen)."""
        if kind not in self.CONSTRAINT_KINDS:
            raise ValueError(f"unknown constraint kind {kind!r}")
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        cons = self._constraints()
        if (name, kind) not in cons:
            cons.append((name, kind))
            with self._txn():
                self.manifest.props["constraints"] = json.dumps(cons)
                self._staged = True

    def drop_constraint(self, column: int | str, kind: str) -> None:
        name = self.colnames[column] if isinstance(column, int) else column
        cons = self._constraints()
        if (name, kind) not in cons:
            raise ValueError(f"no {kind!r} constraint on {name!r}")
        cons.remove((name, kind))
        with self._txn():
            self.manifest.props["constraints"] = json.dumps(cons)
            self._staged = True

    def _constraints(self) -> list:
        raw = self.manifest.props.get("constraints")
        return [tuple(c) for c in json.loads(raw)] if raw else []

    def _enforce_constraints(self, df: DataFrame) -> None:
        cons = self._constraints()
        if not cons:
            return
        nn = [c for c, k in cons if k == "not_null" and c in df.columns]
        if nn:
            row = df.agg(
                *[
                    F.sum(F.col(c).isNull().cast("long")).alias(c)
                    for c in nn
                ]
            ).collect()[0]
            bad = {c: int(row[c] or 0) for c in nn if row[c]}
            if bad:
                raise ValueError(f"not_null constraint violated: {bad}")
        for c, k in cons:
            if k != "unique" or c not in df.columns:
                continue
            keys = df.filter(F.col(c).isNotNull()).select(c)
            dup = (
                keys.groupBy(c)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"unique constraint on {c!r} violated inside the batch "
                    f"(e.g. key {dup[0][c]!r})"
                )
            if self.manifest.files:
                # typical upsert batches are small: collect up to 1+cap
                # distinct keys and probe through find_many, which prunes
                # the file set via any hash/bloom index on the column. A
                # bulk-load-sized batch (cap exceeded) falls back to the
                # column-pruned full scan — at that size the scan is
                # amortized over the batch anyway.
                cap = 1024
                head = [r[c] for r in keys.distinct().limit(cap + 1).collect()]
                if len(head) <= cap:
                    hit = self.find_many(c, head).select(c).limit(1).collect()
                else:
                    hit = (
                        self.find([])
                        .select(c)
                        .join(keys.distinct(), c, "left_semi")
                        .limit(1)
                        .collect()
                    )
                if hit:
                    raise ValueError(
                        f"unique constraint on {c!r} violated: key "
                        f"{hit[0][c]!r} already exists"
                    )

    def merge(
        self,
        rows: DataFrame | Iterable[Sequence[Any]],
        on: int | str,
        extra_victim_keys: DataFrame | None = None,
    ) -> tuple[int, int]:
        """Atomic upsert by key (EXTENSION — the reference is
        add/remove-only, ``src/lib.rs:25-26``): delete every existing row
        whose ``on`` column matches a key in the batch, then append the
        batch, in ONE manifest commit — readers see either the old table
        or the fully-merged one, never the deleted-but-not-yet-inserted
        middle state that a ``delete(); insert()`` sequence exposes.

        Mechanics: victims are staged as a merge-on-read tombstone (cost ∝
        victims; the key-membership scan is column-pruned to (rowid, key)),
        and the tombstone and the insert commit together in one
        :meth:`_txn` — also when the batch is empty and only victims
        change. If anything fails before that commit, the on-disk
        manifest is untouched (the orphan tombstone file is inert and
        vacuumable).
        The batch is appended as-is — duplicate keys WITHIN the batch are
        all inserted, like ``insert``. NULL keys follow SQL join
        semantics: a NULL-keyed batch row never matches an existing
        NULL-keyed row (the victims probe is an equi-join), so it plain-
        appends — deduplicate NULL keys upstream if they should replace.
        Returns (rows_inserted, rows_replaced).

        A literal batch into a store whose ``(__rowid, on)`` columns the
        driver may read (:meth:`_driver_tables`) merges with no Spark job
        when its insert takes :meth:`_insert_rows_driver` (an unindexed
        store, such as a view's state): the victims are picked in Python
        with Spark's join equality (:func:`_spark_key`: ``-0.0`` matches
        ``0.0``, NaN matches NaN, NULL matches nothing) and the tombstone
        is written with pyarrow. Any other literal batch merges as a
        DataFrame (:meth:`_literal_frame`), whose plan row bound lets its
        insert take the one-job single-file write when it fits one file.

        ``extra_victim_keys`` (r11): an additional single-column
        DataFrame of ``on``-keys to DELETE in the same commit (rows
        matching these keys are tombstoned whether or not the batch
        re-inserts them). This is the upsert+delete shape a CDC delta
        applies — folding both into the merge's one manifest flip keeps
        a refresh at one commit per store AND keeps the delete keys
        distributed (a DataFrame semi-join, never a driver-collected id
        list). Returned ``rows_replaced`` counts these victims too."""
        name = self.colnames[on] if isinstance(on, int) else on
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        tables = None
        if not isinstance(rows, DataFrame):
            rows = [tuple(r) for r in rows]
            if not rows:
                return (0, 0)
            if extra_victim_keys is None:
                tables = self._driver_tables(self.manifest.files, [ROWID, name])
            if tables is None:
                rows = self._literal_frame(rows)
        n_staged = 0
        victims_rel = os.path.join("tomb", f"m{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        with self._txn():
            if tables is not None:
                i, dt = self.colnames.index(name), self.manifest.schema[name].dataType
                keys = {_spark_key(self._driver_cell(dt, r[i])) for r in rows} - {None}
                victims = [
                    rid
                    for t in tables
                    for rid, k in zip(t[ROWID].to_pylist(), t[name].to_pylist())
                    if k is not None and _spark_key(k) in keys
                ]
                if victims:
                    self._write_rowid_part(victims_rel, victims)
                n_staged = len(victims)
            elif self.manifest.files:
                keys = rows.select(F.col(name)).distinct()
                if extra_victim_keys is not None:
                    keys = keys.unionByName(
                        extra_victim_keys.select(F.col(extra_victim_keys.columns[0]).alias(name))
                    ).distinct()
                # no broadcast hint: a typical upsert batch is small and AQE
                # broadcasts it on its own; a bulk-load-sized batch must be
                # free to shuffle instead of OOMing the driver
                victims = (
                    self._read_files(self.manifest.files)
                    .select(ROWID, name)
                    .join(keys, name, "left_semi")
                    .select(ROWID)
                )
                if self.manifest.live_rows <= self.DRIVER_INSERT_ROWS:
                    # a small store's victims fit one tombstone file: one
                    # write task, no fan-out of a handful of rowids
                    victims = victims.coalesce(1)
                victims.write.parquet(self._abs(victims_rel))
                # staged-row count from the written footers (metadata
                # only, like _register_files): no count job per merge
                n_staged = self._parquet_rows(victims_rel)
                if not n_staged:
                    import shutil

                    shutil.rmtree(self._abs(victims_rel), ignore_errors=True)
            if n_staged:
                # staged in memory only — the insert's commit makes both
                # the tombstone and the new data visible atomically
                self.manifest.tombstones.append(victims_rel)
                self.manifest.tombstone_rows += n_staged
                # the victim probe is column-pruned to (rowid, key) and
                # never materializes full rows, so merge victims are NOT
                # changelogged — mark the commit accordingly and let a
                # CDC window crossing it take the snapshot-diff fallback
                self.manifest.pending_cdf = None
                self._staged = True
            inserted = self.insert(rows)
        return (inserted, n_staged)

    @contextlib.contextmanager
    def _txn(self):
        """One all-or-nothing mutation of this handle, and the only code
        that commits or rolls back the manifest (the reference's insert is
        all-or-nothing, ``src/lib.rs:178-187``). A mutation stages its
        change on ``self.manifest`` and sets ``self._staged``; the
        outermost ``_txn`` commits once on a normal exit, if anything was
        staged. A nested entry joins the open transaction, so ``merge``'s
        victims and its insert, or a caller's staged prop and the write it
        rides on, flip in one commit.

        A failure before the flip leaves the in-memory manifest polluted:
        data files registered or retired, rowid/next_file_id advanced,
        posting parts appended, tombstones or props staged — and a later
        commit on the same handle would persist the half-done write. The
        durable truth is the on-disk manifest, so the handle reloads it;
        parquet the failed attempt wrote is inert and vacuumable. The
        reload is pinned to the version the handle held: loading CURRENT
        would fast-forward a handle opened at an older snapshot (``open(
        version=...)``, ``as_of``, a tag) to the newest commit, and its
        reads would change under a failed write. If that version was
        vacuumed meanwhile, the reload falls back to CURRENT — the state
        a reopen would see — rather than let FileNotFoundError mask the
        original error. A failure after the flip (the version moved)
        keeps the committed state. The success path pays nothing for the
        rollback."""
        if self._txn_open:
            yield
            return
        v_before = self.manifest.version
        self._txn_open, self._staged = True, False
        try:
            yield
            if self._staged:
                self._commit()
        except BaseException:
            if self.manifest.version == v_before:
                self._restore_manifest_from_disk(v_before)
            raise
        finally:
            self._txn_open = self._staged = False

    def _restore_manifest_from_disk(self, version: int) -> None:
        """Reload the manifest as committed at ``version`` (CURRENT if that
        file was vacuumed) for a failed :meth:`_txn`, keeping the
        session-scoped custom indexer objects (not serializable — reopen
        semantics) and dropping every version-keyed cache (entries may
        reference posting parts the failed attempt staged)."""
        customs = {
            c: s.custom
            for c, s in self.manifest.indices.items()
            if s.custom is not None
        }
        try:
            self.manifest = Manifest.load(self.path, version=version)
        except FileNotFoundError:
            self.manifest = Manifest.load(self.path)
        for c, cu in customs.items():
            if c in self.manifest.indices:
                self.manifest.indices[c].custom = cu
        self._evict_caches()
        self._tomb_cache = ((), [])

    def _commit(self) -> None:
        """Commit the manifest and evict caches keyed to older versions —
        stale bloom bitsets and stats arrays are dropped
        (long-lived ingestion commits one version per micro-batch and
        would otherwise pin them forever)."""
        self.manifest.commit(self.path)
        self._evict_caches(self.manifest.version)

    def _evict_caches(self, keep: int | None = None) -> None:
        """Drop every (column, version)-keyed driver cache entry of a
        version other than ``keep``. No Spark relation is cached: every
        index part is read with pyarrow or, uncached, by
        :meth:`_probe_postings`."""
        for cache in (self._bloom_maps, self._stats_np):
            for key in [k for k in cache if k[1] != keep]:
                del cache[key]

    def _tomb_rowid_range(self, rels: Sequence[str]) -> tuple[int, int]:
        """[min, max] rowid across the given tombstone staging dirs, from
        parquet FOOTER stats only (zero Spark jobs) — the driver-side
        prune key for the churn-bounded CDC delete tier. Missing stats
        widen to the full rowid space (prune nothing, never wrongly);
        no rows at all returns an empty range (prunes everything)."""
        lo: int | None = None
        hi: int | None = None
        for rel in rels:
            d = self._abs(rel)
            for name in os.listdir(d):
                if not name.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(d, name)).metadata
                for rg in range(meta.num_row_groups):
                    rgm = meta.row_group(rg)
                    for ci in range(rgm.num_columns):
                        col = rgm.column(ci)
                        if col.path_in_schema != ROWID:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            return (0, 2**63 - 1)
                        lo = int(st.min) if lo is None else min(lo, int(st.min))
                        hi = int(st.max) if hi is None else max(hi, int(st.max))
        if lo is None or hi is None:
            return (0, -1)
        return (lo, hi)

    def _parquet_rows(self, rel_dir: str) -> int:
        """Row count of a freshly-written parquet dir from its footers —
        metadata-only (no Spark job), the `_register_files` convention.
        Replaces the read-back `.count()` that cost one job per write in
        every merge staging, deferred delete, and tombstone
        consolidation."""
        out_dir = self._abs(rel_dir)
        return sum(
            pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )

    def _register_files(self, batch_rel: str) -> list[DataFile]:
        """Scan freshly-written parquet footers (metadata-only, no Spark job)
        and register the files in the manifest."""
        out_dir = self._abs(batch_rel)
        new_files = []
        for name in sorted(os.listdir(out_dir)):
            if not name.endswith(".parquet"):
                continue
            fpath = os.path.join(out_dir, name)
            meta = pq.ParquetFile(fpath).metadata
            if meta.num_rows == 0:
                continue
            # per-column min/max across row groups (footer metadata only).
            # a column's file stats are usable ONLY if every row group has
            # them — a group with missing/undecodable stats (e.g. values
            # past the writer's max_statistics_size) must widen the range
            # to unknown, never narrow it
            mins: dict[str, object] = {}
            maxs: dict[str, object] = {}
            nulls: dict[str, int] = {}
            incomplete: set[str] = set()
            no_nullcount: set[str] = set()
            for rg in range(meta.num_row_groups):
                rgm = meta.row_group(rg)
                for ci in range(rgm.num_columns):
                    col = rgm.column(ci)
                    cname = col.path_in_schema
                    st = col.statistics
                    lo = hi = None
                    if st is not None and st.has_min_max:
                        try:
                            lo, hi = st.min, st.max
                        except NotImplementedError:  # e.g. an INT64-backed decimal
                            lo = hi = None
                        if isinstance(lo, bytes):
                            try:
                                lo, hi = lo.decode("utf-8"), hi.decode("utf-8")
                            except Exception:
                                lo = hi = None
                        if lo is not None and not isinstance(lo, (int, float, str)):
                            lo = hi = None
                    # non-null count (stats element #3, used by topk's
                    # threshold walk): usable only if EVERY row group
                    # reports one — a missing count must widen to unknown
                    if st is None or not st.has_null_count or st.null_count is None:
                        no_nullcount.add(cname)
                    else:
                        nulls[cname] = nulls.get(cname, 0) + int(st.null_count)
                    if lo is None:
                        incomplete.add(cname)
                        continue
                    mins[cname] = lo if cname not in mins else min(mins[cname], lo)
                    maxs[cname] = hi if cname not in maxs else max(maxs[cname], hi)
            stats = {}
            for c in mins:
                if c in incomplete:
                    continue
                stats[c] = [mins[c], maxs[c]]
                if c not in no_nullcount:
                    stats[c].append(int(meta.num_rows) - nulls.get(c, 0))
            rid = stats.pop(ROWID, [-1, -1])
            fid = self.manifest.next_file_id
            self.manifest.next_file_id += 1
            df_entry = DataFile(
                id=fid,
                path=os.path.join(batch_rel, name),
                rows=meta.num_rows,
                min_rowid=int(rid[0]),
                max_rowid=int(rid[1]),
                stats=stats,
            )
            self.manifest.files.append(df_entry)
            new_files.append(df_entry)
        return new_files

    # -- indices (src/lib.rs:195-205, src/idx.rs) ---------------------------

    def index(self, column: int | str | Sequence[int | str], indexer: Any = "hash") -> None:
        """Create (or replace — ``src/lib.rs:204``) an index on ``column``.

        Backfills from all live rows (``src/lib.rs:199-202``); cheap when the
        store is empty, a full posting build when it is not (cost warning at
        ``src/lib.rs:193-194``).

        A tuple/list of ≥2 columns (or a ``CompositeIndex``) creates a
        COMPOSITE index: postings keyed by the full column tuple, served
        only when a find's conjunction const-eq-covers every member
        (see ``idx.CompositeIndex``). No reference analogue — its index
        map is strictly per-column (``src/lib.rs:59``).
        """
        from .idx import CompositeIndex, custom_indexer

        if isinstance(column, (tuple, list)):
            names = [self.colnames[c] if isinstance(c, int) else c for c in column]
            if len(names) < 2:
                raise ValueError("composite index needs >= 2 columns")
            for nm in names:
                if nm not in self.colnames:
                    raise ValueError(f"no such column {nm!r}")
            if len(set(names)) != len(names):
                raise ValueError("composite index columns must be distinct")
            kind = as_index_kind(indexer) if indexer != "hash" else COMPOSITE
            if kind != COMPOSITE:
                raise ValueError("multi-column indices support only the composite kind")
            name = ",".join(names)
            spec = IndexSpec(
                column=name, kind=COMPOSITE, custom=custom_indexer(indexer), columns=names
            )
        elif isinstance(indexer, CompositeIndex):
            return self.index(indexer.columns, indexer)
        else:
            kind = as_index_kind(indexer)
            name = self.colnames[column] if isinstance(column, int) else column
            if name not in self.colnames:
                raise ValueError(f"no such column {name!r}")
            params = dict(getattr(indexer, "params", None) or {})
            if kind == BLOOM:
                from .idx import BloomIndex

                params = {**BloomIndex().params, **params}
            if kind == TRIGRAM:
                if not isinstance(self.manifest.schema[name].dataType, T.StringType):
                    raise ValueError(f"trigram index requires a string column, not {name!r}")
                params = {"n": 3, "ci": False, **params}
            spec = IndexSpec(
                column=name, kind=kind, custom=custom_indexer(indexer), params=params
            )
        with self._txn():
            if self.manifest.files:
                self._index_files([spec], self.manifest.files)
            self.manifest.indices[name] = spec  # silent replace, parity :204
            self._staged = True

    def drop_index(self, column: int | str) -> None:
        """Remove the index on ``column`` (metadata commit; orphaned
        posting files are retired by ``vacuum``). The reference only
        creates/replaces (``src/lib.rs:195-205``) — this is the inverse a
        schema-evolving table needs before ``drop_column``."""
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.manifest.indices:
            raise ValueError(f"no index on column {name!r}")
        with self._txn():
            del self.manifest.indices[name]
            self._staged = True

    def _index_files(
        self,
        specs: Sequence[IndexSpec],
        files: Sequence[DataFile],
        tables: list | None = None,
        sketch: bool | Observation | None = True,
    ) -> None:
        """Add the index entries of ``files`` to every index in ``specs``
        and refresh each one's cost-model stats — the distributed analogue
        of posting-list maintenance (``src/lib.rs:181-184``,
        ``src/idx.rs:48-51,114-117``): instead of rowids per key we track
        *files* per key — the lookup result is a superset and ``find``'s
        residual filter restores exactness (``src/lib.rs:89-91``).

        ``sketch`` is where each index's key sketch comes from: the
        Observation of the Spark write of ``files``
        (:meth:`_observe_sketches`; a trigram index is not in it), the
        build (``True`` or None), or nowhere (``False``: ndv stays, as for
        a copy-on-write delete's survivors, whose keys it holds).

        One kernel (:func:`_index_part`) builds every index, in one of two
        venues. The driver (:meth:`_index_tables`, no job) takes, up to
        ``POSTING_SHARD_ROWS`` rows, an index whose sketch the write
        observed and whose kernel needs no derived key
        (:meth:`_derived_keys`), unless it is a bloom index of more than
        ``DRIVER_INSERT_ROWS`` distinct keys (its ndv: the build hashes
        each one); it takes any other index up to ``DRIVER_INSERT_ROWS``
        rows, so a derived key's projection stays that small. The
        executors (:meth:`_index_executors`) take the rest, in one Spark
        job. The files are read without the tombstone filter: fresh files
        hold no tombstoned rowid, and a posting for a dead row (an index
        backfill after a deferred delete) is only a superset, the state a
        deferred delete leaves anyway."""
        for spec in specs:
            spec.rows = self.manifest.total_rows
        if not specs or not files:
            return
        st = sketch.get if isinstance(sketch, Observation) else {}
        n_rows = sum(f.rows for f in files)
        need, local, rest = set(), [], []  # indexes the build sketches; each venue's
        for i, spec in enumerate(specs):
            if f"__sk{i}" in st:
                self._refresh_index_stats(spec, st, i)
            elif sketch is not False:
                need.add(i)
            bound = min(self.DRIVER_INSERT_ROWS, self.POSTING_SHARD_ROWS)
            if i not in need and self._derived_keys(spec, False) is None and (
                spec.kind != BLOOM or spec.ndv <= self.DRIVER_INSERT_ROWS
            ):
                bound = self.POSTING_SHARD_ROWS
            (local if n_rows <= bound else rest).append(i)
        if local:
            sub = [specs[i] for i in local]
            self._index_tables(sub, files, {j for j, i in enumerate(local) if i in need}, tables)
        if rest:
            sub = [specs[i] for i in rest]
            self._index_executors(sub, files, {j for j, i in enumerate(rest) if i in need})

    def _observe_sketches(self, df: DataFrame) -> tuple[DataFrame, Observation | None]:
        """``df``, a batch about to be written, with every index's key
        sketch (:meth:`_sketch_cols`, suffixed by the index's position in
        ``manifest.indices``) observed by the write, and the Observation
        (None when no index is sketched) — no sketch job. Sketched over
        the batch's rows, a key set equals the distinct postings' once a
        float key is sketched as ``c + 0.0``, which folds ``-0.0`` into
        ``0.0`` as ``distinct`` does (every NaN casts to one string). A
        bloom index sketches its raw column, as its build does; a trigram
        index is left to its build, since ``observe`` cannot explode its
        grams."""
        cols = []
        for i, spec in enumerate(self.manifest.indices.values()):
            if spec.kind != TRIGRAM:
                cols += self._sketch_cols(spec, self._sketch_members(spec), i)
        if not cols:
            return df, None
        obs = Observation()
        return df.observe(obs, *cols), obs

    def _sketch_members(
        self, spec: IndexSpec, col: Callable[[str], Column] = F.col
    ) -> list[Column]:
        """The member columns of ``spec`` (each column ``c`` read as
        ``col(c)``) as a batch's rows sketch them: a float member as
        ``c + 0.0`` (except in a bloom index, which sketches its raw
        column, as its build does), and an array, struct or map member
        as its JSON, since Spark casts both ``array('a, b')`` and
        ``array('a', 'b')`` to the string ``[a, b]``."""
        keys = []
        for c in spec.member_columns:
            dt = self.manifest.schema[c].dataType
            if isinstance(dt, (T.ArrayType, T.StructType, T.MapType)):
                keys.append(F.to_json(col(c)))
            elif spec.kind != BLOOM and isinstance(dt, (T.FloatType, T.DoubleType)):
                keys.append(col(c) + F.lit(0.0).cast(dt))
            else:
                keys.append(col(c))
        return keys

    def _derived_keys(
        self, spec: IndexSpec, sketch: bool
    ) -> Callable[[Callable[[str], Column]], Column] | None:
        """How the key that the kernel takes from Spark for ``spec`` is
        built from its member columns (each column ``c`` read as
        ``col(c)``, in either venue), or None when pyarrow has all it
        needs: a trigram index's grams (:meth:`_grams`); a bloom index's
        string key unless pyarrow casts it as Spark does (strings and
        integers); a posting index's sketch string (:meth:`_sketch_key`)
        when ``sketch`` and pyarrow cannot cast it (a binary key is
        sketched as its bytes), and always for an array, struct or map
        member, whose rows the kernel tells apart by that string."""
        dts = [self.manifest.schema[c].dataType for c in spec.member_columns]
        casts = len(dts) == 1 and isinstance(
            dts[0], (T.StringType, T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        )
        if spec.kind == TRIGRAM:
            return lambda col: self._grams(spec, col(spec.column))
        if spec.kind == BLOOM:
            return None if casts else lambda col: col(spec.column).cast("string")
        nested = any(isinstance(dt, (T.ArrayType, T.StructType, T.MapType)) for dt in dts)
        if nested or (sketch and not (casts or dts == [T.BinaryType()])):
            return lambda col: self._sketch_key(self._sketch_members(spec, col))
        return None

    def _kernel_plans(self, specs: Sequence[IndexSpec], sketch: set[int]) -> tuple:
        """What the kernel (:func:`_index_part`) needs to know of each of
        ``specs``, picklable for an executor, and the derived keys
        (:meth:`_derived_keys`) to compute, by column name. An index
        sketches when its position is in ``sketch``; it reads no member
        column where its derived key stands for them."""
        from pyspark.sql.pandas.types import to_arrow_schema

        plans, derived = [], {}
        for i, spec in enumerate(specs):
            fn = self._derived_keys(spec, i in sketch)
            if fn is not None:
                derived[f"__d{i}"] = fn
            stands = spec.kind == TRIGRAM or (spec.kind == BLOOM and fn is not None)
            plans.append({
                "kind": spec.kind,
                "members": [] if stands else list(spec.member_columns),
                "derived": None if fn is None else f"__d{i}",
                "sketch": i in sketch,
                "schema": to_arrow_schema(self._posting_schema(spec)),
                "bloom": spec.kind == BLOOM and (int(spec.params["m_bits"]), int(spec.params["k"])),
            })
        return plans, derived

    def _index_tables(
        self,
        specs: Sequence[IndexSpec],
        files: Sequence[DataFile],
        sketch: set[int],
        tables: list | None = None,
    ) -> None:
        """The driver venue of the index build, with no job: the kernel as
        one task (:func:`_index_task`) over the rows of ``files`` that the
        driver holds (``tables``, one arrow table per file with at least
        each index's columns) or reads with pyarrow. The derived keys come
        from one Spark projection over a one-row ``LocalRelation`` of the
        rows as an array of structs, which ``ConvertToLocalRelation``
        evaluates on the driver: one Row crosses to Python, not one per
        batch row."""
        from pyspark.sql.pandas.types import from_arrow_schema

        if tables is None:
            cols = list(dict.fromkeys(c for s in specs for c in s.member_columns))
            schema = T.StructType([self.manifest.schema[c] for c in cols])
            tables = [self._arrow_read([self._abs(f.path)], schema) for f in files]
        src = pa.concat_tables(
            [
                t.append_column("__file_id", pa.array([f.id] * t.num_rows, pa.int32()))
                for f, t in zip(files, tables)
            ]
        ).combine_chunks()
        plans, derived = self._kernel_plans(specs, sketch)
        if derived:
            cols = [
                c
                for c in self.colnames
                if any(c in s.member_columns for s, p in zip(specs, plans) if p["derived"])
            ]
            rows = pa.ListArray.from_arrays(
                pa.array([0, src.num_rows], pa.int32()),
                pa.StructArray.from_arrays([src.column(c).combine_chunks() for c in cols], cols),
            )
            rows = pa.table({"__r": rows})
            # the arrow schema's own nullability: a nested column read with
            # pyarrow keeps nullable elements Spark's type may not allow
            rel = local_relation(
                self.spark, [rows], from_arrow_schema(rows.schema, prefer_timestamp_ntz=True)
            )
            got = rel.select(
                *[
                    F.transform(F.col("__r"), lambda r: fn(lambda c: r[c])).alias(n)
                    for n, fn in derived.items()
                ]
            ).collect()[0]
            for p in plans:
                if p["derived"]:
                    t = pa.list_(pa.string()) if p["kind"] == TRIGRAM else pa.string()
                    src = src.append_column(p["derived"], pa.array(got[p["derived"]], t))
        rels = [self._part_rel(s) for s in specs]
        out = _index_task(src.to_batches(), plans, [self._abs(r) for r in rels])
        self._add_parts(specs, rels, [r for b in out for r in b.to_pylist()], sketch)

    def _index_executors(
        self, specs: Sequence[IndexSpec], files: Sequence[DataFile], sketch: set[int]
    ) -> None:
        """The executor venue of the index build, one Spark job: a
        ``mapInArrow`` over the read of ``files`` runs the kernel in each
        task (:func:`_index_task`) over its rows' member columns, derived
        keys and file ids, and each task writes a shard of each part, so a
        posting needs no shuffle. A data file split across tasks gives a
        bloom index several bitsets, which the probe ORs
        (:meth:`_bloom_bitsets`), and a posting index duplicate postings,
        a superset.

        The shards of one part overlap in key, so a point probe reads a
        footer and a row group of each: the read is coalesced to one task
        per core or per ``POSTING_SHARD_ROWS`` rows, whichever is more, so
        a backfill over hundreds of small files writes as many shards as
        the cores, not one per file (docs/SCALE.md, "One index
        kernel")."""
        from pyspark.sql.pandas.types import from_arrow_schema

        # a literal path → id map tags each row with its file id, so the
        # build broadcasts no Python-list DataFrame (each such broadcast is
        # a Spark job of its own)
        ids = F.create_map(
            *[x for f in files for x in (F.lit(self._abs(f.path)), F.lit(f.id))]
        )
        src = self._read_files(files, with_meta=True, live=False).withColumn(
            "__file_id", ids[F.col("__file_path")].cast("int")
        )
        plans, derived = self._kernel_plans(specs, sketch)
        cols = [*dict.fromkeys(c for p in plans for c in p["members"])]
        cols += [fn(F.col).alias(n) for n, fn in derived.items()]
        rels = [self._part_rel(s) for s in specs]
        task = functools.partial(_index_task, plans=plans, dirs=[self._abs(r) for r in rels])
        cores = self.spark.sparkContext.defaultParallelism
        n_rows = sum(f.rows for f in files)
        rows = (
            src.select(*cols, "__file_id")
            .coalesce(max(cores, n_rows // max(1, self.POSTING_SHARD_ROWS) + 1))
            .mapInArrow(task, from_arrow_schema(_TASK_SCHEMA))
            .collect()
        )
        self._add_parts(specs, rels, [r.asDict() for r in rows], sketch)

    def _add_parts(
        self, specs: Sequence[IndexSpec], rels: Sequence[str], rows: list[dict], sketch: set[int]
    ) -> None:
        """Register what the build tasks of either venue wrote
        (``_TASK_SCHEMA`` rows): the part ``rels[i]`` of each index that a
        task wrote a shard of, with the range key [min, max] over its
        shards' (NaN on top, :meth:`_min_max`); and for the indexes at the
        positions in ``sketch``, the union of the tasks' sketch images
        with the stored sketch (an empty one when it has none):
        ``hll_union`` of literals over the one-row ``LocalRelation`` of
        ``VALUES``, evaluated on the driver with no job
        (``local_relation`` costs ~35 ms more to hand Spark its row)."""
        import base64

        from . import hll

        cols = []
        for i, (spec, rel) in enumerate(zip(specs, rels)):
            got = [r for r in rows if r["i"] == i]
            if any(r["path"] for r in got):
                spec.parts.append(rel)
                bounds = [json.loads(v) for r in got for v in (r["lo"], r["hi"]) if v is not None]
                if bounds:
                    spec.part_stats[rel] = list(self._min_max(pa.array(bounds)))
            if i in sketch:
                sk = F.lit(bytearray(base64.b64decode(spec.sketch) if spec.sketch else hll.EMPTY))
                for r in got:
                    sk = F.hll_union(sk, F.lit(bytearray(r["sketch"])))
                cols += [sk.alias(f"__sk{i}"), F.hll_sketch_estimate(sk).alias(f"__ndv{i}")]
        if cols:
            st = self.spark.sql("VALUES (0)").select(*cols).collect()[0].asDict()
            for i in sketch:
                self._refresh_index_stats(specs[i], st, i)

    @staticmethod
    def _distinct_rows(table, by: Sequence[str] | None = None):
        """The rows of the arrow ``table`` distinct in the columns ``by``
        (all when None), the first of each in row order, under Spark's grouping
        equality: a float column folds ``-0.0`` into ``0.0`` and every NaN
        into one value, and NULL is one value in every column. The rows
        are grouped by each column's dictionary code, NULL encoded as a
        value of its own: pyarrow's multi-key ``group_by`` over the values
        splits the rows of an all-NULL key into many groups."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        codes = {}
        for j, name in enumerate(table.column_names):
            col = table.column(name).combine_chunks()
            if pa.types.is_floating(col.type):
                col = pc.add(col, pa.scalar(0.0, col.type))
                col = pc.if_else(pc.is_nan(col), pa.scalar(float("nan"), col.type), col)
                table = table.set_column(j, name, col)
            if by is None or name in by:
                codes[f"c{j}"] = pc.dictionary_encode(col, null_encoding="encode").indices
        codes["row"] = pa.array(np.arange(table.num_rows, dtype=np.int64))
        first = pa.table(codes).group_by(list(codes)[:-1]).aggregate([("row", "min")])
        return table.take(np.sort(first["row_min"].to_numpy()))

    @staticmethod
    def _min_max(values) -> tuple:
        """Spark's ``min`` and ``max`` of the arrow column ``values``:
        nulls skipped, NaN above every number (``pc.min_max`` skips it)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        mm = pc.min_max(values)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if pa.types.is_floating(values.type) and pc.any(pc.is_nan(values)).as_py():
            hi = float("nan")
            lo = hi if lo is None else lo
        return lo, hi

    def _part_rel(self, spec: IndexSpec) -> str:
        prefix = "b" if spec.kind == BLOOM else "p"
        return os.path.join(
            "idx", spec.column, f"{prefix}{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
        )

    @staticmethod
    def _grams(spec: IndexSpec, c: Column | None = None) -> Column:
        """The trigrams of a TRIGRAM index's column, or of ``c`` (an empty
        array for a NULL or a value shorter than 3 chars, never NULL)."""
        c = F.col(spec.column) if c is None else c
        if spec.params.get("ci"):
            c = F.lower(c)  # ci index: postings are lowered grams
        return F.when(
            c.isNull() | (F.length(c) < 3), F.array().cast("array<string>")
        ).otherwise(
            F.transform(F.sequence(F.lit(1), F.length(c) - 2), lambda i: c.substr(i, F.lit(3)))
        )

    # an index whose key sketch the batch's Spark write observed and
    # whose kernel needs no Spark-derived key is built on the driver, as
    # one part file, up to this many rows (a bloom index only up to
    # DRIVER_INSERT_ROWS distinct keys); above it every executor task
    # writes a shard of the part, a file of its own, one task per core or
    # per this many rows, whichever is more (_index_files). The driver
    # build beat the per-index Spark jobs at every size swept to
    # 1,000,000 rows (docs/SCALE.md, "Index builds inside the write")
    POSTING_SHARD_ROWS = 1_000_000

    # introspection: True when the last changes()/diff() on this instance
    # served its delete tier from the change-data-feed changelog, False
    # when it fell back to snapshot diffing, None before any CDC read
    # (the last_refresh_scanned_base convention)
    last_changes_used_cdf: bool | None = None

    # victim sets at or below this many rows derive their tombstone /
    # per-file attribution from a DRIVER-SIDE pyarrow read of the tiny
    # changelog (zero Spark jobs) instead of a Spark job — the driver
    # bound's sibling, sized so the driver holds at most a couple hundred
    # thousand (rowid, path) values
    CDF_DRIVER_READ_ROWS = 200_000

    # tombstone sets at or below this many rows are read on the driver
    # (:meth:`_tomb_ids`) and leave reads as a rowid literal filter — zero
    # jobs — instead of a broadcast anti-join. Set from the measured
    # crossover (docs/SCALE.md): a full scan filtered by the literal ties
    # the anti-join at ~1,500 ids and loses above, since the plan's
    # analysis and optimization grow with the IN-list
    TOMB_INLINE_ROWS = 1_000

    @staticmethod
    def _stats_ok(v) -> bool:
        """Part-level pruning stats are recorded only for the primitive
        orderable types whose Python comparisons agree with SQL ordering
        (the DataFile.stats convention) — numbers and strings."""
        return isinstance(v, (int, float, str)) and not isinstance(v, bool)

    @staticmethod
    def _sketch_key(keys: Sequence[Column]) -> Column:
        """The string an index key is sketched as (injective per type),
        from its member columns ``keys``, by ``hll_sketch_agg`` and by the
        driver sketch (:mod:`.hll`) alike: HLL sketch aggregation supports
        int/long/string/binary but not double."""
        if len(keys) == 1:
            return keys[0].cast("string")
        # composite: sketch the TUPLE — ndv of the combined key is the
        # whole point of the index's cost-model advantage. Injective
        # tuple encoding: concat_ws SKIPS null members, which would
        # collapse ('a', NULL), (NULL, 'a') and ('a',) into one sketch
        # key and underestimate tuple ndv. Hash each member to a
        # fixed-width token (null → a marker no md5 can produce)
        # before joining, so distinct tuples always yield distinct keys.
        return F.concat_ws(
            "\x1f", *[F.coalesce(F.md5(k.cast("string")), F.lit("<null>")) for k in keys]
        )

    @staticmethod
    def _sketch_cols(
        spec: IndexSpec, keys: Sequence[Column], suffix: int | str = ""
    ) -> list[Column]:
        """The HLL sketch of the index keys ``keys`` (:meth:`_sketch_key`)
        merged into the spec's stored sketch (``hll_union``, inside the
        same aggregate — no merge job of its own; no stored sketch, as
        after ``compact``, starts from scratch), and its estimate."""
        import base64

        sk = F.hll_sketch_agg(Store._sketch_key(keys))
        if spec.sketch:
            sk = F.hll_union(F.lit(bytearray(base64.b64decode(spec.sketch))), sk)
        return [sk.alias(f"__sk{suffix}"), F.hll_sketch_estimate(sk).alias(f"__ndv{suffix}")]

    def _posting_schema(self, spec: IndexSpec) -> T.StructType:
        """Schema of one index part: (key, __file_id) for single-column
        posting kinds, (k0..kn, __file_id) typed per member for COMPOSITE,
        (__file_id, bloom) for BLOOM."""
        if spec.kind == BLOOM:
            return T.StructType(
                [T.StructField("__file_id", T.IntegerType()), T.StructField("bloom", T.BinaryType())]
            )
        if spec.columns:
            fields = [
                T.StructField(f"k{i}", self.manifest.schema[c].dataType, True)
                for i, c in enumerate(spec.columns)
            ]
        else:
            fields = [T.StructField("key", self.manifest.schema[spec.column].dataType, True)]
        return T.StructType(fields + [T.StructField("__file_id", T.IntegerType(), True)])

    def _refresh_index_stats(self, spec: IndexSpec, st: dict, suffix: int) -> None:
        """Take an index's ndv (the cost model's, ``src/idx.rs:71-78``) and
        the HLL sketch it came from out of ``st``: the ``__sk{suffix}`` /
        ``__ndv{suffix}`` values of the batch write's observation or of
        the build's sketch union. Rows (live table rows) are set by
        :meth:`_index_files`.

        The ndv contract: exact (the HLL estimate of a sketch holding the
        key set of a from-scratch sketch of all live keys; a sketch merged
        from several tasks', or built by the kernel from more than
        ``hll.SET_MAX`` keys with no HLL-mode sketch stored, takes the
        union estimator, which can differ from a one-task sketch's by HLL
        error) after inserts and after ``compact``, which rebuilds every
        sketch. Between compactions, after deletes,
        it is an upper bound: a sketch cannot subtract keys, and both
        delete strategies leave it as it was — a copy-on-write delete
        re-indexes its survivor files incrementally, and their keys are
        already in the sketch."""
        import base64

        sk = st[f"__sk{suffix}"]
        if sk is not None:
            spec.ndv = int(st[f"__ndv{suffix}"])
            spec.sketch = base64.b64encode(bytes(sk)).decode()
        elif spec.sketch is None:
            spec.ndv = 0

    def _parts_for_probe(self, spec: IndexSpec, point) -> list[str]:
        """Posting parts that may contain range-key value ``point`` —
        driver-side pruning on the per-part [min, max] recorded at part
        write (zero Spark jobs; the index-layer analogue of the manifest's
        DataFile.stats pruning). Parts without stats, and incomparable
        probe types, stay in — conservative superset contract."""
        return [
            p
            for p in spec.parts
            if p not in spec.part_stats or self._may_hold(*spec.part_stats[p][:2], point)
        ]

    def _posting_files(self, parts: Sequence[str]) -> list[str]:
        """The parquet files of posting ``parts``, listed on every call:
        the listing is 5–7% of a driver probe at 20–1,200 parts
        (docs/SCALE.md)."""
        out: list[str] = []
        for p in parts:
            d = self._abs(p)
            out.extend(sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")))
        return out

    @staticmethod
    def _arrow_read(paths: Sequence[str], schema: T.StructType, pred=None, columns=None):
        """Rows of the parquet files ``paths`` that pass the pyarrow
        expression ``pred``, read on the driver (zero Spark jobs) in
        ``schema``: a column a file lacks reads as nulls, as in Spark's
        schema-bound read. The filter is pushed into the scan, so a row
        group whose footer stats exclude it is never read. INT96
        timestamps (Spark's default encoding) are read at microsecond
        precision, Spark's own, so no instant overflows nanoseconds."""
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema

        fmt = ds.ParquetFileFormat(coerce_int96_timestamp_unit="us")
        return ds.dataset(list(paths), schema=to_arrow_schema(schema), format=fmt).to_table(
            columns=columns, filter=pred
        )

    def _write_arrow(self, rel: str, table, name: str = "part-00000.parquet") -> None:
        """Write the arrow ``table`` as the parquet file ``name`` in the
        Store-relative dir ``rel``, created when missing — the driver's
        data, tombstone and changelog writer (zero Spark jobs;
        :func:`_write_parquet`)."""
        _write_parquet(os.path.join(self._abs(rel), name), table)

    def _probe_values(self, column: str, values: Sequence):
        """``values`` as a pyarrow array of ``column``'s type when a
        driver-side equality on every one agrees with Spark's coerced
        ``column = v``, else None. Beyond :meth:`_probe_type_ok`, it
        declines NaN (Spark's ``NaN = NaN`` is true), a value with no
        exact image in the type (``1.5`` on a long, an int past 2**53 on a
        double, ``0.1`` on a float, any float on a decimal) and a float at
        or past 2**53 on an integral column, where Spark compares as
        doubles and several longs share one."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        if not all(self._probe_type_ok(column, v) and v == v for v in values):
            return None
        t = to_arrow_type(self.manifest.schema[column].dataType)
        if any(
            isinstance(v, float)
            and (pa.types.is_decimal(t) or (pa.types.is_integer(t) and abs(v) >= 2**53))
            for v in values
        ):
            return None
        try:
            arr = pa.array(values, type=t)
        except (pa.ArrowException, OverflowError, TypeError):
            return None
        return arr if arr.to_pylist() == list(values) else None

    def _posting_hits(self, spec: IndexSpec, keys: Sequence) -> set[int] | None:
        """File ids whose postings hold one of ``keys`` (each a value, or
        for a composite a tuple of one value per member column), found on
        the driver with zero Spark jobs: a pyarrow read of the files of
        the parts :meth:`_parts_for_probe` keeps for some key, with the
        key predicate pushed into the scan so footer and row-group stats
        skip shards — one equality for one key, ``is_in`` for several.
        Several composite keys match per member column, so any mix of
        their member values hits (a superset). Ids of retired files may be
        in the result; every caller intersects with its live candidates.
        None when :meth:`_probe_values` declines a value (or the index has
        no parts): only Spark's coercion can decide it."""
        import pyarrow as pa
        import pyarrow.compute as pc

        rows = [tuple(k) if spec.columns else (k,) for k in keys]
        columns = spec.columns or [spec.column]
        arrays = [self._probe_values(c, [r[i] for r in rows]) for i, c in enumerate(columns)]
        if not spec.parts or any(a is None for a in arrays):
            return None
        keep = {p for r in rows for p in self._parts_for_probe(spec, r[0])}
        files = self._posting_files([p for p in spec.parts if p in keep])
        if not files:
            return set()
        pred = None
        for name, a in zip(self._posting_schema(spec).names, arrays):
            if len(a) == 1:
                match = pc.field(name) == a[0]
            else:
                if pa.types.is_floating(a.type):
                    # is_in hashes a float's bits: -0.0 misses 0.0, which SQL equates
                    a = pa.concat_arrays([a, pc.negate(a.filter(pc.equal(a, 0)))])
                match = pc.is_in(pc.field(name), a)
            pred = match if pred is None else pred & match
        tbl = self._arrow_read(files, self._posting_schema(spec), pred, ["__file_id"])
        return set(tbl.column("__file_id").to_pylist())

    def _probe_postings(self, spec: IndexSpec, point) -> DataFrame | None:
        """The one Spark read of index parts: the fallback of
        :meth:`_posting_hits` for the probes it declines, and the reader of
        a custom index's other comparisons (``point`` None, which keeps
        every part). The files of the parts ``_parts_for_probe`` keeps
        (the same list the driver read takes) as an uncached DataFrame, so
        the caller's key predicate — filtered with Spark's own coercion —
        pushes down to the parquet scan. One Spark job when collected."""
        if not spec.parts:
            return None
        files = self._posting_files(self._parts_for_probe(spec, point))
        if not files:
            return self.spark.createDataFrame([], self._posting_schema(spec))
        return self.spark.read.schema(self._posting_schema(spec)).parquet(*files)

    # -- find (src/lib.rs:130-137) ------------------------------------------

    @staticmethod
    def _file_may_match(f: DataFile, cond: Condition, name: str) -> bool:
        """Driver-side min/max check: can this file contain rows matching
        ``cond``? Conservative (True on unknown) — superset contract."""
        st = f.stats.get(name)
        if not st:
            return True
        lo, hi = st[0], st[1]
        cmp = cond.cmp
        if cmp.is_const_eq:
            return Store._may_hold(lo, hi, cmp.value.payload)
        if cmp.op == "between":
            from .cmp import Bound

            try:
                b = cmp.lower
                if b and b.kind == Bound.INCLUDED and hi < b.value:
                    return False
                if b and b.kind == Bound.EXCLUDED and hi <= b.value:
                    return False
                b = cmp.upper
                if b and b.kind == Bound.INCLUDED and lo > b.value:
                    return False
                if b and b.kind == Bound.EXCLUDED and lo >= b.value:
                    return False
            except TypeError:
                return True
        return True

    @staticmethod
    def _may_hold(lo, hi, v) -> bool:
        """Can values in [``lo``, ``hi``] hold one that Spark finds equal
        to ``v``? False only on proof. Compared the way Spark coerces: an
        int probe against float bounds as a double, a float probe against
        int bounds with the bounds as doubles (Spark casts the column).
        NaN proves nothing — a NaN probe or bound compares false both ways
        and stays in (Spark's ``NaN = NaN`` is true; a NaN max means
        "NaN present"). Incomparable types stay in."""
        try:
            if isinstance(v, float) and isinstance(lo, int) and isinstance(hi, int):
                lo, hi = float(lo), float(hi)
            elif isinstance(v, int) and isinstance(lo, float):
                v = float(v)
            return not (lo > v or v > hi)
        except (TypeError, ArithmeticError):  # a decimal probe meets a NaN bound
            return True

    _STATS_SAFE_ABS = float(2**52)  # beyond this, float64 can't hold ints exactly

    def _stats_arrays(self, name: str):
        """Columnar (has, los, his, kind) numpy views of the per-file
        min/max stats for ``name``, cached per manifest version — the
        SCALE.md graduation of the O(files) pruning loop: the per-query
        cost becomes a handful of vectorized comparisons instead of a
        Python loop over every file. Returns None (cached) when the
        column's stats can't be vectorized safely: mixed/boolean/exotic
        types, or numeric magnitudes past 2^52 where float64 rounding
        could wrongly EXCLUDE a file (pruning must stay a superset). A
        file with a NaN bound counts as one without stats, as in
        :meth:`_may_hold`."""
        import numpy as np

        # key includes next_file_id and len(files), not just the version:
        # a transaction in flight (insert/merge/CoW delete) mutates the
        # file list BEFORE the commit bumps the version, and a stale
        # array misaligned with the list would prune the wrong files.
        # Every registration bumps next_file_id and every pure removal
        # changes len, so the pair detects any mid-transaction change.
        key = (
            name,
            self.manifest.version,
            self.manifest.next_file_id,
            len(self.manifest.files),
        )
        cached = self._stats_np.get(key, "MISS")
        if cached != "MISS":
            return cached
        files = self.manifest.files
        n = len(files)
        has = np.zeros(n, dtype=bool)
        raw_lo: list = [None] * n
        raw_hi: list = [None] * n
        kind = None
        ok = True
        for i, f in enumerate(files):
            st = f.stats.get(name)
            if not st or st[0] is None or st[1] is None or st[0] != st[0] or st[1] != st[1]:
                # no stats, or a NaN bound (Spark's writer records a NaN
                # max when the file holds one), which proves nothing
                continue
            lo, hi = st[0], st[1]
            k = None
            for v in (lo, hi):
                if isinstance(v, bool) or not isinstance(v, (int, float, str)):
                    ok = False
                    break
                vk = "str" if isinstance(v, str) else "num"
                if k is None:
                    k = vk
                elif vk != k:
                    ok = False
                    break
                if vk == "num" and abs(v) > self._STATS_SAFE_ABS:
                    ok = False
                    break
            if not ok:
                break
            if kind is None:
                kind = k
            elif k != kind:
                ok = False
                break
            has[i] = True
            raw_lo[i] = lo
            raw_hi[i] = hi
        if not ok or kind is None:
            res = None
        elif kind == "num":
            los = np.array([v if v is not None else np.nan for v in raw_lo], dtype=np.float64)
            his = np.array([v if v is not None else np.nan for v in raw_hi], dtype=np.float64)
            res = (has, los, his, "num")
        else:
            los = np.array(raw_lo, dtype=object)
            his = np.array(raw_hi, dtype=object)
            res = (has, los, his, "str")
        self._stats_np[key] = res
        return res

    def _prune_mask(self, cond: Condition, name: str):
        """Vectorized may-match mask over ``manifest.files`` for one
        condition, or None when the (column, probe) pair can't be
        vectorized safely (caller falls back to `_file_may_match` per
        file). Semantics mirror `_file_may_match` exactly: conservative
        superset — files without stats always stay; NaN comparisons are
        False, which the ``~has`` union absorbs."""
        import numpy as np

        arr = self._stats_arrays(name)
        if arr is None:
            return None
        has, los, his, kind = arr
        cmp = cond.cmp

        def _typed(v) -> bool:
            if kind == "str":
                return isinstance(v, str)
            return (
                isinstance(v, (int, float))
                and not isinstance(v, bool)
                and abs(v) <= self._STATS_SAFE_ABS
            )

        try:
            if cmp.is_const_eq:
                v = cmp.value.payload
                if not _typed(v):
                    return None
                return (~has) | ((los <= v) & (his >= v))
            if cmp.op == "between":
                from .cmp import Bound

                for b in (cmp.lower, cmp.upper):
                    if b is not None and not _typed(b.value):
                        return None
                viol = np.zeros(len(has), dtype=bool)
                b = cmp.lower
                if b is not None:
                    viol |= (his < b.value) if b.kind == Bound.INCLUDED else (his <= b.value)
                b = cmp.upper
                if b is not None:
                    viol |= (los > b.value) if b.kind == Bound.INCLUDED else (los >= b.value)
                return (~has) | (has & ~viol)
        except TypeError:
            return None
        return np.ones(len(has), dtype=bool)  # op this layer can't prune on

    def _stats_candidates(self, name: str, keys: Sequence[Any]) -> list[DataFile]:
        """The stats layer of a multi-key probe: the files of
        ``manifest.files`` whose ``name`` footer range may hold one of
        ``keys``. Vectorized over the cached stat arrays
        (:meth:`_stats_arrays`) with the keys sorted once: a file with
        stats may match when the first key at or above its min is at or
        below its max (``searchsorted``), in O(files + keys) memory. Keys
        those arrays cannot compare exactly take the per-file
        :meth:`_may_hold` check, as :meth:`_prune_mask` falls back."""
        import numpy as np

        files = self.manifest.files
        arr = self._stats_arrays(name)
        if arr is not None and keys:
            has, los, his, kind = arr
            ks = None
            if kind == "num" and all(
                isinstance(k, (int, float))
                and not isinstance(k, bool)
                and abs(k) <= self._STATS_SAFE_ABS
                for k in keys
            ):
                ks = np.sort(np.asarray(list(keys), dtype=np.float64))
            elif kind == "str" and all(isinstance(k, str) for k in keys):
                ks = np.sort(np.array(list(keys), dtype=object))
            if ks is not None:
                i = np.searchsorted(ks, los[has])
                keep = ~has
                keep[has] = (i < len(ks)) & (ks[np.minimum(i, len(ks) - 1)] <= his[has])
                return [f for f, k in zip(files, keep) if k]
        return [
            f
            for f in files
            if not f.stats.get(name) or any(self._may_hold(*f.stats[name][:2], k) for k in keys)
        ]

    def _prune_files(self, conds: Sequence[Condition]) -> tuple[AccessPath, list[DataFile]]:
        """Two pruning layers before Catalyst (both yield supersets; the
        residual filter in find() restores exactness, src/lib.rs:89-91):

        1. manifest column stats — zero Spark jobs, applied for every
           const/range cond on any column with footer min/max;
        2. index lookup: a key probe goes through :meth:`_index_prune`,
           the helper ``find_many`` and the unique-key probe share, which
           probes only when the index can narrow things; a trigram probe
           reads the needle's grams. Both read the index parts on the
           driver with pyarrow, zero Spark jobs; a const-eq probe the
           driver declines, and a custom index's other comparisons, take
           one small Spark job (:meth:`_probe_postings`).
        """
        path = choose_access_path(conds, self.manifest.indices, self.colnames)
        eligible = [
            c
            for c in conds
            if not (c.cmp.op == "eq" and (c.cmp.value is None or c.cmp.value.is_column))
        ]
        from .manifest import PartedFileList

        pf = self.manifest.files
        if isinstance(pf, PartedFileList) and not pf.fully_loaded and eligible:
            # partitioned-manifest fast path: prune at PART granularity
            # first — each part stub is a synthetic DataFile carrying the
            # part's aggregated column stats, so the same conservative
            # _file_may_match logic applies — then open ONLY surviving
            # parts and run the per-file check over that bounded subset.
            # The full file list is never materialized: a selective probe
            # against a 100k-file table reads ~one part.
            cand: list[DataFile] = []
            for k, stub in enumerate(pf.part_stubs):
                if all(
                    self._file_may_match(stub, c, c.resolve(self.colnames))
                    for c in eligible
                ):
                    cand.extend(pf.part_files(k))
            cand.extend(pf.tail)
            files = [
                f
                for f in cand
                if all(
                    self._file_may_match(f, c, c.resolve(self.colnames))
                    for c in eligible
                )
            ]
        else:
            mask = None  # None = all manifest files still candidates
            for cond in eligible:
                name = cond.resolve(self.colnames)
                m = self._prune_mask(cond, name)
                if m is None:
                    # vectorization not safe for this (column, probe) pair —
                    # per-file Python check over the surviving candidates only
                    import numpy as np

                    if mask is None:
                        mask = np.ones(len(self.manifest.files), dtype=bool)
                    for i, f in enumerate(self.manifest.files):
                        if mask[i] and not self._file_may_match(f, cond, name):
                            mask[i] = False
                else:
                    mask = m if mask is None else (mask & m)
                if mask is not None and not mask.any():
                    return path, []
            if mask is None:
                files = self.manifest.files
            else:
                files = [f for f, keep in zip(self.manifest.files, mask) if keep]
        if not files:
            return path, list(files)
        spec = path.index
        if spec is None:
            return path, files
        if spec.kind == TRIGRAM:
            # substring lookup: a file can hold a match only if its posting
            # set holds EVERY trigram of the needle — read the grams'
            # postings with pyarrow and keep the files that hold all of
            # them. The residual `contains` re-check restores exactness.
            needle = path.cond.cmp.value.payload
            if spec.params.get("ci"):
                needle = needle.lower()  # lowered postings ⇒ lowered probe
            grams = sorted({needle[i : i + 3] for i in range(len(needle) - 2)})
            if grams and len(files) > 1 and spec.parts:
                import pyarrow as pa
                import pyarrow.compute as pc

                tbl = self._arrow_read(
                    self._posting_files(spec.parts),
                    self._posting_schema(spec),
                    pc.is_in(pc.field("key"), pa.array(grams, pa.string())),
                ).group_by("__file_id").aggregate([("key", "count_distinct")])
                hit_ids = {
                    fid
                    for fid, n in zip(
                        tbl.column("__file_id").to_pylist(),
                        tbl.column("key_count_distinct").to_pylist(),
                    )
                    if n == len(grams)
                }
                files = [f for f in files if f.id in hit_ids]
            return path, files
        # a composite's conjunction const-eq-covers every member column
        # (guaranteed by choose_access_path)
        conds = path.conds or (path.cond,)
        if all(c.cmp.is_const_eq for c in conds):
            vals = tuple(c.cmp.value.payload for c in conds)
            pruned = self._index_prune(spec, files, [vals if spec.columns else vals[0]])
            if pruned is not None:
                return path, pruned
            point = vals[0]  # a probe the driver declines
        elif (
            spec.kind == BLOOM
            or (spec.kind == BTREE and path.cond.cmp.op == "between")
            or not self._postings_narrow(spec, files, 1)
        ):
            # range postings prune only via key ranges — the stats layer
            # already did that work with zero jobs
            return path, files
        else:
            point = None  # a custom index's other comparisons read every part
        post = self._probe_postings(spec, point)
        if post is None:
            return path, files
        schema = self._posting_schema(spec)
        pred = conjunction([Condition(n, c.cmp) for n, c in zip(schema.names, conds)], schema)
        # deduplicated here, not by a distinct() shuffle
        hit_ids = {r["__file_id"] for r in post.filter(pred).select("__file_id").collect()}
        return path, [f for f in files if f.id in hit_ids]

    def _postings_narrow(self, spec: IndexSpec, files: Sequence[DataFile], n_keys: int) -> bool:
        """Can a posting probe of ``n_keys`` keys narrow ``files`` enough
        to pay for itself: more candidate files than both four and the
        key count (the probe is one pyarrow read of the posting parts
        whatever the key count, and a Spark read of the files it leaves
        is the cost it saves), and keys selective enough that most files
        miss (ndv over twice the live files; the reference's
        ``estimate()`` idea at file granularity)?"""
        return len(files) > max(4, n_keys) and spec.ndv > 2 * len(self.manifest.files)

    def _index_prune(self, spec: IndexSpec, files: Sequence[DataFile], keys: Sequence):
        """The index layer of every key probe — ``find``, ``find_many``
        and the unique-key probe: the ``files`` that ``spec``'s index says
        may hold one of ``keys`` (each a value, or for a composite a tuple
        of one value per member column), a superset, read on the driver
        with zero Spark jobs. One rule on the key count decides whether a
        probe can pay: a posting index probes when
        :meth:`_postings_narrow` (more files than both four and the keys), a bloom
        index when there are no more keys than files and every key passes
        :meth:`_bloom_probe_ok` (its bitsets: :meth:`_bloom_bitsets`); at
        one key these are ``find``'s rules. Otherwise ``files`` come back
        as they are. None when the driver declines a posting probe
        (:meth:`_posting_hits`): only a Spark read with Spark's coercion
        can decide it."""
        if spec.kind == BLOOM:
            if len(keys) > len(files) or not all(
                self._bloom_probe_ok(spec.column, k) for k in keys
            ):
                return files
            # a file whose bitset may hold a key stays, and so does one
            # with no bitset
            bmap = self._bloom_bitsets(spec, [f.id for f in files])
            m_bits, k = int(spec.params["m_bits"]), int(spec.params["k"])
            probes = _bloom_positions_py(keys, m_bits, k)
            return [
                f
                for f in files
                if bmap.get(f.id) is None or any(self._bloom_hit(bmap[f.id], p) for p in probes)
            ]
        if not self._postings_narrow(spec, files, len(keys)):
            return files
        hit_ids = self._posting_hits(spec, keys)
        return None if hit_ids is None else [f for f in files if f.id in hit_ids]

    def _key_candidates(self, name: str, keys: Sequence) -> list[DataFile]:
        """The files that may hold a row whose ``name`` equals one of
        ``keys``: footer stats (:meth:`_stats_candidates`), then
        ``name``'s index (:meth:`_index_prune`), zero Spark jobs. Keys the
        driver cannot probe keep the stats layer's files."""
        files = self._stats_candidates(name, keys)
        spec = self.manifest.indices.get(name)
        if spec is None or spec.kind == TRIGRAM or not files:
            return files
        pruned = self._index_prune(spec, files, keys)
        return files if pruned is None else pruned

    def _probe_type_ok(self, column: str, probe) -> bool:
        """Driver-side probes compare with Python or Arrow equality, but
        the Spark residual filter applies SQL type coercion (``5 = '5'``
        is true there). Probe on the driver only when that equality
        agrees with SQL coercion for this (column type, probe) pair —
        otherwise fall back to a Spark read, which filters with identical
        coercion."""
        dt = self.manifest.schema[column].dataType
        if isinstance(dt, (T.StringType,)):
            return isinstance(probe, str)
        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType,
        )
        if isinstance(dt, numeric):
            return isinstance(probe, (int, float)) and not isinstance(probe, bool)
        if isinstance(dt, T.BooleanType):
            return isinstance(probe, bool)
        return False  # timestamps/dates/binary: always use the Spark path

    def _bloom_probe_ok(self, column: str, probe) -> bool:
        """Driver-side bloom probing hashes ``str(probe)`` and must agree
        with the write-time Spark ``cast(col as string)``. That holds for
        string columns with str probes and integral columns with int probes
        (both render identically); floats/decimals/timestamps render
        differently (e.g. scientific notation) — skip bloom pruning there
        and stay conservative."""
        dt = self.manifest.schema[column].dataType
        if isinstance(dt, T.StringType):
            return isinstance(probe, str)
        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        if isinstance(dt, integral):
            return isinstance(probe, int) and not isinstance(probe, bool)
        return False

    def _bloom_bitsets(self, spec: IndexSpec, candidate_ids) -> dict:
        """{file id: bitset bytes, or None for a file with no bitset} of
        the candidate files, read on the driver with pyarrow (zero Spark
        jobs). Only the ids not fetched before at this manifest version
        are read, as an ``is_in`` filter pushed into the scan, so probe
        memory scales with the files probed, not the files in the table
        (~16 GB of bitsets at 1M files). Every bitset of a file ORs into
        its one: a data file that Spark split across build tasks has one
        bitset per task, each over the keys of its own rows."""
        import pyarrow as pa
        import pyarrow.compute as pc

        bmap = self._bloom_maps.setdefault((spec.column, self.manifest.version), {})
        need = sorted({int(i) for i in candidate_ids} - bmap.keys())
        if need and spec.parts:
            bmap.update(dict.fromkeys(need))
            tbl = self._arrow_read(
                self._posting_files(spec.parts),
                self._posting_schema(spec),
                pc.is_in(pc.field("__file_id"), pa.array(need, pa.int32())),
            )
            for f, bits in zip(*tbl.to_pydict().values()):
                if bmap[f] is not None:
                    ored = int.from_bytes(bmap[f], "little") | int.from_bytes(bits, "little")
                    bits = ored.to_bytes(len(bits), "little")
                bmap[f] = bits
        return bmap

    @staticmethod
    def _bloom_hit(bits: bytes, positions: Sequence[int]) -> bool:
        return all(bits[p >> 3] & (1 << (p & 7)) for p in positions)

    def find(self, conds: Sequence[Condition] = (), with_rowid: bool = False) -> DataFrame:
        """Lazy filtered scan; empty ``conds`` = full scan (``src/lib.rs:255``).

        A lookup (at least one condition) whose pruned files hold at most
        ``DRIVER_INSERT_ROWS`` rows is read on the driver into a
        ``LocalRelation`` (:meth:`_read_lookup`): Spark still evaluates
        the conditions, and ``collect()`` launches no job — the
        reference's in-process ``find`` (``src/lib.rs:98-137``). Its
        ``inputFiles()`` is empty. A bigger lookup and every full scan
        read the parquet files with Spark.

        A full scan carries its EXACT row count out-of-band
        (``_shortcut_live_rows``, from ``manifest.live_rows`` — the
        tombstone-corrected live total the manifest maintains at commit
        time): auto-sizing consumers (``similarity._corpus_count``, the
        LSH/IVF parameter derivation) read it instead of launching a
        counting job, so sizing an unsized ANN call against a Store
        corpus costs ZERO jobs — at the 100 TB design point a sizing
        ``count()`` would read the whole corpus once just to pick
        parameters (the ``stats_agg`` zero-job precedent). The attribute
        rides only the DataFrame object ``find`` returns; any projection
        or filter on top drops it, and consumers fall back to a counted
        (memoized) scan."""
        conds = list(conds)
        _, files = self._prune_files(conds)
        if not files:
            out = self._empty(with_rowid)
            if not conds:
                out._shortcut_live_rows = 0
            return out
        read = self._read_lookup(files) if conds else self._read_files(files)
        df = read.filter(conjunction(conds, self.manifest.schema))
        out = df if with_rowid else df.drop(ROWID)
        if not conds:
            out._shortcut_live_rows = int(self.manifest.live_rows)
        return out

    def find_or(
        self, cond_lists: Sequence[Sequence[Condition]], with_rowid: bool = False
    ) -> DataFrame:
        """Disjunction of AND-lists: rows matching ANY of the conjunctions.

        The reference has no OR — "issue multiple quieries instead"
        (``src/lib.rs:18``). This is that advice made first-class and
        scale-correct: each branch runs its own access-path selection and
        file pruning (an index union), and the branches dedupe on
        ``__rowid`` so a row matching several branches appears once.
        """
        branches = [self.find(list(conds), with_rowid=True) for conds in cond_lists]
        if not branches:
            return self._empty(with_rowid)
        out = branches[0]
        for b in branches[1:]:
            out = out.union(b)
        out = out.dropDuplicates([ROWID])
        return out if with_rowid else out.drop(ROWID)

    def find_many(self, column: int | str, keys: Sequence[Any]) -> DataFrame:
        """Batched point lookup: all rows whose ``column`` equals ANY of
        ``keys`` — one distributed job for the whole batch.

        The idiomatic-Spark answer to the reference bench's get loop
        (``benches/bench.rs:59-70``: N sequential ``find``s): per-query
        scheduling dominates point lookups on a cluster, so a multiget
        amortizes it. Files are pruned as a ``find`` prunes them, for all
        keys at once (:meth:`_key_candidates`): footer stats, then the
        column's posting or bloom index under :meth:`_index_prune`'s one
        key-count rule — the same superset-then-residual contract as
        ``find``, ``src/lib.rs:89-91``. The residual filter is a semi-join
        for more than 1,000 keys and an ``IN`` literal
        (:meth:`_in_literal`) for fewer. Pruned files holding at most
        ``DRIVER_INSERT_ROWS`` rows are read on the driver, as in
        ``find``: with up to 1,000 keys the lookup then launches no job.
        """
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        keys = list(keys)
        if not keys:
            return self._empty()
        files = self._key_candidates(name, keys)
        if not files:
            return self._empty()
        df = self._read_lookup(files).drop(ROWID)
        if len(keys) <= 1000:
            # a float zero (an int zero on a float column too) or NaN key
            # takes its `eq` form (cmp.py): pushed down, an IN list skips
            # row groups that hold only the other zero, or NaN
            floating = isinstance(
                self.manifest.schema[name].dataType, (T.FloatType, T.DoubleType)
            )
            odd = [_float_zero(k, floating) or (isinstance(k, float) and k != k) for k in keys]
            preds = [
                eq(name, k).to_column(self.manifest.schema) for k, o in zip(keys, odd) if o
            ]
            rest = [k for k, o in zip(keys, odd) if not o]
            if rest:
                preds.append(self._in_literal(name, rest))
            return df.filter(functools.reduce(lambda a, b: a | b, preds))
        import pandas as pd

        # Arrow path: a pandas frame serializes the key batch an order of
        # magnitude faster than row-tuple pickling for big key lists
        kdf = self.spark.createDataFrame(
            pd.DataFrame({name: keys}),
            T.StructType([T.StructField(name, self.manifest.schema[name].dataType, True)]),
        ).distinct()
        return df.join(F.broadcast(kdf), name, "left_semi")

    def df(self) -> DataFrame:
        """Escape hatch: the whole table as a plain DataFrame (no rowid)."""
        return self.find()

    def topk(
        self,
        column: int | str,
        k: int,
        ascending: bool = False,
        tiebreak: Sequence[str] = (),
    ) -> DataFrame:
        """``ORDER BY column [DESC] LIMIT k`` answered with manifest-stats
        pruning — a sort the metadata can mostly skip (EXTENSION; the
        reference has no ordered retrieval surface, its RangeIndex stops
        at ``between``, ``src/idx.rs:83-87``).

        Sound threshold derivation (descending case), zero Spark jobs:
        walk the files by their column MIN descending, accumulating each
        file's non-null value count (parquet-footer ``null_count``,
        recorded as stats element #3; files predating it count as >=1).
        Every value in a walked file is >= that file's min, so once the
        accumulator — minus the table's whole tombstone debt, since a
        tombstone could hit any accumulated row — reaches k, EVERY
        top-k value is >= T = the current file's min. The scan is then
        ``find([between(column, T, None)])``, which reuses the
        vectorized stats prune, access-path selection, residual
        re-check, and tombstone anti-join; files without stats survive
        pruning per find's contract. The final sort-limit runs as
        TakeOrdered over only the surviving rows.

        Pruning power follows layout: on a btree-clustered or
        ``compact(sort_by=column)`` table the scan touches ~k rows'
        worth of files; on random layout it degrades to a full scan
        with identical results. NULLs never participate (between()
        excludes them — SQL `ORDER BY .. LIMIT` with NULLS LAST
        semantics for k within the non-null count). ``tiebreak``
        columns (ascending) make the result deterministic under ties.

        Falls back to the plain full sort when no threshold is
        derivable (missing stats, mixed types, or k not covered by the
        walk)."""
        name = self.colnames[column] if isinstance(column, int) else column
        if name not in self.colnames:
            raise ValueError(f"no such column {name!r}")
        k = int(k)
        if k <= 0:
            return self._empty()
        lohi = 1 if ascending else 0  # walk bound: max for asc, min for desc
        walkable = []
        for f in self.manifest.files:
            st = f.stats.get(name)
            if st and self._stats_ok(st[0]) and self._stats_ok(st[1]):
                walkable.append((st[lohi], st))
        threshold = None
        try:
            walkable.sort(key=lambda t: t[0], reverse=not ascending)
            cum = 0
            debt = self.manifest.tombstone_rows
            for bound, st in walkable:
                cum += st[2] if len(st) > 2 else 1
                if cum - debt >= k:
                    threshold = bound
                    break
        except TypeError:
            threshold = None  # mixed incomparable stat types → full sort
        #: observability: the stats-derived value bound (None = full sort)
        self.last_topk_threshold = threshold
        from .cmp import between

        if threshold is None:
            base = self.find([]).filter(F.col(name).isNotNull())
        elif ascending:
            base = self.find([between(name, None, threshold)])
        else:
            base = self.find([between(name, threshold, None)])
        order = [F.col(name).asc() if ascending else F.col(name).desc()]
        order += [F.col(t).asc() for t in tiebreak]
        return base.orderBy(*order).limit(k)

    def sample(self, fraction: float, seed: int | str = 0) -> DataFrame:
        """Block sample — TABLESAMPLE SYSTEM semantics: FILES are chosen
        deterministically (md5(seed:path) scaled into [0,1) < fraction)
        and only those are read; unselected files cost nothing, not even
        a footer. The cheap way to eyeball / profile / train-test-probe a
        100 TB table: cost ∝ fraction, not table size.

        SYSTEM caveats, same as every engine's: granularity is whole
        files, so the realized row fraction wobbles around ``fraction``
        (tight here because inserts split at ROWS_PER_FILE — files are
        near-uniform), and rows clustered into the same file are sampled
        together (correlated). For per-row uniform sampling use
        ``sampling.reservoir_sample`` / ``stratified_sample`` on
        ``df()`` — they pay the full scan this avoids. Deterministic:
        same (fraction, seed) → same files at any snapshot that contains
        them. Tombstoned rows stay invisible (reads flow through
        ``_read_files``)."""
        import hashlib as _hl

        if not 0.0 <= fraction <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {fraction}")
        cut = int(fraction * (1 << 32))
        picked = [
            f
            for f in self.manifest.files
            if int.from_bytes(
                _hl.md5(f"{seed}:{f.path}".encode()).digest()[:4], "big"
            )
            < cut
        ]
        if not picked:
            return self._empty()
        return self._read_files(picked).drop(ROWID)

    def explain_find(self, conds: Sequence[Condition] = ()) -> str:
        """Human-readable access-path report (Display parity spirit,
        ``src/cmp.rs:79-100``) plus file-pruning stats."""
        path, files = self._prune_files(list(conds))
        return (
            f"conds=[{', '.join(str(c) for c in conds)}] "
            f"path={path.describe()} files={len(files)}/{len(self.manifest.files)}"
        )

    def __len__(self) -> int:
        return self.manifest.live_rows

    # -- delete (src/lib.rs:140-169) ----------------------------------------

    def delete(self, conds: Sequence[Condition], defer: bool = False) -> int:
        """``delete(conds)`` = ``delete_filter(conds, |_| true)``
        (``src/lib.rs:140-142``). ``defer=True`` selects the merge-on-read
        tombstone path (see :meth:`delete_filter`)."""
        return self.delete_filter(conds, None, defer=defer)

    def delete_filter(
        self,
        conds: Sequence[Condition],
        residual: Column | Callable[..., bool] | None,
        defer: bool = False,
    ) -> int:
        """Predicate delete; returns rows removed.

        Two physical strategies with identical semantics:

        * ``defer=False`` (default) — copy-on-write: rewrite the affected
          files without the victims. Cost ∝ bytes of the affected files.
        * ``defer=True`` — merge-on-read: write only the victim rowids as
          a tombstone file; every read drops them, and ``compact()``
          materializes and clears. Cost ∝ victims — at 100 TB, deleting a
          few rows spread over many files must NOT rewrite terabytes.
          Index postings keep referencing tombstoned rowids until compact;
          the superset-then-recheck read contract (src/lib.rs:89-91) plus
          the tombstone filter keeps every result exact. A tombstone set
          of at most ``TOMB_INLINE_ROWS`` rows is read on the driver once
          per set (a pyarrow footer and column read per tombstone file,
          cached) and filters each read as a rowid literal, with no job;
          a bigger set is anti-joined, one broadcast job per read.

        Candidate files the driver may read (:meth:`_driver_tables`: at
        most ``DRIVER_INSERT_ROWS`` rows, driver column types, a bounded
        tombstone set) are deleted from on the driver with no Spark job —
        the reference's in-process delete (``src/lib.rs:140-169``); see
        :meth:`_delete_driver`. Bigger candidate sets run Spark jobs: the
        changelog write, and for copy-on-write the survivors' write (and,
        above ``DRIVER_INSERT_ROWS`` survivor rows, their index jobs).

        Index ndv (the cost model's ``rows/ndv``, ``src/idx.rs:71-78``) is
        exact after inserts and after ``compact``, and an upper bound
        between compactions after deletes — the same for both
        strategies: a sketch cannot subtract keys, so a deferred delete
        leaves it as it is and a copy-on-write delete re-indexes its
        survivor files incrementally (their keys are already in it).

        ``residual`` is the reference's arbitrary row closure
        (``src/lib.rs:149``): pass a Spark ``Column`` (preferred — stays
        JVM-side) or a Python callable over the row's cells (wrapped in a
        row-at-a-time UDF; parity-only slow path, one job on either path).
        """
        conds = list(conds)
        pred = conjunction(conds, self.manifest.schema)
        if residual is not None:
            if isinstance(residual, Column):
                pred = pred & residual
            else:
                fn = F.udf(lambda *cells: bool(residual(cells)), T.BooleanType())
                pred = pred & fn(*[F.col(c) for c in self.colnames])
        pred = F.coalesce(pred, F.lit(False))

        _, candidates = self._prune_files(conds)
        if not candidates:
            return 0

        # CHANGE DATA FEED (r12): both delete strategies already
        # materialize their victims, so the FULL victim rows are written
        # once to a changelog dir and staged on the commit
        # (``pending_cdf``) — ``changes()`` then serves the delete tier
        # by READING the changelog (cost ∝ deleted rows, zero snapshot
        # diffing) instead of reconstructing it from two snapshots. The
        # victim scan that previously only counted (CoW) or only
        # projected rowids (defer) now writes the rows it was already
        # reading; counts and per-file attribution derive from the
        # written changelog (parquet footers + one tiny read), so the
        # job count over the big relation is unchanged.
        cdf_rel = os.path.join(
            "cdf", f"d{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
        )
        tables = self._driver_tables(candidates)
        if tables is not None:
            cols = self.colnames if residual is not None else self._cond_columns(conds)
            return self._delete_driver(pred, cols, defer, candidates, tables, cdf_rel)
        small = self.manifest.live_rows <= self.DRIVER_INSERT_ROWS

        if defer:
            vic = self._read_files(candidates).filter(pred)
            if small:
                vic = vic.coalesce(1)
            vic.write.parquet(self._abs(cdf_rel))
            n = self._parquet_rows(cdf_rel)  # footer-only, no job
            if n == 0:
                import shutil

                shutil.rmtree(self._abs(cdf_rel), ignore_errors=True)
                return 0
            victims_rel = self._victims_rel()
            # tombstone rowids come from the tiny changelog, not a second
            # scan of the candidate files; small victim sets concatenate
            # DRIVER-SIDE with pyarrow (one file, ZERO Spark jobs), so the
            # deferred delete's only job over the big relation is the
            # changelog write itself
            if n <= self.CDF_DRIVER_READ_ROWS:
                import pyarrow as pa

                d = self._abs(cdf_rel)
                parts = [
                    pq.read_table(os.path.join(d, f), columns=[ROWID])
                    for f in sorted(os.listdir(d))
                    if f.endswith(".parquet")
                ]
                self._write_arrow(victims_rel, pa.concat_tables(parts))
            else:
                self.spark.read.schema(vic.schema).parquet(self._abs(cdf_rel)).select(
                    ROWID
                ).write.parquet(self._abs(victims_rel))
            return self._commit_tombstones(victims_rel, n, cdf_rel)

        scan = self._read_files(candidates, with_meta=True)
        vic = scan.filter(pred).withColumnRenamed("__file_path", "__cdf_file")
        if small:
            vic = vic.coalesce(1)
        vic.write.parquet(self._abs(cdf_rel))
        victims = self._parquet_rows(cdf_rel)  # footer-only, no job
        if victims == 0:
            import shutil

            shutil.rmtree(self._abs(cdf_rel), ignore_errors=True)
            return 0
        # per-file victim attribution from the tiny changelog (replaces
        # the old count-aggregate scan over the candidate files); small
        # victim sets count DRIVER-SIDE from one pyarrow column read —
        # zero Spark jobs
        if victims <= self.CDF_DRIVER_READ_ROWS:
            import collections

            d = self._abs(cdf_rel)
            counter: collections.Counter = collections.Counter()
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    counter.update(
                        pq.read_table(os.path.join(d, f), columns=["__cdf_file"])
                        .column("__cdf_file")
                        .to_pylist()
                    )
            per_file = dict(counter)
        else:
            per_file = {
                r["__cdf_file"]: r["cnt"]
                for r in self.spark.read.schema(vic.schema)
                .parquet(self._abs(cdf_rel))
                .groupBy("__cdf_file")
                .agg(F.count("*").alias("cnt"))
                .collect()
            }
        affected = {f.id for f in candidates if self._abs(f.path) in per_file}
        affected_files = [f for f in self.manifest.files if f.id in affected]

        survivors = self._read_files(affected_files).filter(~pred)
        batch_rel = self._survivors_rel()
        survivors.write.parquet(self._abs(batch_rel))
        self._swap_survivors(affected_files, batch_rel, cdf_rel)
        return victims

    def _cond_columns(self, conds: Sequence[Condition]) -> list[str]:
        """The store columns ``conds`` read — each one's column and any
        column operand — in schema order."""
        names = set()
        for c in conds:
            names.add(c.resolve(self.colnames))
            v = c.cmp.value
            if v is not None and v.is_column:
                names.add(self.colnames[v.payload] if isinstance(v.payload, int) else v.payload)
        return [n for n in self.colnames if n in names]

    def _victims_rel(self) -> str:
        return os.path.join("tomb", f"t{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")

    def _survivors_rel(self) -> str:
        return os.path.join("data", f"d{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")

    def _delete_driver(
        self,
        pred: Column,
        cols: Sequence[str],
        defer: bool,
        candidates: Sequence[DataFile],
        tables: list,
        cdf_rel: str,
    ) -> int:
        """:meth:`delete_filter` over candidate files whose live rows are
        on the driver (``tables``, one arrow table per file). Spark picks
        the victims: ``pred`` filters a ``LocalRelation`` of ``__rowid``
        and ``cols``, which ``ConvertToLocalRelation`` evaluates on the
        driver with no job (a Python-callable residual still runs its UDF
        job). pyarrow writes what the Spark path writes, in its schemas:
        the changelog (with ``__cdf_file``, the file's absolute path, for
        copy-on-write), the deferred tombstone part, and one survivor file
        per affected file, its rows in their clustered order — none for a
        file left empty. The survivors are indexed from the same tables."""
        import pyarrow as pa
        import pyarrow.compute as pc

        full = self._schema_with_rowid()
        rel = local_relation(
            self.spark,
            [t.select([ROWID, *cols]) for t in tables],
            T.StructType([full[c] for c in (ROWID, *cols)]),
        )
        victims = pa.array(
            [r[0] for r in rel.filter(pred).select(ROWID).collect()], pa.int64()
        )
        if not len(victims):
            return 0
        hits = [pc.is_in(t.column(ROWID), victims) for t in tables]
        if defer:
            gone = pa.concat_tables([t.filter(h) for t, h in zip(tables, hits)])
            self._write_arrow(cdf_rel, gone)
            victims_rel = self._victims_rel()
            self._write_rowid_part(victims_rel, victims.to_pylist())
            return self._commit_tombstones(victims_rel, len(victims), cdf_rel)
        affected = [
            (f, t, h) for f, t, h in zip(candidates, tables, hits) if pc.any(h).as_py()
        ]
        self._write_arrow(
            cdf_rel,
            pa.concat_tables(
                [
                    t.filter(h).append_column(
                        "__cdf_file",
                        pa.array([self._abs(f.path)] * pc.sum(h).as_py(), pa.string()),
                    )
                    for f, t, h in affected
                ]
            ),
        )
        survivors = [t.filter(pc.invert(h)) for _, t, h in affected]
        survivors = [t for t in survivors if t.num_rows]
        batch_rel = self._survivors_rel()
        for i, t in enumerate(survivors):
            self._write_arrow(batch_rel, t, f"part-{i:05d}.parquet")
        self._swap_survivors(
            [f for f, _, _ in affected], batch_rel if survivors else None, cdf_rel, survivors
        )
        return len(victims)

    def _commit_tombstones(self, victims_rel: str, n: int, cdf_rel: str) -> int:
        """Commit a deferred delete: the tombstone part ``victims_rel`` of
        ``n`` rows and the changelog ``cdf_rel``; returns ``n``."""
        with self._txn():
            self.manifest.tombstones.append(victims_rel)
            self.manifest.tombstone_rows += n
            self.manifest.pending_cdf = [cdf_rel]
            self._staged = True
        return n

    def _swap_survivors(
        self,
        affected: Sequence[DataFile],
        batch_rel: str | None,
        cdf_rel: str,
        survivors: list | None = None,
    ) -> None:
        """Commit a copy-on-write delete: retire the ``affected`` files,
        register the survivor files under ``batch_rel`` (None: no
        survivors) and index them — from ``survivors``, their arrow
        tables in file-name order, when the driver holds them — with the
        changelog ``cdf_rel``."""
        with self._txn():
            ids = {f.id for f in affected}
            kept = [f for f in self.manifest.files if f.id not in ids]
            # retiring files invalidates tombstone entries inside their rowid
            # ranges (the survivors were written from the tombstone-filtered
            # read, so those rowids no longer exist anywhere) — consolidate the
            # tombstone set to keep the manifest invariant: every tombstoned
            # rowid lies in a live file, and tombstone_rows is an exact
            # live-row correction.
            if self.manifest.tombstones:
                # A rowid range alone does not decide membership: file rowid
                # ranges can overlap (compact(sort_by=<non-rowid col>)
                # range-partitions by the sort column, interleaving rowids
                # across files), and footer stats can be absent (the [-1,-1]
                # sentinel). A raw — deliberately tombstone-unfiltered — read of
                # the retired files' rowid column is the exact set of rowids
                # that just ceased to exist; only tombstones outside it survive.
                rowid_schema = T.StructType([T.StructField(ROWID, T.LongType())])
                paths = [self._abs(f.path) for f in affected]
                tomb = self._tomb_ids(self.CDF_DRIVER_READ_ROWS)
                if tomb is None:
                    raw = self.spark.read.schema(rowid_schema).parquet(*paths)
                    remaining = self._tombstone_df().join(raw, ROWID, "left_anti")
                    keep_rel = self._victims_rel()
                    remaining.write.parquet(self._abs(keep_rel))
                    n_keep = self._parquet_rows(keep_rel)  # footer-only, no job
                    self.manifest.tombstones = [keep_rel] if n_keep else []
                    self.manifest.tombstone_rows = n_keep
                else:
                    # bounded set, decided on the driver: ids outside every
                    # retired file's range stay. An id inside one that no kept
                    # file's range covers is gone — it lies in SOME live file
                    # (the manifest invariant), so in a retired one. Only ids
                    # in overlapping ranges need the membership read (pyarrow,
                    # the retired files' rowid column, no job).
                    import pyarrow as pa
                    import pyarrow.compute as pc

                    cand = self._ids_in_files(tomb, affected)
                    shared = self._ids_in_files(cand, kept)
                    gone = set(cand).difference(shared)
                    if shared:
                        hit = pc.is_in(pc.field(ROWID), pa.array(shared, pa.int64()))
                        gone.update(self._arrow_read(paths, rowid_schema, hit)[ROWID].to_pylist())
                    if gone:
                        self._set_tombstones([i for i in tomb if i not in gone], "t")

            self.manifest.files = kept
            new_files = self._register_files(batch_rel) if batch_rel else []
            # un-index: dead file ids drop out of the live set (posting rows that
            # reference them are filtered at read; src/lib.rs:164-168 analogue),
            # and the survivors' new files are indexed incrementally — their
            # keys are already in every sketch, so ndv stays an upper bound
            # until compact (the deferred delete's contract)
            self._index_files(
                list(self.manifest.indices.values()), new_files, survivors, sketch=False
            )
            self.manifest.pending_cdf = [cdf_rel]
            self._staged = True

    # -- maintenance --------------------------------------------------------

    def history(self) -> DataFrame:
        """Snapshot history (the lakehouse ``DESCRIBE HISTORY`` view): one
        row per retained manifest version — committed_at epoch, live/total
        rows, tombstoned rows, file count, rowid watermark, index count.
        PURELY driver-side metadata (one small JSON per retained version;
        bounded by vacuum retention) — zero Spark jobs at any table size.
        """
        mdir = Manifest._dir(self.path)
        versions = sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )
        rows = []
        for v in versions:
            m = Manifest.load(self.path, v)
            rows.append(
                (
                    v,
                    float(m.committed_at) if m.committed_at else None,
                    m.live_rows,
                    m.total_rows,
                    m.tombstone_rows,
                    len(m.files),
                    m.rowid,
                    len(m.indices),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, committed_at double, live_rows long, total_rows long, "
            "tombstone_rows long, n_files int, rowid_watermark long, n_indices int",
        )

    def restore(self, version: int) -> None:
        """RESTORE the table to snapshot ``version`` — as a NEW commit
        (the lakehouse undo button): the current manifest's successor
        points at the old version's files/tombstones/indices, so history
        is preserved (a restore can itself be undone) and readers flip
        atomically. METADATA-ONLY — no data movement at any table size;
        valid exactly while the target snapshot's files survive vacuum
        retention (the same contract as time-travel reads). The rowid
        watermark keeps its CURRENT value: rowids minted after the
        restored snapshot are never reused, so CDC consumers downstream
        of a restore stay exact."""
        if version == self.manifest.version:
            return
        old = Manifest.load(self.path, version)  # raises if expired/unknown
        with self._txn():
            cur = self.manifest
            cur.files = list(old.files)
            cur.tombstones = list(old.tombstones)
            cur.tombstone_rows = old.tombstone_rows
            cur.schema_json = old.schema_json
            cur.indices = {c: s for c, s in old.indices.items()}
            cur.rowid = max(cur.rowid, old.rowid)  # never reuse rowids
            # a restore RESURRECTS rows (and may drop rows added since) —
            # neither is expressible as a delete changelog, so the commit is
            # non-changelogged and CDC windows crossing it diff snapshots
            cur.pending_cdf = None
            self._staged = True

    def vacuum(self, retain_versions: int = 1) -> int:
        """Garbage-collect files no longer referenced by the retained
        manifest versions (copy-on-write deletes and compactions leave the
        old files behind for snapshot reads). Returns files removed.

        ``retain_versions=1`` keeps only the current snapshot; larger values
        preserve that much time travel. The 100 TB analogue is an expiring-
        snapshots job."""
        import re
        import shutil

        from .manifest import PartedFileList

        mdir = Manifest._dir(self.path)
        # version manifests are exactly v<digits>.json — manifest PART
        # files (v<digits>-files-p<k>.json) are cleaned separately below
        versions = sorted(
            int(m.group(1))
            for m in (re.fullmatch(r"v(\d+)\.json", f) for f in os.listdir(mdir))
            if m
        )
        keep_versions = set(versions[-retain_versions:])
        keep_versions.add(self.manifest.version)
        live: set[str] = set()
        live_mparts: set[str] = set()
        for v in keep_versions:
            m = Manifest.load(self.path, v)
            if isinstance(m.files, PartedFileList):
                live_mparts.update(pm["part"] for pm in m.files._meta)
            for f in m.files:
                live.add(os.path.normpath(self._abs(f.path)))
            for spec in m.indices.values():
                for part in spec.parts:
                    live.add(os.path.normpath(self._abs(part)))
            for t in m.tombstones:
                live.add(os.path.normpath(self._abs(t)))
            # a retained version keeps its change-data-feed changelog, so
            # changes(since=<retained>) stays serveable from the feed for
            # exactly as long as its snapshots are (one retention contract)
            for rel in m.cdf_deletes or []:
                live.add(os.path.normpath(self._abs(rel)))
        live_dirs = {os.path.dirname(p) for p in live} | live
        removed = 0
        for sub in ("data", "idx", "tomb", "cdf"):
            root = os.path.join(self.path, sub)
            if not os.path.isdir(root):
                continue
            for dirpath, _dirnames, filenames in os.walk(root):
                for fn in filenames:
                    full = os.path.normpath(os.path.join(dirpath, fn))
                    if not fn.endswith(".parquet"):
                        continue
                    # posting parts are directories of parquet files; keep a
                    # file if any retained manifest references it or its dir
                    if full in live or os.path.dirname(full) in live:
                        continue
                    os.remove(full)
                    removed += 1
            # drop dead dirs (including _SUCCESS/.crc sidecars that the
            # parquet-only pass above deliberately left alone)
            for dirpath, dirnames, filenames in list(os.walk(root, topdown=False)):
                if dirpath == root or os.path.normpath(dirpath) in live_dirs:
                    continue
                if not any(fn.endswith(".parquet") for fn in filenames) and not dirnames:
                    shutil.rmtree(dirpath, ignore_errors=True)
        for v in versions:
            if v not in keep_versions:
                os.remove(os.path.join(mdir, f"v{v}.json"))
        # manifest part files not referenced by any retained version
        # (part REUSE means a part may be shared across versions — only
        # the reference set decides liveness, never the name's version)
        for f in os.listdir(mdir):
            if re.fullmatch(r"v\d+-files-p\d+\.json", f) and f not in live_mparts:
                os.remove(os.path.join(mdir, f))
        return removed

    def describe(self) -> DataFrame:
        """Table-health view (the ``DESCRIBE EXTENDED`` a lakehouse user
        expects): one row per column — type, index kind, cost-model stats
        (rows / ndv estimate from the committed HLL sketch), and the
        table-wide min/max folded from per-file manifest stats. PURELY
        driver-side metadata — zero Spark jobs, any table size."""
        rows = []
        files = self.manifest.files
        for f_ in self.manifest.schema.fields:
            spec = self.manifest.indices.get(f_.name)
            mins = [f.stats[f_.name][0] for f in files if f_.name in f.stats]
            maxs = [f.stats[f_.name][1] for f in files if f_.name in f.stats]
            rows.append(
                (
                    f_.name,
                    f_.dataType.simpleString(),
                    spec.kind if spec else None,
                    int(spec.rows) if spec else None,
                    int(spec.ndv) if spec else None,
                    str(min(mins)) if len(mins) == len(files) and files else None,
                    str(max(maxs)) if len(maxs) == len(files) and files else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "col_name string, dtype string, index string, idx_rows long, "
            "idx_ndv long, min string, max string",
        )

    def stats_agg(self, name: str) -> DataFrame:
        """Metadata-only COUNT/MIN/MAX for one column — the aggregate the
        stats layer answers with ZERO Spark jobs (the lakehouse
        "SELECT min(x) hits the manifest" optimization; per-file stats
        fold driver-side exactly like pruning reads them).

        Exactness guards — the fast path is taken only when it cannot be
        wrong, otherwise the SAME (n_rows, min_val, max_val) row comes
        from a column-pruned distributed scan:

        - tombstones present → fallback (a masked row may hold the
          current extreme; file stats cannot see deletes under
          merge-on-read);
        - any live file missing a usable (lo, hi) for the column →
          fallback (an all-null file and an uncollected stat look the
          same, and pruning-style superset reasoning is NOT enough for an
          exact aggregate).

        ``n_rows`` is always ``live_rows`` (exact from the manifest even
        with tombstones — tombstone_rows is an exact correction).
        Output: 1 row (n_rows, min_val, max_val)."""
        if name not in self.colnames:
            raise KeyError(name)
        files = self.manifest.files
        # fast path only for dtypes whose JSON-manifest stat values
        # round-trip losslessly into createDataFrame (numbers, strings);
        # timestamps/decimals/binary go through the scan
        dt = self.schema[name].dataType.simpleString()
        fast = (
            self.manifest.tombstone_rows == 0
            and len(files) > 0
            and dt in ("tinyint", "smallint", "int", "bigint", "float", "double", "string")
        )
        lo = hi = None
        if fast:
            import math

            def _unsafe(v):
                # NaN breaks Python's min/max fold (comparisons all False)
                # and -0.0 could surface with a different sign than the
                # scan's answer — both force the exact fallback
                return isinstance(v, float) and (
                    math.isnan(v) or (v == 0.0 and math.copysign(1.0, v) < 0)
                )

            for f in files:
                st = f.stats.get(name)
                if (
                    not st
                    or st[0] is None
                    or st[1] is None
                    or _unsafe(st[0])
                    or _unsafe(st[1])
                ):
                    fast = False
                    break
                lo = st[0] if lo is None else min(lo, st[0])
                hi = st[1] if hi is None else max(hi, st[1])
        out_schema = f"n_rows long, min_val {dt}, max_val {dt}"
        if fast:
            return self.spark.createDataFrame(
                [(int(self.manifest.live_rows), lo, hi)], out_schema
            )
        scan = self._read_files(files).select(name) if files else None
        if scan is None:
            return self.spark.createDataFrame([(0, None, None)], out_schema)
        return scan.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(name).alias("min_val"),
            F.max(name).alias("max_val"),
        )

    def add_column(self, name: str, dtype: T.DataType | str) -> None:
        """Schema evolution: append a NULLABLE column — a metadata-only
        commit. No data file is touched: parquet reads against the widened
        schema fill the missing column with null for every pre-existing
        file (the Iceberg/Delta add-column shape, minus non-null defaults,
        which would need per-file schema-version bookkeeping at read time
        — deliberately out of scope). New inserts must carry the column
        (insert validates names and types against the current schema)."""
        if isinstance(dtype, str):
            dtype = T._parse_datatype_string(dtype)
        schema = self.manifest.schema
        if name == ROWID or name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists or is reserved")
        with self._txn():
            self.manifest.schema_json = T.StructType(
                [*schema.fields, T.StructField(name, dtype, True)]
            ).json()
            self._staged = True

    def drop_column(self, name: str) -> None:
        """Schema evolution: remove a column — metadata-only; the bytes
        stay in the files but every read projects them away. Refuses to
        drop an indexed column (drop the index first — implicit cascades
        hide cost), a CONSTRAINED column (same reasoning), or the last
        column. NOTE: POSITIONAL conditions index the post-drop column
        order, exactly like the reference's positional rows; named
        conditions are unaffected."""
        if any(c == name for c, _k in self._constraints()):
            raise ValueError(f"column {name!r} carries a constraint; drop it first")
        schema = self.manifest.schema
        if name not in schema.fieldNames():
            raise ValueError(f"no such column {name!r}")
        if name in self.manifest.indices:
            raise ValueError(f"column {name!r} is indexed — drop the index first")
        for spec in self.manifest.indices.values():
            if spec.columns and name in spec.columns:
                raise ValueError(
                    f"column {name!r} is a member of composite index "
                    f"{spec.column!r} — drop the index first"
                )
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the last column")
        with self._txn():
            self.manifest.schema_json = T.StructType(
                [f for f in schema.fields if f.name != name]
            ).json()
            self._staged = True

    def _cdf_window_rels(
        self, old_version: int
    ) -> list[tuple[str, T.StructType]] | None:
        """(changelog dir, schema of the commit that wrote it) for every
        commit in ``(old_version, current]`` — the CDC delete tier's read
        set — or None when any commit in the window is not changelogged
        (restore / merge victims / apply_changes deletes / pre-CDF
        history) or a needed manifest or changelog dir is no longer
        retained. Driver-side JSON loads, bounded by vacuum retention;
        zero Spark jobs."""
        rels: list[tuple[str, T.StructType]] = []
        for v in range(old_version + 1, self.manifest.version + 1):
            try:
                m = Manifest.load(self.path, v)
            except FileNotFoundError:
                return None
            if m.cdf_deletes is None:
                return None
            rels.extend((rel, m.schema) for rel in m.cdf_deletes)
        for rel, _ in rels:
            if not os.path.isdir(self._abs(rel)):
                return None  # vacuumed past retention — diff if possible
        return rels

    def _read_cdf_rels(
        self,
        rels: Sequence[tuple[str, T.StructType]],
        cols: Sequence[str],
        old: Manifest,
    ) -> DataFrame:
        """Union of changelog dirs projected to ``cols``. Each dir was
        written in the schema of ITS commit and is read with that schema
        plus ``__rowid`` (a schema-less read infers it from the footers in
        one Spark job per dir; a Spark-side conversion of the footer
        schema would type INT96 timestamps wrongly). A column added
        between the old snapshot and the delete is projected away by
        ``cols``, a column missing from an older changelog null-pads, and
        the CoW per-file attribution column (``__cdf_file``) is not in the
        read schema, so it is never read."""
        old_types = {f.name: f.dataType for f in old.schema.fields}
        old_types[ROWID] = T.LongType()
        out = None
        for rel, schema in rels:
            df = self.spark.read.schema(
                T.StructType([T.StructField(ROWID, T.LongType()), *schema.fields])
            ).parquet(self._abs(rel))
            have = set(df.columns)
            part = df.select(
                *[
                    F.col(c)
                    if c in have
                    else F.lit(None).cast(old_types[c]).alias(c)
                    for c in cols
                ]
            )
            out = part if out is None else out.unionByName(part)
        return out

    def _change_tables(self, since_version: int, columns: Sequence[str]):
        """The change-data-feed tier of :meth:`changes`, read on the driver
        with pyarrow (zero Spark jobs): ``(inserted, deleted)`` arrow
        tables of ``__rowid`` and ``columns``. ``inserted`` holds the live
        rows at or above the old snapshot's rowid watermark, tombstoned
        rows dropped in the scan; ``deleted`` the window's changelog rows
        below it, each dir read in its commit's schema, where a column the
        changelog or the old snapshot lacks reads as null. None when the
        feed does not serve the window, a column fails
        :meth:`_driver_atomic_type`, or the tombstone set or the rows read
        (appended files by their manifest counts, changelogs by their
        footers) exceed ``CDF_DRIVER_READ_ROWS``."""
        rels = self._cdf_window_rels(since_version)
        if rels is None or not all(
            self._driver_atomic_type(self.manifest.schema[c].dataType) for c in columns
        ):
            return None
        try:
            old = Manifest.load(self.path, since_version)
        except FileNotFoundError:
            return None
        wm = old.rowid
        files = [f for f in self.manifest.files if f.max_rowid >= wm]
        tomb = self._tomb_ids(self.CDF_DRIVER_READ_ROWS)
        if tomb is None or sum(f.rows for f in files) + sum(
            self._parquet_rows(rel) for rel, _ in rels
        ) > self.CDF_DRIVER_READ_ROWS:
            return None
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql.pandas.types import to_arrow_schema

        full = self._schema_with_rowid()
        cols = [ROWID, *columns]
        out_schema = to_arrow_schema(T.StructType([full[c] for c in cols]))
        pred = pc.field(ROWID) >= wm
        ids = self._ids_in_files(tomb, files)
        if ids:
            pred = pred & ~pc.is_in(pc.field(ROWID), pa.array(ids, pa.int64()))
        inserted = self._arrow_read([self._abs(f.path) for f in files], full, pred, cols)
        deleted = [out_schema.empty_table()]
        for rel, schema in rels:
            d = self._abs(rel)
            have = [c for c in cols if c == ROWID or (c in schema.names and c in old.schema.names)]
            t = self._arrow_read(
                sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")),
                T.StructType([full[ROWID], *schema.fields]),
                pc.field(ROWID) < wm,
                have,
            )
            deleted.append(
                pa.table(
                    [
                        t[c] if c in have else pa.nulls(t.num_rows, out_schema.field(c).type)
                        for c in cols
                    ],
                    schema=out_schema,
                )
            )
        return inserted, pa.concat_tables(deleted)

    def changes(self, since_version: int) -> DataFrame:
        """Incremental (CDC) read: every row-level change between snapshot
        ``since_version`` and the current version, as one DataFrame of
        (change_type 'insert'|'delete', __rowid, *cols) — what a downstream
        incremental consumer (materialized aggregate, search index, replica)
        applies instead of re-reading the table.

        Exactness rests on two Store invariants: rowids are NEVER reused,
        and rewrites (copy-on-write delete, compact) PRESERVE rowids — so
        - inserts are precisely the live rows with ``__rowid`` at or above
          the old snapshot's watermark. Files are pruned driver-side by
          their manifest ``max_rowid`` (zero jobs), so the scan cost is
          proportional to data written since the snapshot, not table size;
        - deletes are served in the cheapest of THREE tiers:

          1. CHANGE DATA FEED (r12, the Delta-CDF shape): when every
             commit in the window changelogged its deletes (both
             ``delete_filter`` strategies write their full victim rows
             at delete time — rows the mutation was already reading),
             the tier is a READ of those changelog dirs filtered to
             ``rowid < watermark`` — cost ∝ deleted rows, zero snapshot
             scans, zero joins; an insert/compact-only window is an
             EMPTY tier with zero jobs. ``last_changes_used_cdf``
             records whether this tier served.
          2. CHURN-BOUNDED snapshot diff: when the feed is unavailable
             (a merge / apply_changes / pre-CDF commit in the window)
             but tombstones only grew, the tier scans [retired files] ∪
             [still-shared files overlapping the new tombstones' footer
             range, semi-joined on those rowids], anti-joined against
             files ADDED since — cost ∝ churn, never ∝ table size.
          3. FULL diff (old-live ∖ current-live) when tombstones shrank
             (``restore``) — exactness never rides an optimization.

          Deleted rows' values are identical in all tiers (rows are
          immutable; rewrites preserve rowids and values). ``vacuum``
          retires changelogs and old files together with their
          snapshots, so CDC readers consume before the retention
          horizon — the standard lakehouse contract.
        """
        try:
            old = Manifest.load(self.path, since_version)
        except FileNotFoundError:
            raise ValueError(
                f"no snapshot v{since_version} of {self.path!r} is retained "
                "(never committed, or vacuumed past the retention horizon)"
            ) from None
        wm = old.rowid
        new_files = [f for f in self.manifest.files if f.max_rowid >= wm]
        if new_files:
            appended = self._read_files(new_files).filter(F.col(ROWID) >= wm)
        else:
            appended = self._empty(True)
        old_store = Store(self.spark, self.path, old)
        # CHANGE DATA FEED fast path (r12): when EVERY commit in the
        # window changelogged its deletes (delete_filter writes full
        # victim rows at delete time; insert/compact/index commits record
        # "no deletes"), the delete tier is a READ of those changelog
        # dirs — cost ∝ deleted rows, zero snapshot scans, zero joins —
        # and resurrection is impossible (restore poisons the window).
        # The ``rowid < wm`` filter nets out rows inserted AND deleted
        # inside the window; values are exact because rows are immutable
        # (rewrites preserve rowids and values), so the changelog copy
        # equals what the old snapshot's files would serve.
        cdf_rels = self._cdf_window_rels(old.version)
        self.last_changes_used_cdf = cdf_rels is not None
        cols_now = [ROWID, *self.manifest.schema.fieldNames()]
        old_fields = set(old.schema.fieldNames())
        old_cols_cdf = [c for c in cols_now if c == ROWID or c in old_fields]
        old_tomb_set = set(old.tombstones)
        tombs_grew = old_tomb_set <= set(self.manifest.tombstones)
        cur_paths = {f.path for f in self.manifest.files}
        old_paths = {f.path for f in old.files}
        if cdf_rels is not None:
            if cdf_rels:
                deleted = self._read_cdf_rels(cdf_rels, old_cols_cdf, old).filter(
                    F.col(ROWID) < wm
                )
            else:
                # delete-free window: EMPTY tier, zero jobs
                deleted = old_store._empty(True)
            resurrected = self._empty(True)
        elif tombs_grew:
            # churn-bounded tiers (see docstring): a live row disappears
            # only with its file (retired) or via a tombstone added since
            retired = [f for f in old.files if f.path not in cur_paths]
            added = [f for f in self.manifest.files if f.path not in old_paths]
            new_tombs = [
                t for t in self.manifest.tombstones if t not in old_tomb_set
            ]
            cand = old_store._read_files(retired) if retired else None
            if new_tombs:
                tmin, tmax = self._tomb_rowid_range(new_tombs)
                shared_hit = [
                    f
                    for f in old.files
                    if f.path in cur_paths
                    and f.max_rowid >= tmin
                    and f.min_rowid <= tmax
                ]
                shared_cand = None
                ids = self._tomb_ids()
                if ids is not None:
                    # the WHOLE current set may stand in for the new dirs:
                    # old-live rows already exclude the old tombstones,
                    # and those are a subset of the current ones
                    hit = self._ids_in_files(ids, shared_hit)
                    if hit:
                        shared_cand = old_store._read_files(shared_hit).filter(
                            self._in_literal(ROWID, hit)
                        )
                elif shared_hit:
                    tomb_ids = self.spark.read.schema(f"{ROWID} long").parquet(
                        *[self._abs(t) for t in new_tombs]
                    )
                    shared_cand = old_store._read_files(shared_hit).join(
                        tomb_ids, ROWID, "left_semi"
                    )
                if shared_cand is not None:
                    cand = (
                        shared_cand
                        if cand is None
                        else cand.unionByName(shared_cand)
                    )
            if cand is None:
                deleted = old_store._empty(True)
            else:
                # a candidate is still live only if a rewrite carried its
                # rowid into a file added since (rowids are preserved)
                added_live_ids = (
                    self._read_files(added).select(ROWID) if added else None
                )
                deleted = (
                    cand
                    if added_live_ids is None
                    else cand.join(added_live_ids, ROWID, "left_anti")
                )
            # RESURRECTED tier: under grown-only tombstones a shared
            # file's row that is live now was live at the old snapshot
            # too, so resurrection can only surface from ADDED files
            # carrying sub-watermark rowids (a restore-like re-addition);
            # the old-live anti-join side prunes to the files whose rowid
            # ranges overlap those rows
            sub_wm_added = [f for f in added if f.min_rowid < wm]
            if sub_wm_added:
                added_sub_live = self._read_files(sub_wm_added).filter(
                    F.col(ROWID) < wm
                )
                lo = min(f.min_rowid for f in sub_wm_added)
                old_overlap = [
                    f for f in old.files if f.max_rowid >= lo and f.min_rowid < wm
                ]
                if old_overlap:
                    old_ids_pruned = old_store._read_files(old_overlap).select(
                        ROWID
                    )
                    resurrected = added_sub_live.join(
                        old_ids_pruned, ROWID, "left_anti"
                    )
                else:
                    resurrected = added_sub_live
            else:
                resurrected = self._empty(True)
        else:
            # restore() shrank the tombstone set — fall back to the exact
            # full formula: old live ∖ current live, plus live
            # sub-watermark rows the old snapshot did not have (pinned by
            # test_changes_exact_across_restore)
            old_rows = old_store.find([], with_rowid=True)
            old_ids = old_rows.select(ROWID)
            cur_rows = self.find([], with_rowid=True)
            cur_ids = cur_rows.select(ROWID)
            deleted = old_rows.join(cur_ids, ROWID, "left_anti")
            resurrected = cur_rows.filter(F.col(ROWID) < wm).join(
                old_ids, ROWID, "left_anti"
            )
        cols = [ROWID, *self.manifest.schema.fieldNames()]
        # schema evolution between the snapshots: the delta is expressed in
        # the CURRENT schema — a column added since the old snapshot is
        # null on delete rows (the old files never had it); a column
        # dropped since is projected away from both sides
        old_cols = [c for c in cols if c == ROWID or c in old.schema.fieldNames()]
        return (
            appended.select(F.lit("insert").alias("change_type"), *cols)
            .unionByName(resurrected.select(F.lit("insert").alias("change_type"), *cols))
            .unionByName(
                deleted.select(F.lit("delete").alias("change_type"), *old_cols),
                allowMissingColumns=True,
            )
            .select("change_type", *cols)
        )

    def diff(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level delta between two SNAPSHOTS — time-travel diff, the
        generalization of :meth:`changes` to a bounded version window
        (``changes(v) ≡ diff(v, current)``). Implemented by pointing the
        CDC reader at the target snapshot's manifest, so every changes()
        invariant (rowid watermark file pruning, the resurrection tier for
        restores, current-schema projection) applies verbatim; mutations
        after ``to_version`` are invisible. Zero extra scan cost over
        changes(): both snapshots are metadata loads."""
        if to_version is None:
            return self.changes(from_version)
        if to_version < from_version:
            raise ValueError(
                f"to_version {to_version} must be >= from_version {from_version}"
            )
        try:
            to_man = Manifest.load(self.path, to_version)
        except FileNotFoundError:
            raise ValueError(
                f"no snapshot v{to_version} of {self.path!r} is retained "
                "(never committed, or vacuumed past the retention horizon)"
            ) from None
        tgt = Store(self.spark, self.path, to_man)
        out = tgt.changes(from_version)
        # surface the CDC-tier introspection on the store the caller holds
        self.last_changes_used_cdf = tgt.last_changes_used_cdf
        return out

    def apply_changes(self, delta: DataFrame) -> tuple[int, int]:
        """Apply an upstream store's ``changes()`` delta to this store —
        the consumer half of CDC: a follower converges to the leader by
        applying each (change_type, __rowid, *cols) delta in order, at
        cost ∝ delta size instead of re-copying the table.

        The follower PRESERVES the leader's rowid space (legal because
        rowids are never reused upstream and rewrites preserve them), so
        later deltas — whose delete rows are addressed by rowid — keep
        applying. Corollary: a follower must take writes ONLY through
        ``apply_changes``; a local ``insert`` would mint rowids that
        collide with future leader batches (guarded below).

        Atomicity mirrors ``merge``: deletes are staged as a merge-on-read
        tombstone that rides the SAME manifest commit as the inserted
        files — a reader sees the pre-delta or the fully-applied table,
        never half. Deletes can only reference pre-delta rows
        (``changes()`` nets out rows appended and deleted inside the
        window), so staging deletes first is safe.

        Returns (rows_inserted, rows_deleted).
        """
        expect = ["change_type", ROWID, *self.manifest.schema.fieldNames()]
        got = [f.name for f in delta.schema.fields]
        if got != expect:
            raise ValueError(f"delta schema mismatch: expected {expect}, got {got}")
        # Small-delta fast path: ONE bounded collect (limit gate) replaces
        # the distributed apply's ~6 actions (stats agg, collision probe,
        # resurrection probe, victims write+count, batch write) — a CDC
        # micro-delta is metadata-class data, and the follower-side live /
        # tombstone sets it must be checked against are footer-readable
        # when the follower is small. Ineligible (big delta, big follower,
        # non-atomic schema) falls through to the unchanged path.
        done = self._apply_changes_driver(delta)
        if done is not None:
            return done
        wm = self.manifest.rowid
        from .functions import _row_bound

        # read before persist: the plan of a cache not loaded yet holds no bound
        bound = _row_bound(delta)
        delta = delta.persist()
        # a rejected or failed apply leaves nothing staged (_txn); orphan
        # parquet dirs it wrote are inert and vacuumable, same as merge()
        try:
            with self._txn():
                ins = delta.filter(F.col("change_type") == "insert").select(
                    ROWID, *self.manifest.schema.fieldNames()
                )
                ranges = _RangeSplit(
                    ins.schema, self._cluster_cols(), bound is None or self._n_files(bound) > 1
                )
                st = ins.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min(ROWID).alias("lo"),
                    F.max(ROWID).alias("hi"),
                    *ranges.aggs,
                ).collect()[0]
                n_ins = int(st["n"] or 0)
                # Legitimacy guard — runs BEFORE any manifest staging so a
                # rejected delta leaves no state behind. An insert's rowid may
                # sit below the follower watermark (a RESTORE on the leader
                # resurrects old rowids — changes() emits them as inserts), so
                # the check is COLLISION against the live set, not a watermark
                # floor: a colliding rowid means the delta was applied twice or
                # the follower took a local write. One semi-join on the
                # column-pruned rowid scan; live set is empty on a fresh
                # follower, so bootstrap pays nothing.
                if n_ins and self.manifest.files:
                    live_ids = self.find([], with_rowid=True).select(ROWID)
                    n_clash = ins.select(ROWID).join(live_ids, ROWID, "left_semi").count()
                    if n_clash:
                        raise ValueError(
                            f"{n_clash} delta insert rowid(s) collide with live "
                            "follower rows — the delta was applied twice, or the "
                            "follower took a local write"
                        )
                # Resurrection via tombstone purge: a delta insert may carry a
                # rowid this follower previously TOMBSTONED (leader deleted
                # then RESTOREd across the window; changes() nets within-
                # window, so the same delta never both deletes and inserts one
                # rowid). The masked PHYSICAL copy still sits in a live file —
                # rows are immutable (add/remove only), so a rowid always maps
                # to the same content and un-masking it IS the resurrection;
                # inserting a second physical copy would duplicate the rowid.
                # Without the purge the insert path would also leave the row
                # permanently masked (reads anti-join the whole tombstone set)
                # — silent divergence from the leader. Consolidate the
                # tombstone parts minus the delta's insert rowids in the SAME
                # commit; rowids absent from the tombstone set (including
                # resurrections whose masked copy was since compacted away)
                # fall through to the physical-insert path below. Skipped
                # entirely (one semi-join probe) when nothing is resurrected.
                n_res = 0
                ids = self._tomb_ids() if n_ins and self.manifest.tombstones else None
                if ids is not None:
                    # bounded set: only tombstones inside the delta's insert
                    # rowid range can come back — one collect finds which
                    lo, hi = int(st["lo"]), int(st["hi"])
                    cand = ids[bisect.bisect_left(ids, lo) : bisect.bisect_right(ids, hi)]
                    res: set[int] = set()
                    if cand:
                        hit = ins.select(ROWID).filter(self._in_literal(ROWID, cand)).collect()
                        res = {r[0] for r in hit}
                    n_res = len(res)
                    if n_res:
                        ins = ins.filter(~self._in_literal(ROWID, sorted(res)))
                        self._set_tombstones([i for i in ids if i not in res], "p")
                elif n_ins and self.manifest.tombstones:
                    tomb = self._tombstone_df()
                    ins_ids = ins.select(ROWID)
                    n_res = tomb.join(ins_ids, ROWID, "left_semi").count()
                    if n_res:
                        keep_rel = os.path.join(
                            "tomb", f"p{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                        )
                        tomb.join(ins_ids, ROWID, "left_anti").write.parquet(self._abs(keep_rel))
                        n_keep = self._parquet_rows(keep_rel)  # footer-only, no job
                        # tomb lazily re-reads the OLD part paths (still on
                        # disk) — safe to keep using after the manifest swap
                        ins = ins.join(tomb, ROWID, "left_anti")
                        self.manifest.tombstones = [keep_rel] if n_keep else []
                        self.manifest.tombstone_rows = n_keep
                n_del = 0
                dels = delta.filter(F.col("change_type") == "delete").select(ROWID)
                if self.manifest.files:
                    # semi-join against the live set keeps tombstone_rows an
                    # exact live-row correction even on a malformed delta
                    live = self.find([], with_rowid=True).select(ROWID)
                    victims_rel = os.path.join(
                        "tomb", f"r{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                    )
                    dels.join(live, ROWID, "left_semi").write.parquet(self._abs(victims_rel))
                    n_del = self._parquet_rows(victims_rel)  # footer-only, no job
                    if n_del:
                        self.manifest.tombstones.append(victims_rel)
                        self.manifest.tombstone_rows += n_del
                    else:
                        import shutil

                        shutil.rmtree(self._abs(victims_rel), ignore_errors=True)
                if n_ins - n_res > 0:
                    batch_rel = os.path.join(
                        "data", f"r{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                    )
                    out = self._cluster_batch(ins, n_ins - n_res, ranges, [st])
                    out, obs = self._observe_sketches(out)
                    out.write.parquet(self._abs(batch_rel))
                    self._register_and_index(batch_rel, sketch=obs)
                if n_ins:
                    self.manifest.rowid = max(wm, int(st["hi"]) + 1)
                if n_ins or n_del:
                    if n_del or (n_ins and int(st["lo"]) < wm):
                        # the applied deletes were only materialized as rowids,
                        # and an insert below the watermark (a resurrection,
                        # purged or re-inserted) escapes the changelog tier's
                        # ``rowid >= watermark`` insert filter — mark the
                        # commit non-changelogged; the follower's own
                        # downstream CDC falls back to snapshot diffing across
                        # it. Appends above the watermark stay changelog-clean.
                        self.manifest.pending_cdf = None
                    self._staged = True
                return n_ins, n_del
        finally:
            delta.unpersist()

    def _apply_changes_driver(self, delta: DataFrame) -> tuple[int, int] | None:
        """Driver-side CDC apply for micro-deltas; returns (inserted,
        deleted) or None when ineligible. Semantics identical to the
        distributed path (collision guard, resurrection purge, live-set
        delete masking, one atomic commit) — only the execution venue
        changes: the follower's live rowids come from :meth:`_driver_tables`
        (which gates the follower), the delta arrives via one bounded
        collect, and the staged tombstone and data file are written with
        pyarrow (the inserted rows laid out by :meth:`_arrow_batch`)."""
        tables = self._driver_tables(self.manifest.files, [ROWID])
        if tables is None:
            return None
        cap = self.DRIVER_INSERT_ROWS
        rows = delta.limit(cap + 1).collect()
        if len(rows) > cap:
            return None  # bulk delta: the distributed path's parallelism earns its jobs
        names = self.manifest.schema.fieldNames()
        ins = [r for r in rows if r["change_type"] == "insert"]
        del_ids = {int(r[ROWID]) for r in rows if r["change_type"] == "delete"}
        live = {i for t in tables for i in t.column(ROWID).to_pylist()}
        ins_ids = {int(r[ROWID]) for r in ins}
        n_clash = len(ins_ids & live)
        if n_clash:
            raise ValueError(
                f"{n_clash} delta insert rowid(s) collide with live "
                "follower rows — the delta was applied twice, or the "
                "follower took a local write"
            )
        # resurrection purge: un-mask tombstoned rowids the delta
        # re-inserts (same commit); the rest insert physically
        tomb = set(self._tomb_ids(self.CDF_DRIVER_READ_ROWS))
        res_ids = ins_ids & tomb
        victims = sorted(del_ids & live)
        table = None
        if len(ins_ids) > len(res_ids):
            table = self._arrow_batch(
                [
                    (int(r[ROWID]), *(r[c] for c in names))
                    for r in ins
                    if int(r[ROWID]) not in res_ids
                ]
            )
            if table is None:
                return None
        wm = self.manifest.rowid
        with self._txn():
            if res_ids:
                self._set_tombstones(sorted(tomb - res_ids), "p")
            if victims:
                victims_rel = os.path.join(
                    "tomb", f"r{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                )
                self._write_rowid_part(victims_rel, victims)
                self.manifest.tombstones.append(victims_rel)
                self.manifest.tombstone_rows += len(victims)
            if table is not None:
                batch_rel = os.path.join(
                    "data", f"r{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}"
                )
                self._write_arrow(batch_rel, table)
                self._register_and_index(batch_rel, [table])
            if ins:
                self.manifest.rowid = max(wm, max(ins_ids) + 1)
            if ins or victims:
                if victims or (ins and min(ins_ids) < wm):
                    # see apply_changes: deletes and sub-watermark inserts
                    # leave the commit without a changelog
                    self.manifest.pending_cdf = None
                self._staged = True
        return len(ins), len(victims)

    def _write_rowid_part(self, rel: str, rowids: list[int]) -> None:
        """One-file tombstone part written driver-side (pyarrow), matching
        the Spark writer's single-column ``__rowid long`` schema."""
        import pyarrow as pa

        self._write_arrow(rel, pa.table({ROWID: pa.array(rowids, type=pa.int64())}))

    def _zorder_key(self, df: DataFrame, zcols: Sequence[str]) -> Column:
        """Interleaved-bit z-key over 2+ numeric columns: each value is
        scaled to a 16-bit rank inside its GLOBAL [min, max] (taken from
        manifest file stats when every live file carries them — zero Spark
        jobs — else one aggregate), then rank bits are interleaved
        round-robin into one long. Nulls rank 0 (footer stats ignore nulls,
        so pruning is unaffected). Pure column arithmetic — the key build
        is map-side and whole-stage-codegen'd."""
        import functools

        numeric = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType,
        )
        for c in zcols:
            if not isinstance(self.manifest.schema[c].dataType, numeric):
                raise ValueError(
                    f"zorder column {c!r} must be numeric, got "
                    f"{self.manifest.schema[c].dataType.simpleString()}"
                )
        bounds: dict[str, tuple[float, float]] = {}
        if all(
            c in f.stats and f.stats[c][0] is not None and f.stats[c][1] is not None
            for f in self.manifest.files
            for c in zcols
        ):
            for c in zcols:
                bounds[c] = (
                    float(min(f.stats[c][0] for f in self.manifest.files)),
                    float(max(f.stats[c][1] for f in self.manifest.files)),
                )
        else:  # stats gap (e.g. all-null file) → one bounded agg job
            row = df.agg(
                *[F.min(c).alias(f"__lo_{c}") for c in zcols],
                *[F.max(c).alias(f"__hi_{c}") for c in zcols],
            ).collect()[0]
            for c in zcols:
                lo = row[f"__lo_{c}"]
                hi = row[f"__hi_{c}"]
                bounds[c] = (float(lo or 0), float(hi if hi is not None else 0))
        bits = 16
        terms: list[Column] = []
        n = len(zcols)
        for j, c in enumerate(zcols):
            lo, hi = bounds[c]
            span = hi - lo
            if span <= 0:
                continue  # constant column contributes nothing to the key
            rank = F.floor(
                (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(float((1 << bits) - 1))
            )
            rank = F.coalesce(
                F.greatest(F.lit(0), F.least(rank, F.lit((1 << bits) - 1))), F.lit(0)
            ).cast("long")
            for i in range(bits):
                bit = F.shiftright(rank, i).bitwiseAND(F.lit(1))
                terms.append(F.shiftleft(bit, i * n + j))
        if not terms:
            return F.lit(0).cast("long")
        return functools.reduce(lambda a, b: a.bitwiseOR(b), terms)

    def maybe_compact(
        self,
        max_files: int = 64,
        min_rows_per_file: int | None = None,
        target_files: int | None = None,
        sort_by: str | Sequence[str] | None = None,
    ) -> bool:
        """Auto-OPTIMIZE policy: run :meth:`compact` only when the table's
        layout has degraded — the decision is METADATA-ONLY (zero Spark
        jobs at any table size), so a writer can call this after every
        batch and pay nothing until compaction is actually due.

        Triggers when EITHER holds:
        * live file count exceeds ``max_files`` (small-files problem:
          per-file task/manifest/open overheads dominate), or
        * tombstoned rows exceed half the live rows (merge-on-read debt:
          every read is paying the anti-join for more dead weight than
          data), or
        * mean rows per live file falls below ``min_rows_per_file``
          (default ROWS_PER_FILE / 4 — files too small to amortize a
          scan task).

        Returns True iff a compaction ran. The 100 TB analogue is the
        background OPTIMIZE service every lakehouse runs; the thresholds
        are per-table knobs, not magic.
        """
        files = self.manifest.files
        if not files:
            return False
        if min_rows_per_file is None:
            min_rows_per_file = self.ROWS_PER_FILE // 4
        n = len(files)
        mean_rows = self.manifest.total_rows / n
        debt = self.manifest.tombstone_rows > self.manifest.live_rows / 2
        # the small-files rules need n > 1: a single-file table cannot be
        # improved by merging files, however small it is (tiny DEV tables
        # would otherwise recompact forever)
        if debt or (n > 1 and (n > max_files or mean_rows < min_rows_per_file)):
            self.compact(target_files=target_files, sort_by=sort_by)
            return True
        return False

    def _live_rowid_bins(self, n_parts: int) -> tuple | None:
        """The live rows by rowid as ``(rowids, rows)`` bins for an
        ``n_parts``-way split (:meth:`_RangeSplit.split_by`), read from
        the manifest and the tombstone files' footers with no job: each
        data file's rows, and each tombstone row group's rows taken away,
        spread evenly over their rowid range. At least 16 bins a part and
        4,096 in all, whatever the file count. None where a tombstone
        footer has no rowid statistics."""
        import numpy as np

        spans = [(f.min_rowid, f.max_rowid, f.rows) for f in self.manifest.files if f.rows]
        if not spans:
            return [], []
        for rel in self.manifest.tombstones:
            d = self._abs(rel)
            for fn in os.listdir(d):
                if not fn.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(d, fn))
                col = md.schema.names.index(ROWID)
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    st = rg.column(col).statistics
                    if not rg.num_rows:
                        continue
                    if st is None or not st.has_min_max:
                        return None
                    spans.append((st.min, st.max, -rg.num_rows))
        arr = np.array(spans, dtype=float)
        lo, hi, rows = arr[:, 0], arr[:, 1] + 1, arr[:, 2]
        rate = rows / (hi - lo)
        n_bins = int(min(max(4_096, 16 * n_parts), hi.max() - lo.min()))
        edges = np.linspace(lo.min(), hi.max(), n_bins + 1)

        def started(at: np.ndarray) -> np.ndarray:
            # sum of rate * (edge - at) over the spans with at <= edge
            o = np.argsort(at)
            i = np.searchsorted(at[o], edges, side="right")
            r = np.concatenate([[0.0], np.cumsum(rate[o])])
            ra = np.concatenate([[0.0], np.cumsum(rate[o] * at[o])])
            return edges * r[i] - ra[i]

        below = started(lo) - started(hi)  # rows below each edge
        return edges[1:], np.maximum(np.diff(below), 0)

    def compact(
        self,
        target_files: int | None = None,
        sort_by: str | Sequence[str] | None = None,
    ) -> None:
        """Rewrite the table into ``target_files`` files, optionally
        clustered for data skipping. Scale hygiene: the 100 TB analogue is
        a background compaction service; here it is an explicit call.

        ``sort_by`` as a single column gives a LINEAR sort (a btree index
        gets real min/max locality so manifest-stats and parquet row-group
        pruning bite on range predicates over that one column). ``sort_by``
        as a LIST of 2+ numeric columns gives a Z-ORDER layout (the
        lakehouse OPTIMIZE ZORDER shape): each column is scaled to a
        16-bit rank in its global [min, max], the ranks' bits are
        interleaved into one long, and files are range-partitioned + sorted
        by that key — so every file covers a small hyper-rectangle and the
        SAME footer min/max stats prune predicates on ANY of the z
        columns, instead of only the leading sort column. The z-key is
        layout-only: it is dropped before write and never changes query
        results (``store_compact_invariant`` semantics hold)."""
        if not self.manifest.files:
            return
        df = self._read_files(self.manifest.files)
        if target_files is None:
            target_files = max(1, self.manifest.total_rows // 1_000_000)
        zcols: list[str] | None = None
        if sort_by is not None and not isinstance(sort_by, str):
            zcols = list(sort_by)
            if len(zcols) < 2:
                zcols_single = zcols[0] if zcols else None
                sort_by = zcols_single
                zcols = None
        if zcols:
            df = df.withColumn("__z", self._zorder_key(df, zcols))
            df = df.repartitionByRange(target_files, "__z")
            order_col = "__z"
        elif sort_by:
            df = df.repartitionByRange(target_files, sort_by)
            order_col = sort_by
        else:
            # rowid bounds from the manifest and the tombstones' footers,
            # no sampler job (_live_rowid_bins)
            ranges = _RangeSplit(df.schema, [ROWID])
            df = ranges.split_by(df, target_files, self._live_rowid_bins(target_files))
            order_col = ROWID
        batch_rel = os.path.join("data", f"c{self.manifest.version + 1}-{uuid.uuid4().hex[:8]}")
        out = df.sortWithinPartitions(order_col)
        if zcols:
            out = out.drop("__z")
        with self._txn():
            for spec in self.manifest.indices.values():
                spec.parts = []
                spec.part_stats = {}
                spec.sketch = None  # rebuilt from scratch: ndv exact again
            out, obs = self._observe_sketches(out)
            out.write.parquet(self._abs(batch_rel))
            self.manifest.files = []
            # the rewrite materialized the tombstone anti-join — clear the
            # merge-on-read state (compact IS the tombstone materialization job)
            self.manifest.tombstones = []
            self.manifest.tombstone_rows = 0
            new_files = self._register_files(batch_rel)
            self._index_files(list(self.manifest.indices.values()), new_files, sketch=obs)
            self._staged = True
