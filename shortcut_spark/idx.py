"""Index specifications and the selectivity estimate.

The reference keeps two in-memory index structures behind traits
(``EqualityIndex`` ``src/idx.rs:8-21``, ``RangeIndex`` ``src/idx.rs:83-87``):

- ``HashIndex``  — ``HashMap<K, Vec<rowid>>`` posting lists (``src/idx.rs:25-79``)
- ``BTreeIndex`` — ``BTreeMap<K, Vec<rowid>>`` + ``between`` (``src/idx.rs:91-135``)

Our distributed analogue keeps *file-granular* posting lists on disk: an
index over column ``c`` is an append-only set of parquet parts with rows
``(key, file_id)`` — "which data files may contain key k". An index lookup
prunes the file set; correctness still comes from the residual predicate
re-check, exactly the superset-then-filter contract of the reference
(``src/lib.rs:89-91,133``). A hash index additionally relies on parquet
min/max + dictionary pushdown inside the surviving files; a btree (range)
index keeps data files sorted by the key so parquet row-group pruning works
for range predicates, and its posting part supports key-range pruning.

``estimate`` reproduces the reference cost model: expected rows per key =
total rows / distinct keys (``src/idx.rs:71-78`` hash, ``src/idx.rs:127-129``
btree). Deliberate divergence: the reference's ``BTreeIndex::estimate``
divides by zero on an empty index (``src/idx.rs:127-129``); we guard both
kinds like ``HashIndex`` does (``src/idx.rs:71-78``) — documented in
SURVEY §4.3.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .cmp import Comparison

HASH = "hash"
BTREE = "btree"
BLOOM = "bloom"
COMPOSITE = "composite"
TRIGRAM = "trigram"

__all__ = [
    "HASH",
    "BTREE",
    "BLOOM",
    "COMPOSITE",
    "TRIGRAM",
    "IndexSpec",
    "HashIndex",
    "BTreeIndex",
    "BloomIndex",
    "CompositeIndex",
    "TrigramIndex",
    "as_index_kind",
]


@dataclass
class IndexSpec:
    """Manifest-resident description of one secondary index."""

    column: str
    kind: str  # HASH | BTREE | BLOOM
    parts: list[str] = field(default_factory=list)  # posting parquet paths
    rows: int = 0  # total indexed rows (num, src/idx.rs:28,50)
    ndv: int = 0  # distinct keys (map.len(), src/idx.rs:74,128)
    # merged HLL sketch (base64) over all posting keys — lets an insert
    # commit update ndv from the new batch alone instead of rescanning
    # every posting part. A sketch cannot subtract, so deletes leave it
    # (ndv an upper bound) and compact rebuilds it from scratch.
    sketch: str | None = None
    # session-scoped custom indexer object (the reference's user-impl
    # ``EqualityIndex`` trait object, ``src/idx.rs:8-21,174-184``). Its
    # ``supports(cmp)`` / ``estimate(rows, ndv)`` override the built-ins
    # for access-path selection; the storage layout stays that of ``kind``.
    # Trait objects aren't serializable (true in the reference too), so a
    # store reopened from the manifest falls back to built-in behavior.
    custom: object = field(default=None, compare=False, repr=False)
    # kind-specific layout parameters, serialized with the manifest.
    # BLOOM uses {"m_bits": int, "k": int} — bitset width and hash count,
    # fixed at index creation so every per-file bitset is probe-compatible.
    params: dict = field(default_factory=dict)
    # COMPOSITE only: the member columns, in declaration order. ``column``
    # then holds the canonical joined name ("a,b") used as the manifest
    # key and the posting directory. None for single-column kinds.
    columns: list[str] | None = None
    # per-part [min, max] of the range key ("key", or "k0" for COMPOSITE),
    # recorded at part write for primitive orderable key types — the
    # index-layer analogue of DataFile.stats: a point probe prunes whole
    # posting parts driver-side before any Spark job, so probe cost scales
    # with the parts that can contain the key, not the posting total.
    # Parts absent from the map (legacy, or non-orderable keys) are always
    # probed — conservative superset contract.
    part_stats: dict = field(default_factory=dict)

    def supports(self, cmp: Comparison) -> bool:
        """Which comparisons this index can serve.

        Reference ``find`` only ever consults an index for ``Equal(Const)``
        (``src/lib.rs:106-112``); we extend btree to serve ``between`` — the
        capability the reference implements but never wires up
        (``src/idx.rs:83-87``, SURVEY §2 note). A custom indexer's
        ``supports`` takes precedence.
        """
        if self.custom is not None and hasattr(self.custom, "supports"):
            return bool(self.custom.supports(cmp))
        if self.kind == COMPOSITE:
            # a composite index never serves a SINGLE condition — postings
            # are keyed by the full tuple, so a prefix probe would be a
            # posting scan, not a lookup. Whole-conjunction coverage is
            # decided in plans.choose_access_path.
            return False
        if self.kind == TRIGRAM:
            # substring (and equality, which implies containment) probes
            # with at least one full trigram; shorter needles have no gram
            # to look up — residual-only, full scan. Case-insensitive
            # probes need a ci index (lowered postings); a ci index also
            # serves case-SENSITIVE probes (original presence implies
            # lowered-gram presence — still a superset).
            ci = bool(self.params.get("ci"))
            ok_ops = ("contains", "icontains", "eq") if ci else ("contains", "eq")
            if cmp.op not in ok_ops or cmp.value is None or cmp.value.is_column:
                return False
            return isinstance(cmp.value.payload, str) and len(cmp.value.payload) >= 3
        if cmp.is_const_eq:
            return True  # all single-column kinds serve point equality
        return cmp.op == "between" and self.kind == BTREE

    def estimate(self) -> float:
        """Expected rows per distinct key (``src/idx.rs:71-78``); 0-guarded.
        A custom indexer's ``estimate(rows, ndv)`` takes precedence."""
        if self.custom is not None and hasattr(self.custom, "estimate"):
            return float(self.custom.estimate(self.rows, self.ndv))
        if self.ndv == 0:
            return 0.0
        return self.rows / self.ndv

    def to_json(self) -> dict:
        return {
            "column": self.column,
            "kind": self.kind,
            "parts": list(self.parts),
            "rows": self.rows,
            "ndv": self.ndv,
            "sketch": self.sketch,
            "params": dict(self.params),
            "columns": list(self.columns) if self.columns else None,
            "part_stats": {k: list(v) for k, v in self.part_stats.items()},
        }

    @classmethod
    def from_json(cls, d: dict) -> "IndexSpec":
        return cls(
            d["column"],
            d["kind"],
            list(d["parts"]),
            d["rows"],
            d["ndv"],
            d.get("sketch"),
            params=dict(d.get("params") or {}),
            columns=list(d["columns"]) if d.get("columns") else None,
            part_stats={k: list(v) for k, v in (d.get("part_stats") or {}).items()},
        )

    @property
    def member_columns(self) -> list[str]:
        """The data columns this index covers — the members for COMPOSITE,
        the single ``column`` otherwise."""
        return list(self.columns) if self.columns else [self.column]


class HashIndex:
    """Constructor marker mirroring ``HashIndex::new`` (``src/idx.rs:33-38``)."""

    kind = HASH


class BTreeIndex:
    """Constructor marker mirroring ``BTreeIndex::new`` (``src/idx.rs:99-104``)."""

    kind = BTREE


class CompositeIndex:
    """Multi-column hash index — no reference analogue (its indices are
    strictly per-column, ``src/lib.rs:59``); enters through the same
    ``Into<Index>`` seam (``src/idx.rs:174-184``). Postings are keyed by
    the full column TUPLE, so ``estimate`` divides by the ndv of the
    combined key — for correlated columns that is orders of magnitude
    tighter than either single-column index, and access-path selection
    picks it exactly when a find's AND-conjunction covers every member
    column with const-equality (the reference's min-estimate rule,
    ``src/lib.rs:113``, over one more candidate). Partial coverage never
    uses it: a prefix probe over tuple postings would be a scan.
    """

    kind = COMPOSITE

    def __init__(self, *columns: str):
        if len(columns) < 2:
            raise ValueError("composite index needs >= 2 columns")
        if len(set(columns)) != len(columns):
            raise ValueError("composite index columns must be distinct")
        self.columns = [str(c) for c in columns]


class TrigramIndex:
    """Fifth index kind — substring search, the classic inverted n-gram
    index (pg_trgm / Lucene wildcard pattern). No reference analogue (its
    one comparison is ``Equal``, ``src/cmp.rs:44-49``); enters through the
    same user-indexer seam as the others (``src/idx.rs:8-21,174-184``).

    Layout: posting rows ``(trigram, file_id)`` — every distinct 3-gram of
    every value, deduplicated per file. A ``contains(col, needle)`` probe
    keeps only files whose posting set holds EVERY trigram of the needle
    (a match must contain them all); the residual ``contains`` re-check on
    the pruned scan restores exactness — superset-then-residual, the same
    contract as every other path (``src/lib.rs:89-91``).

    100 TB story: the trigram key space is bounded by the alphabet³ (vs
    ndv for hash postings), so posting size grows with files, not values;
    probe cost is one cached-posting filter over |needle| grams. Equality
    probes are served too (a value contains all its own grams) — useful
    when the column carries long near-unique strings where a hash index's
    posting build would dwarf this one. ``estimate`` keeps the reference
    formula rows/ndv, which here reads "posting rows per distinct
    trigram" — a pessimistic (large) number relative to hash indexes, so
    min-estimate selection prefers an equality-capable index when both
    exist, engaging trigram only for the probes nothing else can serve.
    """

    kind = TRIGRAM

    def __init__(self, n: int = 3, case_insensitive: bool = False):
        if n != 3:
            raise ValueError("only n=3 (trigram) is supported")
        self.params = {"n": 3, "ci": bool(case_insensitive)}


class BloomIndex:
    """Third index kind — no reference analogue; enters through the same
    user-indexer seam the reference exposes (``src/idx.rs:8-21,174-184``).

    Layout: ONE constant-size bloom bitset per data file over the column's
    values (the Iceberg/Delta file-skipping pattern), instead of per-key
    posting rows. A point lookup probes every candidate file's bitset on
    the DRIVER with zero Spark jobs; "bits absent" proves the key cannot
    be in the file, "bits present" keeps it — the same superset-then-
    residual contract as every other path (``src/lib.rs:89-91``).

    100 TB trade-off vs the hash (posting) index: posting state grows with
    ndv × files and needs a Spark job (or a driver map bounded by
    POSTING_MAP_MAX) to probe; bloom state is ``m_bits/8`` bytes per file
    regardless of ndv, probes in microseconds, but prunes probabilistically
    (false-positive files survive to the scan) and serves only equality.
    Size ``m_bits`` at ~10 bits per expected distinct key per file for
    ~1% false positives (k=7 near-optimal at that ratio).
    """

    kind = BLOOM

    def __init__(self, m_bits: int = 1 << 17, k: int = 7):
        if m_bits % 8:
            raise ValueError("m_bits must be a multiple of 8")
        self.params = {"m_bits": int(m_bits), "k": int(k)}


def as_index_kind(indexer) -> str:
    """Accept ``HashIndex``/``BTreeIndex`` (class or instance), a kind
    string, or ANY object exposing ``kind`` — the analogue of
    ``Into<Index<T>>`` over user index impls (``src/idx.rs:174-184``).
    ``kind`` decides the physical posting layout; a custom object may also
    carry ``supports``/``estimate`` overrides (see ``IndexSpec.custom``)."""
    if isinstance(indexer, str):
        if indexer not in (HASH, BTREE, BLOOM, COMPOSITE, TRIGRAM):
            raise ValueError(f"unknown index kind {indexer!r}")
        return indexer
    kind = getattr(indexer, "kind", None)
    if kind in (HASH, BTREE, BLOOM, COMPOSITE, TRIGRAM):
        return kind
    raise TypeError(f"cannot interpret {indexer!r} as an index")


def custom_indexer(indexer) -> object | None:
    """The custom-behavior carrier for ``IndexSpec.custom``: a non-builtin
    *instance* with ``supports`` and/or ``estimate``. Built-in markers and
    kind strings carry no custom behavior."""
    if isinstance(indexer, (str, type)):
        return None
    if isinstance(indexer, (HashIndex, BTreeIndex, BloomIndex, CompositeIndex, TrigramIndex)):
        return None
    if hasattr(indexer, "supports") or hasattr(indexer, "estimate"):
        return indexer
    return None
