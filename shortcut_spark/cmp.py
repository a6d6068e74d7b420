"""Predicate language: ``Value`` / ``Comparison`` / ``Condition``.

Mirrors the reference predicate model (reference ``src/cmp.rs``):

- ``Value`` is either a constant or a same-row column reference
  (``src/cmp.rs:8-15``).
- ``Comparison`` in the reference has exactly one variant,
  ``Equal(Value)`` (``src/cmp.rs:44-49``). We keep that, and additionally
  expose the range capability the reference's index layer implements but
  never wires into ``find`` (``RangeIndex::between``, ``src/idx.rs:83-87``)
  as a first-class ``Between`` comparison with inclusive/exclusive/unbounded
  bounds.
- ``Condition`` binds a comparison to a column (``src/cmp.rs:63-69``), and a
  query is an implicit AND-list of conditions (``src/lib.rs:17-18`` — OR is
  deliberately not part of the parity API; issue multiple queries).

Columns may be addressed positionally (``int``, like the reference's
``usize``) or by name (a strict superset — our tables have named, typed
columns).

Display parity: ``str(cond)`` renders ``"[0] = a"`` / ``"[0] = [1]"``
exactly like the reference's ``impl Display`` (``src/cmp.rs:79-100``).
"""

from __future__ import annotations

from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "Bound",
    "Value",
    "Comparison",
    "Condition",
    "conjunction",
    "eq",
    "col_eq",
    "between",
    "contains",
    "icontains",
]


class Bound:
    """Interval endpoint: mirrors ``std::ops::Bound`` (``src/idx.rs:83-87``)."""

    INCLUDED = "included"
    EXCLUDED = "excluded"
    UNBOUNDED = "unbounded"

    __slots__ = ("kind", "value")

    def __init__(self, kind: str, value: Any = None):
        if kind not in (self.INCLUDED, self.EXCLUDED, self.UNBOUNDED):
            raise ValueError(f"bad bound kind: {kind}")
        self.kind = kind
        self.value = value

    @classmethod
    def included(cls, v: Any) -> "Bound":
        return cls(cls.INCLUDED, v)

    @classmethod
    def excluded(cls, v: Any) -> "Bound":
        return cls(cls.EXCLUDED, v)

    @classmethod
    def unbounded(cls) -> "Bound":
        return cls(cls.UNBOUNDED)

    def __repr__(self) -> str:
        if self.kind == self.UNBOUNDED:
            return "Unbounded"
        return f"{self.kind.capitalize()}({self.value!r})"


@dataclass(frozen=True)
class Value:
    """A constant or a same-row column reference (``src/cmp.rs:8-15``).

    The reference's ``Cow`` owned/borrowed split (``src/cmp.rs:29-41``) is a
    Rust memory-management detail with no Python analogue; ``new`` and
    ``using`` both produce a plain constant here.
    """

    is_column: bool
    payload: Any

    @classmethod
    def new(cls, v: Any) -> "Value":
        return cls(False, v)

    # parity alias for the reference's borrowed constructor (src/cmp.rs:34-37)
    using = new

    @classmethod
    def column(cls, c: int | str) -> "Value":
        return cls(True, c)

    def __str__(self) -> str:  # Display parity (src/cmp.rs:79-86)
        if self.is_column:
            return f"[{self.payload}]"
        return str(self.payload)


@dataclass(frozen=True)
class Comparison:
    """``Equal(Value)`` (``src/cmp.rs:44-49``) plus our ``Between`` extension."""

    op: str  # "eq" | "between"
    value: Value | None = None
    lower: Bound | None = None
    upper: Bound | None = None

    @classmethod
    def equal(cls, v: Value) -> "Comparison":
        return cls("eq", v)

    @classmethod
    def between(cls, lower: Bound, upper: Bound) -> "Comparison":
        return cls("between", None, lower, upper)

    @classmethod
    def contains(cls, v: Value) -> "Comparison":
        """Substring containment — our third comparison, not in the
        reference (its one variant is ``Equal``, ``src/cmp.rs:44-49``).
        Servable by a TRIGRAM index (``idx.TrigramIndex``): a file can
        hold a match only if it holds EVERY trigram of the needle."""
        return cls("contains", v)

    @classmethod
    def icontains(cls, v: Value) -> "Comparison":
        """Case-INSENSITIVE substring containment (the ILIKE '%…%'
        analogue). Servable only by a case-insensitive trigram index
        (``TrigramIndex(case_insensitive=True)`` — its postings are
        lowered grams); a case-sensitive index would wrongly prune."""
        return cls("icontains", v)

    @property
    def is_const_eq(self) -> bool:
        """True iff this is ``Equal(Const)`` — the only comparison an index
        may serve in the reference (``src/lib.rs:106-112``)."""
        return self.op == "eq" and self.value is not None and not self.value.is_column

    def __str__(self) -> str:  # Display parity (src/cmp.rs:88-93)
        if self.op == "eq":
            return f"= {self.value}"
        if self.op == "contains":
            return f"contains {self.value}"
        if self.op == "icontains":
            return f"icontains {self.value}"
        parts = []
        lo, hi = self.lower, self.upper
        if lo and lo.kind != Bound.UNBOUNDED:
            parts.append((">=" if lo.kind == Bound.INCLUDED else ">") + f" {lo.value}")
        if hi and hi.kind != Bound.UNBOUNDED:
            parts.append(("<=" if hi.kind == Bound.INCLUDED else "<") + f" {hi.value}")
        return " ".join(parts) if parts else "unbounded"


@dataclass(frozen=True)
class Condition:
    """Binds a ``Comparison`` to a column (``src/cmp.rs:63-69``)."""

    column: int | str
    cmp: Comparison

    def resolve(self, colnames: Sequence[str]) -> str:
        """Positional (reference-style ``usize``) or named column → name.

        An out-of-range index raises like the reference's slice panic; an
        unknown NAME raises ValueError up front (the Store.index
        convention) instead of a lazy Spark AnalysisException at action
        time — conditions are built far from where they execute, so the
        error should name the bad column at build/compile, not mid-job.

        Name matching is EXACT (case-sensitive) by the Store convention —
        every schema surface (``Store.index``, ``stats_agg``, constraint
        columns) resolves names verbatim, even though a lazily-compiled
        Spark plan would have accepted a case-insensitive name under the
        default ``spark.sql.caseSensitive=false``. Build conditions with
        the exact column spelling from ``Store.colnames``.
        """
        if isinstance(self.column, int):
            return colnames[self.column]
        if self.column not in colnames:
            raise ValueError(f"no such column {self.column!r}")
        return self.column

    def _operand(self, colnames: Sequence[str]) -> Column:
        v = self.cmp.value
        assert v is not None
        if v.is_column:
            # named operands were validated by to_column (sole caller)
            # before any Column was built; positional ones index-slice here
            other = colnames[v.payload] if isinstance(v.payload, int) else v.payload
            return F.col(other)
        return F.lit(v.payload)

    def to_column(self, schema: T.StructType | Sequence[str]) -> Column:
        """Compile to a Spark boolean ``Column``.

        Row-at-a-time ``Condition::matches`` (``src/cmp.rs:74-77``) becomes a
        vectorized, codegen'd expression — the residual re-check in ``find``
        (``src/lib.rs:133``) is this column applied to the pruned scan.

        ``schema`` is the table's ``StructType`` or just its column names.
        Given the types, a zero of any numeric type on a float or double
        column compiles like a float zero (see :func:`_zero_bound`): Spark
        casts an int ``0`` to ``0.0`` before it pushes the filter down.
        """
        if isinstance(schema, T.StructType):
            colnames = schema.fieldNames()
            floating = isinstance(
                schema[self.resolve(colnames)].dataType, (T.FloatType, T.DoubleType)
            )
        else:
            colnames, floating = schema, False
        name = self.resolve(colnames)
        v = self.cmp.value
        if (
            v is not None
            and v.is_column
            and not isinstance(v.payload, int)
            and v.payload not in colnames
        ):
            # validate the operand BEFORE building any Column: F.col needs
            # an active SparkContext, and this error must not — conditions
            # compile (and fail) far from where they execute. The single
            # copy of this check lives here; _operand (only reachable
            # through this method) assumes it already ran.
            raise ValueError(f"no such column {v.payload!r}")
        c = F.col(name)
        if self.cmp.op == "eq":
            if not v.is_column and isinstance(v.payload, float) and v.payload != v.payload:
                # Spark's `c = NaN` holds for NaN rows, but pushed down it
                # meets footer stats that leave NaN out of min/max (pyarrow
                # writes them so) and skips the group
                return F.isnan(c)
            if not v.is_column and _float_zero(v.payload, floating):
                # [-0.0, 0.0] holds exactly the rows `c = 0.0` holds, and
                # its pushed-down form keeps every row group with a zero
                return (c >= F.lit(-0.0)) & (c <= F.lit(0.0))
            return c == self._operand(colnames)
        if self.cmp.op == "contains":
            return c.contains(self._operand(colnames))
        if self.cmp.op == "icontains":
            return F.lower(c).contains(F.lower(self._operand(colnames)))
        expr = F.lit(True)
        lo, hi = self.cmp.lower, self.cmp.upper
        if lo and lo.kind == Bound.INCLUDED:
            expr = expr & (c >= F.lit(_zero_bound(lo.value, True, floating)))
        elif lo and lo.kind == Bound.EXCLUDED:
            expr = expr & (c > F.lit(lo.value))
        if hi and hi.kind == Bound.INCLUDED:
            expr = expr & (c <= F.lit(_zero_bound(hi.value, False, floating)))
        elif hi and hi.kind == Bound.EXCLUDED:
            expr = expr & (c < F.lit(hi.value))
        return expr

    def matches(self, row: Sequence[Any], colnames: Sequence[str] | None = None) -> bool:
        """Local (driver-side) evaluation, used by tests for parity with the
        reference's row-at-a-time ``matches`` (``src/cmp.rs:54-58``).

        Null semantics mirror the compiled SQL path (``to_column``): any
        comparison involving a null operand is NOT a match — ``None == None``
        is False here, exactly as ``col = NULL`` never matches in Spark.
        The two evaluation paths therefore agree on every row."""
        if isinstance(self.column, int):
            cell = row[self.column]
        else:
            assert colnames is not None
            cell = row[list(colnames).index(self.column)]
        if cell is None:
            return False
        if self.cmp.op in ("contains", "icontains"):
            v = self.cmp.value
            assert v is not None and not v.is_column
            other = v.payload
            if other is None or not isinstance(cell, str):
                return False
            if self.cmp.op == "icontains":
                return str(other).lower() in cell.lower()
            return str(other) in cell
        if self.cmp.op == "eq":
            v = self.cmp.value
            assert v is not None
            if v.is_column:
                if isinstance(v.payload, int):
                    other = row[v.payload]
                else:
                    assert colnames is not None
                    other = row[list(colnames).index(v.payload)]
            else:
                other = v.payload
            if other is None:
                return False
            return cell == other
        lo, hi = self.cmp.lower, self.cmp.upper
        ok = True
        if lo and lo.kind == Bound.INCLUDED:
            ok = ok and cell >= lo.value
        elif lo and lo.kind == Bound.EXCLUDED:
            ok = ok and cell > lo.value
        if hi and hi.kind == Bound.INCLUDED:
            ok = ok and cell <= hi.value
        elif hi and hi.kind == Bound.EXCLUDED:
            ok = ok and cell < hi.value
        return ok

    def __str__(self) -> str:  # Display parity "[0] = a" (src/cmp.rs:95-100)
        return f"[{self.column}] {self.cmp}"


def _float_zero(v: Any, floating: bool) -> bool:
    """``v`` is a zero that Spark compares as ``0.0``: a float zero, or on
    a ``floating`` column a zero of any numeric type (``0``,
    ``Decimal(0)``), which Spark casts to ``0.0``."""
    numeric = isinstance(v, (int, float, Decimal)) and not isinstance(v, bool)
    return numeric and v == 0 and (floating or isinstance(v, float))


def _zero_bound(v: Any, lower: bool, floating: bool) -> Any:
    """An inclusive bound ``v``, with a float zero replaced by the zero
    that keeps Spark's parquet pushdown exact. Spark SQL compares
    ``-0.0 = 0.0`` as true, but parquet's dictionary filter orders a row
    group's values with ``Double.compare``, where ``-0.0 < 0.0``: pushed
    down, ``c >= 0.0`` and ``c = 0.0`` skip a row group whose only zero
    is ``-0.0`` (and ``c <= -0.0``, ``c = -0.0`` the reverse). A lower
    bound of ``-0.0`` and an upper bound of ``0.0`` keep both zeros, and
    so they replace every zero :func:`_float_zero` names."""
    if _float_zero(v, floating):
        return -0.0 if lower else 0.0
    return v


def conjunction(conds: Sequence[Condition], schema: T.StructType) -> Column:
    """AND-list semantics of ``find``/``delete`` (``src/lib.rs:133``) over
    a table of ``schema`` (see :meth:`Condition.to_column`).

    Empty list → full scan (``src/lib.rs:255``)."""
    expr = F.lit(True)
    for c in conds:
        expr = expr & c.to_column(schema)
    return expr


# -- ergonomic constructors ---------------------------------------------------

def eq(column: int | str, value: Any) -> Condition:
    """``row[column] == value`` (``Comparison::Equal(Value::Const)``)."""
    return Condition(column, Comparison.equal(Value.new(value)))


def col_eq(column: int | str, other: int | str) -> Condition:
    """``row[column] == row[other]`` — may never use an index
    (``src/cmp.rs:12-14``)."""
    return Condition(column, Comparison.equal(Value.column(other)))


def contains(column: int | str, needle: str) -> Condition:
    """``needle in row[column]`` (substring, case-sensitive) — servable by
    a TRIGRAM index when ``len(needle) >= 3``; always exact via the
    residual re-check (``src/lib.rs:89-91`` contract)."""
    return Condition(column, Comparison.contains(Value.new(needle)))


def icontains(column: int | str, needle: str) -> Condition:
    """``needle.lower() in row[column].lower()`` — the ILIKE analogue;
    servable by a case-insensitive trigram index."""
    return Condition(column, Comparison.icontains(Value.new(needle)))


def between(
    column: int | str,
    lower: Bound | Any = None,
    upper: Bound | Any = None,
) -> Condition:
    """Range condition (our first-class exposure of ``RangeIndex::between``,
    ``src/idx.rs:83-87``). Non-``Bound`` arguments mean inclusive; ``None``
    means unbounded."""
    if lower is None:
        lower = Bound.unbounded()
    elif not isinstance(lower, Bound):
        lower = Bound.included(lower)
    if upper is None:
        upper = Bound.unbounded()
    elif not isinstance(upper, Bound):
        upper = Bound.included(upper)
    return Condition(column, Comparison.between(lower, upper))
