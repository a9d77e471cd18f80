"""Doc_meta value semantics: one rule set for filters, sort keys and
search_after cursors.

``meta_spec`` translates a read's doc_meta restriction — the session
ACL (``SearchAuth``: admin → none, no datasets → match none, else
``auth_field IN datasets``), ``filter:``, ``exclude:`` (null-widened),
``empty:`` and ranges with ES partial-date semantics — into a
:class:`MetaSpec`. A spec is evaluated two ways:

* ``mask()`` over the Arrow doc_meta rows a scatter group reads itself;
* ``column()`` as a Spark predicate, used only by the aggregations that
  stay in Spark (histogram and non-string terms facets, significant
  terms, metrics) and by ``export``.

Both compare against the same literal values. String columns compare
uncast. Every other column's literals are cast by Spark once, in the
driver, on an Arrow-built LocalRelation (no job), and kept as the
numbers the mask compares: timestamps as epoch micros, dates as epoch
days. ``column()`` turns those numbers back into typed literals, so the
two evaluators cannot drift apart. A new filter op adds a case to both
evaluators and to the property test in ``tests/test_property.py``.

Hits order in the scatter groups and in the gather's pandas cut, as
Spark orders rows: ``sort_keys`` turns sort keys into columns pandas
sorts right (nulls last, NaN above every number), and ``keyset`` builds
a search_after cursor's :class:`Keyset` from the same comparisons and
literal casts as the filters.
"""
from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from .parser import partial_date_bounds

_RANGES = ("gte", "gt", "lte", "lt")
_DATEISH = ("date", "timestamp", "timestamp_ntz")
_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double",
            "boolean")
_EPOCH = _dt.datetime(1970, 1, 1)
_US = _dt.timedelta(microseconds=1)


def _cmp(x: np.ndarray, op: str, v, dtype: str) -> np.ndarray:
    """``x op v`` in Spark's order: for floats NaN equals NaN and sorts
    above every other value."""
    if dtype in ("float", "double"):
        xn = np.isnan(x)
        if math.isnan(v):
            lt, eq = ~xn, xn
        else:
            lt, eq = ~xn & (x < v), ~xn & (x == v)
    else:
        lt, eq = np.asarray(x < v, bool), np.asarray(x == v, bool)
    return {"lt": lt, "lte": lt | eq, "gt": ~(lt | eq), "gte": ~lt}[op]


def _hits(arr, op: str, dtype: str, vals: tuple) -> np.ndarray:
    """Where the non-null values of ``arr`` satisfy ``op`` (``in`` for
    both set ops); null rows are masked by the caller."""
    if dtype == "string":
        if op in _RANGES:
            out = getattr(pc, {"gte": "greater_equal", "gt": "greater",
                               "lte": "less_equal", "lt": "less"}[op])(
                arr, pa.scalar(vals[0], arr.type))
        else:
            out = pc.is_in(arr, value_set=pa.array(vals, arr.type))
        return out.fill_null(False).to_numpy(zero_copy_only=False)
    x = _values(arr, dtype)
    if op in _RANGES:
        return _cmp(x, op, vals[0], dtype)
    if dtype in ("float", "double"):
        return (np.isin(x, [v for v in vals if not math.isnan(v)])
                | (np.isnan(x) & any(math.isnan(v) for v in vals)))
    return np.isin(x, list(vals))


def _values(arr, dtype: str) -> np.ndarray:
    """The values of a non-string ``arr`` as the numbers the comparisons
    read (timestamps as epoch micros, dates as epoch days), null rows
    filled; callers mask them."""
    if dtype in ("timestamp", "timestamp_ntz"):
        arr = arr.cast(pa.timestamp("us", arr.type.tz), safe=False) \
            .cast(pa.int64())
    elif dtype == "date":
        arr = arr.cast(pa.int32())
    return arr.fill_null(False if dtype == "boolean" else 0).to_numpy(
        zero_copy_only=False)


def comparable(dtype: str) -> bool:
    """Whether doc_meta values of Spark type ``dtype`` are filtered and
    ordered here."""
    return (dtype == "string" or dtype in _NUMERIC + _DATEISH
            or dtype.startswith("decimal"))


def sort_keys(table: pa.Table, sort) -> dict[str, np.ndarray]:
    """Spark's order of ``table`` by ``sort``, ((column, asc, dtype), …):
    nulls last either way, NaN above every number, -0.0 equal to 0.0.
    Neither pandas (it reads an Arrow null as NaN) nor
    ``pc.sort_indices`` (NaN after the numbers when descending) orders
    so by itself, so each key becomes two plain columns that pandas
    sorts right by ``sort_by(sort)``: its rank class (ascending: value
    0, NaN 1; descending: NaN 0, value 1; null 2) and its value, NaN and
    nulls filled."""
    out = {}
    for i, (col, asc, dtype) in enumerate(sort):
        arr = table.column(col)
        x = (arr.fill_null("").to_numpy(zero_copy_only=False)
             if dtype == "string" else _values(arr, dtype))
        nan = np.zeros(len(x), bool)
        if dtype in ("float", "double"):
            nan = np.isnan(x)
            x = np.where(nan, 0.0, x) + 0.0  # -0.0 + 0.0 is 0.0
        rank = np.where(nan, int(asc), int(not asc))
        rank[~arr.is_valid().to_numpy(zero_copy_only=False)] = 2
        out[f"_k{i}"], out[f"_v{i}"] = rank, x
    return out


def sort_by(sort) -> list[tuple[str, bool]]:
    """The (column, asc) pairs that order ``sort_keys``' columns."""
    return [kv for i, (_, asc, _) in enumerate(sort)
            for kv in ((f"_k{i}", True), (f"_v{i}", asc))]


@dataclass(frozen=True)
class Keyset:
    """ES ``search_after``: the rows strictly after a cursor in the
    order of ``keys``, ((column, asc, dtype, value), …) ending with the
    doc_id tie-break, as Spark orders them: nulls last, NaN above every
    number. A ``None`` value cursors into that key's null region: no
    row is after it at that key, and the later keys break the tie."""
    keys: tuple

    def cols(self) -> list[str]:
        return [k[0] for k in self.keys]

    def mask(self, table: pa.Table) -> np.ndarray:
        after = np.zeros(table.num_rows, bool)
        tie = np.ones(table.num_rows, bool)
        for col, asc, dtype, v in self.keys:
            arr = table.column(col)
            valid = arr.is_valid().to_numpy(zero_copy_only=False)
            if v is None:
                later, same = np.zeros_like(valid), ~valid
            else:
                later = ~valid | (valid & _hits(
                    arr, "gt" if asc else "lt", dtype, (v,)))
                same = valid & _hits(arr, "in", dtype, (v,))
            after |= tie & later
            tie &= same
        return after


def keyset(spark, schema, keys: list[tuple[str, bool]],
           cursor: list) -> Keyset:
    """The :class:`Keyset` of a search_after ``cursor`` over ``keys``,
    ((column, asc), …) ending with ``("doc_id", True)``: one value per
    key, each cast in the driver as a filter literal is (``_cast``), so
    an uncastable value raises ``ValueError`` instead of paging to
    nothing."""
    if len(cursor) != len(keys):
        raise ValueError(
            f"search_after needs {len(keys)} values (one per sort "
            f"field + the doc_id tiebreak), got {len(cursor)}")
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    out = []
    for (f, asc), cv in zip(keys, cursor):
        if f not in dtypes:
            raise ValueError(
                f"search_after sort field {f!r} is not a stored doc_meta "
                "column (score cursors are not stable floats)")
        v = cv
        if cv is not None and dtypes[f] != "string":
            try:
                v = _cast(spark, dtypes[f], [cv])[cv]
            except PySparkException:  # an ANSI cast fails, not nulls
                v = None
            if v is None:
                raise ValueError(
                    f"search_after cursor value {cv!r} is not valid for "
                    f"a {dtypes[f]} sort column")
        out.append((f, asc, dtypes[f], v))
    return Keyset(tuple(out))


def _isin(c, dtype: str, vals: tuple):
    """``c IN vals`` read alike by Spark and by a pushed-down Parquet
    filter. Parquet row-group statistics order -0.0 below 0.0, while
    Spark compares them equal (and folds the two literals into one), so
    a zero literal alone lets the scan skip a row group whose zeros all
    have the other sign: a float zero is matched as [-0.0, 0.0]."""
    if dtype not in ("float", "double") or all(v != 0 for v in vals):
        return c.isin([_lit(dtype, v) for v in vals])
    return (c.isin([_lit(dtype, v) for v in vals if v != 0])
            | c.between(_lit(dtype, -0.0), _lit(dtype, 0.0)))


def _lit(dtype: str, v):
    """The Spark literal of a stored comparison value."""
    if dtype == "string":
        return F.lit(v)
    if dtype == "date":
        return F.date_from_unix_date(F.lit(v))
    if dtype == "timestamp":
        return F.timestamp_micros(F.lit(v))
    if dtype == "timestamp_ntz":
        return F.lit(str(_EPOCH + v * _US)).cast(dtype)
    return F.lit(v).cast(dtype)


@dataclass(frozen=True)
class MetaSpec:
    """A conjunction over doc_meta columns. Each conjunct is
    ``(op, column, dtype, values)``: ``in``, ``notin_or_null``
    (``NOT IN`` or null), ``isnull``, or a range op ``gte``/``gt``/
    ``lte``/``lt`` with one value. A spec with no conjuncts keeps every
    row; the scatter path then still subtracts tombstones."""
    conjuncts: tuple = ()
    match_none: bool = False

    def cols(self) -> list[str]:
        return sorted({c[1] for c in self.conjuncts})

    def mask(self, table: pa.Table) -> np.ndarray:
        m = np.full(table.num_rows, not self.match_none)
        for op, col, dtype, vals in self.conjuncts:
            arr = table.column(col)
            valid = arr.is_valid().to_numpy(zero_copy_only=False)
            if op == "isnull":
                m &= ~valid
                continue
            hit = _hits(arr, op, dtype, vals) & valid
            m &= (~hit | ~valid) if op == "notin_or_null" else hit
        return m

    def column(self):
        if self.match_none:
            return F.lit(False)
        pred = F.lit(True)
        for op, col, dtype, vals in self.conjuncts:
            c = F.col(col)
            if op == "isnull":
                p = c.isNull()
            elif op == "in":
                p = _isin(c, dtype, vals)
            elif op == "notin_or_null":
                p = ~_isin(c, dtype, vals) | c.isNull()
            else:
                v = vals[0]
                if dtype in ("float", "double") and v == 0:
                    # the inclusive bound keeps both zeros (see _isin)
                    v = {"gte": -0.0, "lte": 0.0}.get(op, v)
                lit = _lit(dtype, v)
                p = {"gte": c >= lit, "gt": c > lit,
                     "lte": c <= lit, "lt": c < lit}[op]
            pred = pred & p
        return pred


def _range_literal(op: str, v: str, dtype: str) -> tuple[str, str]:
    """ES partial-date semantics on date/timestamp columns: a truncated
    date names a whole period (mapping.py:35,47), so ``gt`` starts at
    the period's end and ``lte`` stops before it; a full date-time is an
    exact point."""
    bounds = partial_date_bounds(v) if dtype in _DATEISH else None
    if bounds is None or bounds[0] == bounds[1]:
        return op, (v if bounds is None else bounds[0])
    start, end = bounds
    return {"gte": ("gte", start), "gt": ("gte", end),
            "lte": ("lt", end), "lt": ("lt", start)}[op]


def _cast(spark, dtype: str, strs: list[str]) -> dict:
    """Spark's cast of each literal string to ``dtype``, as the value
    the mask compares. A LocalRelation evaluates in the driver."""
    c = F.col("v").cast(dtype)
    if dtype == "date":
        c = F.unix_date(c)
    elif dtype == "timestamp":
        c = F.unix_micros(c)
    rows = spark.createDataFrame(
        pa.table({"v": pa.array(strs, pa.string())})).select(
        "v", c.alias("c")).collect()
    if dtype == "timestamp_ntz":
        return {r["v"]: None if r["c"] is None else (r["c"] - _EPOCH) // _US
                for r in rows}
    return {r["v"]: r["c"] for r in rows}


def meta_spec(spark, schema, filters: dict | None = None,
              excludes: dict | None = None, empties=(),
              ranges: dict | None = None, auth=None,
              auth_field: str = "repo") -> MetaSpec:
    """Translate a doc_meta restriction over ``schema`` (doc_meta's
    StructType) into a :class:`MetaSpec`. A column the schema lacks, or
    of a type no comparison is defined for here, raises ``ValueError``."""
    dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
    raw: list[tuple] = []

    def add(op, col, vals):
        dtype = dtypes.get(col)
        if dtype is None:
            raise ValueError(f"filter on unknown doc_meta column {col!r}")
        if not comparable(dtype):
            raise ValueError(f"cannot filter doc_meta column {col!r} of "
                             f"type {dtype}")
        raw.append((op, col, dtype, [str(v) for v in vals]))

    if auth is not None and not auth.is_admin:
        if not auth.datasets:
            return MetaSpec(match_none=True)
        add("in", auth_field, sorted(auth.datasets))
    for f, vals in (filters or {}).items():
        add("in", f, vals)
    for f, vals in (excludes or {}).items():
        add("notin_or_null", f, vals)
    for f in empties:
        add("isnull", f, ())
    for f, ops in (ranges or {}).items():
        for op, v in ops.items():
            op2, lit = _range_literal(op, v, dtypes.get(f))
            add(op2, f, [lit])

    need: dict[str, set] = {}
    for _, _, dtype, strs in raw:
        if dtype != "string":
            need.setdefault(dtype, set()).update(strs)
    cast = {dtype: _cast(spark, dtype, sorted(strs))
            for dtype, strs in need.items()}
    conj = []
    for op, col, dtype, strs in raw:
        vals = [s if dtype == "string" else cast[dtype][s] for s in strs]
        # SQL null literals: a comparison or IN match with NULL is never
        # true, and NOT IN over a set holding NULL is never true either
        if op in _RANGES and vals[0] is None:
            return MetaSpec(match_none=True)
        if op == "in":
            vals = [v for v in vals if v is not None]
            if not vals:
                return MetaSpec(match_none=True)
        if op == "notin_or_null" and None in vals:
            op, vals = "isnull", []
        conj.append((op, col, dtype, tuple(vals)))
    return MetaSpec(conjuncts=tuple(conj))
