"""Sparse vector algebra on ``map<int,double>`` columns (M6, sparse half).

Reference semantics: commons/math/SparseDoubleVector.java (get :62 returns
the default for missing keys; applyToElements :107-123 operates on the
union of stored entries; dotUnsafe :527 is multiply-then-sum; max/min
:603-626 fold the default value in when the vector has unstored slots).
The default value here is fixed at 0.0 — the only default the reference's
own examples and SpMV path ever use — so a vector is just its non-zero
entries.

Representation: ``map<int,double>``. Everything is a pure Column
expression over Spark's map higher-order functions (``map_zip_with``,
``transform_values``, ``map_filter``) — JVM-side, no Python in the hot
path, and mergeable under groupBy for distributed accumulation.

Results stay canonically sparse: binary ops drop entries that land
exactly on 0.0, so equal vectors always have equal maps (important for
hash comparisons and exact dedup on vector columns).

Reductions sort entries by key before folding so double-precision sums
are deterministic and reproducible against a SQL oracle regardless of
map-internal ordering.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def _drop_zeros(m: Column) -> Column:
    return F.map_filter(m, lambda k, v: v != 0.0)


# --- construction / conversion ------------------------------------------
def svec_from_arrays(indices, values) -> Column:
    """(array<int>, array<double>) -> map<int,double>, zeros dropped
    (SparseVectorWritable's (indices, values) wire form)."""
    return _drop_zeros(
        F.map_from_arrays(_c(indices).cast("array<int>"), _c(values).cast("array<double>"))
    )


def svec_from_dense(arr) -> Column:
    """array<double> -> map<int,double> of the non-zero cells (0-based)."""
    entries = F.filter(
        F.transform(
            _c(arr),
            lambda x, i: F.struct(i.cast("int").alias("key"), x.cast("double").alias("value")),
        ),
        lambda s: s["value"] != 0.0,
    )
    return F.map_from_entries(entries)


def svec_to_dense(m, dimension: int) -> Column:
    """map<int,double> -> array<double> of ``dimension`` (get() default 0)."""
    mm = _c(m)
    return F.transform(
        F.sequence(F.lit(0), F.lit(int(dimension) - 1)),
        lambda i: F.coalesce(F.element_at(mm, i.cast("int")), F.lit(0.0)),
    )


def svec_get(m, i) -> Column:
    """SparseDoubleVector.get:62 — stored value or the 0.0 default."""
    i = F.lit(i) if not isinstance(i, Column) else i
    return F.coalesce(F.element_at(_c(m), i.cast("int")), F.lit(0.0))


def svec_nnz(m) -> Column:
    """Number of stored (non-zero) entries (getLength:76)."""
    return F.size(_c(m))


# --- elementwise binary (add/subtract/multiply on the key union) --------
def svec_add(a, b) -> Column:
    return _drop_zeros(
        F.map_zip_with(
            _c(a), _c(b), lambda k, x, y: F.coalesce(x, F.lit(0.0)) + F.coalesce(y, F.lit(0.0))
        )
    )


def svec_subtract(a, b) -> Column:
    return _drop_zeros(
        F.map_zip_with(
            _c(a), _c(b), lambda k, x, y: F.coalesce(x, F.lit(0.0)) - F.coalesce(y, F.lit(0.0))
        )
    )


def svec_multiply(a, b) -> Column:
    """Elementwise product — non-intersecting keys vanish (0 * x)."""
    return _drop_zeros(
        F.map_zip_with(
            _c(a), _c(b), lambda k, x, y: F.coalesce(x, F.lit(0.0)) * F.coalesce(y, F.lit(0.0))
        )
    )


# --- scalar / unary ------------------------------------------------------
def svec_scale(m, s) -> Column:
    """multiply(double):339 over stored entries (0 * s stays 0)."""
    s = F.lit(s) if not isinstance(s, Column) else s
    return _drop_zeros(F.transform_values(_c(m), lambda k, v: v * s))


def svec_pow(m, p: int) -> Column:
    if p == 2:
        return F.transform_values(_c(m), lambda k, v: v * v)
    return F.transform_values(_c(m), lambda k, v: F.pow(v, F.lit(p)))


# --- reductions (key-ordered folds: deterministic double sums) ----------
def _sorted_values(m: Column) -> Column:
    return F.transform(F.array_sort(F.map_entries(m)), lambda e: e["value"])


def svec_sum(m) -> Column:
    """sum():511 — unstored slots contribute 0. Key-ascending fold."""
    return F.aggregate(_sorted_values(_c(m)), F.lit(0.0), lambda acc, x: acc + x)


def svec_dot(a, b) -> Column:
    """dotUnsafe:527 = multiply-then-sum; only intersecting keys count."""
    return svec_sum(svec_multiply(a, b))


def svec_norm2(m) -> Column:
    """L2 norm over stored entries."""
    return F.sqrt(svec_sum(svec_pow(m, 2)))


def svec_max(m) -> Column:
    """max():603 folds the 0.0 default in — an all-negative sparse vector
    maxes at 0 (assumes dimension > nnz, the sparse regime)."""
    return F.greatest(F.coalesce(F.array_max(F.map_values(_c(m))), F.lit(0.0)), F.lit(0.0))


def svec_min(m) -> Column:
    return F.least(F.coalesce(F.array_min(F.map_values(_c(m))), F.lit(0.0)), F.lit(0.0))


def svec_slice(m, start: int, end: int) -> Column:
    """slice(start, end):573 — keep keys in [start, end), reindexed to
    0-based like the reference's copied sub-vector."""
    return F.map_from_entries(
        F.transform(
            F.filter(
                F.array_sort(F.map_entries(_c(m))),
                lambda e: (e["key"] >= F.lit(start)) & (e["key"] < F.lit(end)),
            ),
            lambda e: F.struct(
                (e["key"] - F.lit(start)).cast("int").alias("key"), e["value"].alias("value")
            ),
        )
    )
