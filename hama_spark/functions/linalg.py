"""Vector/matrix algebra on ``array<double>`` columns (M6).

Reference: commons/math/DoubleVector.java:69-310,
commons/math/DoubleMatrix.java:79-270 (DenseDoubleVector.java,
DenseDoubleMatrix.java, SparseDoubleVector.java).

Everything here is a pure Column expression (``F.zip_with`` /
``F.transform`` / ``F.aggregate``) — JVM-side, whole-stage-codegen
friendly, no Python in the hot path. A matrix is a DataFrame of row
vectors ``(row:int, vec:array<double>)``; mat-mat multiply is
join+groupBy (see ``mat_mul``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


# --- elementwise binary (DoubleVector.addUnsafe/subtractUnsafe/multiply)
def vec_add(a, b) -> Column:
    return F.zip_with(_c(a), _c(b), lambda x, y: x + y)


def vec_subtract(a, b) -> Column:
    return F.zip_with(_c(a), _c(b), lambda x, y: x - y)


def vec_multiply(a, b) -> Column:
    return F.zip_with(_c(a), _c(b), lambda x, y: x * y)


# --- scalar ops (DoubleVector.multiply(double)/pow/abs)
def vec_scale(a, s) -> Column:
    s = F.lit(s) if not isinstance(s, Column) else s
    return F.transform(_c(a), lambda x: x * s)


def vec_pow(a, p: int) -> Column:
    if p == 2:  # DenseDoubleVector special-cases ^2 as x*x
        return F.transform(_c(a), lambda x: x * x)
    return F.transform(_c(a), lambda x: F.pow(x, F.lit(p)))


def vec_abs(a) -> Column:
    return F.transform(_c(a), F.abs)


# --- reductions (DoubleVector.sum/dot)
def vec_sum(a) -> Column:
    return F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x)


def vec_dot(a, b) -> Column:
    return F.aggregate(vec_multiply(a, b), F.lit(0.0), lambda acc, x: acc + x)


# --- matrix ops: DF of (row int, vec array<double>) ---------------------
def mat_vec_mul(matrix: DataFrame, vector: list[float], row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """Dense matrix × broadcast dense vector -> (row, value).
    (DoubleMatrix.multiplyVectorUnsafe)"""
    v = F.array(*[F.lit(float(x)) for x in vector])
    return matrix.select(row_col, vec_dot(F.col(vec_col), v).alias("value"))


def mat_transpose(matrix: DataFrame, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """(row, vec) -> transposed (row, vec). Explode to cells, regroup by
    column index — one shuffle, scales with nnz not n². Output vectors
    ordered by original row index."""
    cells = matrix.select(
        F.col(row_col).alias("_r"), F.posexplode(vec_col).alias("_c", "_v")
    )
    return (
        cells.groupBy(F.col("_c").alias(row_col))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_r"), F.col("_v")))
                ),
                lambda s: s["_v"],
            ).alias(vec_col)
        )
    )


# --- elementwise matrix-matrix ops (DoubleMatrix.add/subtract/
#     multiplyElementWise/divide/applyToElements(other, fn) —
#     DenseDoubleMatrix.java:79-270). One co-partitioned join on the row
#     key, then a single zip_with per row vector: shuffle O(rows), cell
#     math entirely JVM-side. Inner join == the reference's Unsafe
#     variants' precondition that shapes match (a missing row on either
#     side simply produces no output row; validate shapes upstream when
#     the inputs are untrusted).
def _mat_zip(a: DataFrame, b: DataFrame, fn, row_col: str, vec_col: str) -> DataFrame:
    other = b.select(F.col(row_col), F.col(vec_col).alias("_other"))
    return a.join(other, row_col).select(
        row_col, F.zip_with(F.col(vec_col), F.col("_other"), fn).alias(vec_col)
    )


def mat_add(a: DataFrame, b: DataFrame, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """A + B elementwise (DoubleMatrix.add, DenseDoubleMatrix.java:208)."""
    return _mat_zip(a, b, lambda x, y: x + y, row_col, vec_col)


def mat_subtract(a: DataFrame, b: DataFrame, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """A - B elementwise (DoubleMatrix.subtract(DoubleMatrix))."""
    return _mat_zip(a, b, lambda x, y: x - y, row_col, vec_col)


def mat_multiply_elementwise(
    a: DataFrame, b: DataFrame, row_col: str = "row", vec_col: str = "vec"
) -> DataFrame:
    """Hadamard product (DoubleMatrix.multiplyElementWise)."""
    return _mat_zip(a, b, lambda x, y: x * y, row_col, vec_col)


def mat_divide(a: DataFrame, b: DataFrame, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """A / B elementwise (DoubleMatrix.divide(DoubleMatrix))."""
    return _mat_zip(a, b, lambda x, y: x / y, row_col, vec_col)


def mat_apply2(
    a: DataFrame, b: DataFrame, fn, row_col: str = "row", vec_col: str = "vec"
) -> DataFrame:
    """Binary elementwise apply (DoubleMatrix.applyToElements(other,
    DoubleDoubleFunction), DenseDoubleMatrix.java:819-831). ``fn`` is a
    (Column, Column) -> Column expression builder — stays JVM-side."""
    return _mat_zip(a, b, fn, row_col, vec_col)


# --- scalar / per-row-vector matrix ops: pure map-side transforms ------
def mat_scale(m: DataFrame, s, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """s * A (DoubleMatrix.multiply(double))."""
    return m.select(row_col, vec_scale(F.col(vec_col), s).alias(vec_col))


def mat_add_scalar(m: DataFrame, s, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """A + s elementwise."""
    sc = s if isinstance(s, Column) else F.lit(float(s))
    return m.select(
        row_col, F.transform(F.col(vec_col), lambda x: x + sc).alias(vec_col)
    )


def mat_subtract_scalar(
    m: DataFrame, s, row_col: str = "row", vec_col: str = "vec"
) -> DataFrame:
    """A - s elementwise (DoubleMatrix.subtract(double),
    DenseDoubleMatrix.java:486-494)."""
    sc = s if isinstance(s, Column) else F.lit(float(s))
    return m.select(
        row_col, F.transform(F.col(vec_col), lambda x: x - sc).alias(vec_col)
    )


def mat_subtract_by(m: DataFrame, s, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """s - A elementwise (DoubleMatrix.subtractBy(double),
    DenseDoubleMatrix.java:471-479 — note the flipped operands)."""
    sc = s if isinstance(s, Column) else F.lit(float(s))
    return m.select(
        row_col, F.transform(F.col(vec_col), lambda x: sc - x).alias(vec_col)
    )


def mat_divide_scalar(m: DataFrame, s, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """A / s elementwise (DoubleMatrix.divide(double))."""
    sc = s if isinstance(s, Column) else F.lit(float(s))
    return m.select(
        row_col, F.transform(F.col(vec_col), lambda x: x / sc).alias(vec_col)
    )


def mat_subtract_vec(
    m: DataFrame, vector: list[float], row_col: str = "row", vec_col: str = "vec"
) -> DataFrame:
    """Subtract ``vector`` from EVERY row (DoubleMatrix.subtract(
    DoubleVector) — column j minus vec[j], DenseDoubleMatrix.java:516-523).
    The vector is a plan literal: map-side, no join."""
    v = F.array(*[F.lit(float(x)) for x in vector])
    return m.select(
        row_col, F.zip_with(F.col(vec_col), v, lambda x, y: x - y).alias(vec_col)
    )


def mat_divide_vec(
    m: DataFrame, vector: list[float], row_col: str = "row", vec_col: str = "vec"
) -> DataFrame:
    """Divide every row elementwise by ``vector`` (DoubleMatrix.divide(
    DoubleVector), DenseDoubleMatrix.java:530-537)."""
    v = F.array(*[F.lit(float(x)) for x in vector])
    return m.select(
        row_col, F.zip_with(F.col(vec_col), v, lambda x, y: x / y).alias(vec_col)
    )


def mat_pow(m: DataFrame, p: int, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """A^p elementwise (DoubleMatrix.pow(int), DenseDoubleMatrix.java:606-614)."""
    return m.select(row_col, vec_pow(F.col(vec_col), p).alias(vec_col))


def mat_apply(m: DataFrame, fn, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """Unary elementwise apply (DoubleMatrix.applyToElements(
    DoubleFunction), DenseDoubleMatrix.java:806-813). ``fn`` is a
    Column -> Column expression builder, e.g. ``F.abs`` or
    ``lambda x: F.when(x < 0, 0.0).otherwise(x)`` — JVM expressions,
    never a Python UDF."""
    return m.select(row_col, F.transform(F.col(vec_col), fn).alias(vec_col))


def mat_slice(
    m: DataFrame,
    row_offset: int,
    row_max: int,
    col_offset: int,
    col_max: int,
    row_col: str = "row",
    vec_col: str = "vec",
) -> DataFrame:
    """Half-open submatrix [row_offset, row_max) × [col_offset, col_max),
    re-indexed to start at 0 (DoubleMatrix.slice(int,int,int,int),
    DenseDoubleMatrix.java:662-671). Row filter + array slice: the row
    predicate pushes down to the scan; no shuffle."""
    return m.filter(
        (F.col(row_col) >= row_offset) & (F.col(row_col) < row_max)
    ).select(
        (F.col(row_col) - F.lit(row_offset)).alias(row_col),
        F.slice(F.col(vec_col), col_offset + 1, col_max - col_offset).alias(vec_col),
    )


def mat_sum(m: DataFrame, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """One-row DataFrame ``(value double)`` = Σ|m[i][j]| — the reference
    sums ABSOLUTE values (DenseDoubleMatrix.java:687-695)."""
    return m.select(vec_sum(vec_abs(F.col(vec_col))).alias("_rowsum")).agg(
        F.sum("_rowsum").alias("value")
    )


def mat_column(m: DataFrame, col_index: int, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """(row, value) view of column j (DoubleMatrix.getColumnVector)."""
    return m.select(
        row_col, F.element_at(F.col(vec_col), col_index + 1).alias("value")
    )


def mat_column_minmax(
    m: DataFrame, col_index: int, row_col: str = "row", vec_col: str = "vec"
) -> DataFrame:
    """One-row (min double, max double) of column j (DoubleMatrix.min/
    max(int) — DenseDoubleMatrix.java:616-660)."""
    c = F.element_at(F.col(vec_col), col_index + 1)
    return m.agg(F.min(c).alias("min"), F.max(c).alias("max"))


def mat_mul(a: DataFrame, b: DataFrame, row_col: str = "row", vec_col: str = "vec") -> DataFrame:
    """Dense mat-mat multiply: A(n×m) · B(m×p) -> (n×p).

    Join A's cells (r, k, v) with B's rows on k, scale B's row vector by
    v, then elementwise-sum per output row — shuffle volume O(n·m) cell
    rows instead of an n×p×m explosion.
    """
    a_cells = a.select(F.col(row_col).alias("_r"), F.posexplode(vec_col).alias("_k", "_av"))
    b_rows = b.select(F.col(row_col).alias("_k"), F.col(vec_col).alias("_bvec"))
    partial = a_cells.join(b_rows, "_k").select(
        "_r", vec_scale(F.col("_bvec"), F.col("_av")).alias("_scaled")
    )
    return partial.groupBy(F.col("_r").alias(row_col)).agg(
        F.reduce(
            F.collect_list("_scaled"),
            F.lit(None).cast("array<double>"),
            lambda acc, x: F.when(acc.isNull(), x).otherwise(
                F.zip_with(acc, x, lambda p, q: p + q)
            ),
        ).alias(vec_col)
    )
