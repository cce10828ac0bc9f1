"""Random-projection dimensionality reduction for embedding columns.

Johnson-Lindenstrauss-style projection: out_j = Σ_i v_i · P_{j,i} / √k —
a k×d matrix of zero-mean entries approximately preserves pairwise
distances/angles while cutting vector width (the cheap precursor to the
ANN paths in similarity/ann.py: project once at rest, search in k dims,
re-rank survivors at full width).

The matrix reuses the md5 plane family of ann.sign_planes: entry (j, i)
is a pure function of md5("0:j:i"), so the projection is deterministic
across engines — the DuckDB oracle derives the identical doubles from the same
formula, like the LSH oracle does. The projection itself is a pure column
expression (one dot product per output dim, JVM-side) — no shuffle, no
Python; at 100 TB this is a map-only rewrite of the embedding table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from backend_big_data_spark.similarity.ann import sign_planes


def project_embeddings(
    df: DataFrame,
    out_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Project ``vec_col`` (width ``dim``) down to ``out_dims`` via the
    md5-derived matrix, scaled by 1/√out_dims. Output is EXPLODED
    (id, dim_idx, value) rows with half-up 6dp rounding — the layout and
    rounding that hash-compare exactly across engines."""
    from backend_big_data_spark.functions.scalars import round_half_up

    import math

    planes = sign_planes("md5", dim, out_dims, 1)[0]  # (out_dims, dim)
    v = F.col(vec_col).cast("array<double>")

    def dot_row(j: int) -> Column:
        row = F.array(*[F.lit(float(x)) for x in planes[j]])
        return F.aggregate(
            F.zip_with(v, row, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    # divide (not multiply by a precomputed reciprocal): x / sqrt(k) is the
    # exact expression the SQL oracle writes, so IEEE results agree bitwise
    proj = F.array(
        *[dot_row(j) / F.lit(math.sqrt(out_dims)) for j in range(out_dims)]
    )
    return (
        df.select(F.col(id_col), F.posexplode(proj).alias("dim_idx", "__x"))
        .select(
            id_col,
            F.col("dim_idx").cast("int").alias("dim_idx"),
            round_half_up(F.col("__x"), 6).alias("value"),
        )
    )
