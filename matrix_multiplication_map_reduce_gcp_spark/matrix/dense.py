"""Dense → COO converters. (COO → dense is ``CooMatrix.to_numpy``.)

The reference's wire format is a JSON list-of-lists per matrix in a
GCS blob (reference orchestrator/main.py:58-64, test/test.py:38).
Spark-first equivalent: parse the JSON into ``array<array<double>>``
and shred it with two ``posexplode`` passes — fully JVM-side: the
one-row source is a ``range``, not a Python list, so no Python worker
runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def shred_json_matrix(spark: SparkSession, json_text: str) -> DataFrame:
    """One JSON list-of-lists string → COO DataFrame (i, j, v).

    Mirrors reference orchestrator/main.py:60 (``np.array(json.loads(...))``)
    but stays distributed: the parse is a from_json of the text over a
    one-row ``range`` (``createDataFrame`` of a Python list would run it
    through Python-worker tasks); shredding is posexplode × 2. The
    parser nulls a matrix it cannot read as numbers, so callers validate
    the text first (facade.multiply_json).
    """
    schema = T.ArrayType(T.ArrayType(T.DoubleType()))
    df = spark.range(0, 1, 1, 1).select(F.from_json(F.lit(json_text), schema).alias("m"))
    return dense_rows_to_coo(
        df.select(F.posexplode("m").alias("i", "row")), idx="i", row_col="row"
    )


def dense_rows_to_coo(df: DataFrame, idx: str = "i", row_col: str = "row") -> DataFrame:
    """(row_index, array<double>) rows → COO (i, j, v), zeros dropped."""
    out = df.select(
        F.col(idx).cast("long").alias("i"), F.posexplode(row_col).alias("j", "v")
    ).select("i", F.col("j").cast("long").alias("j"), F.col("v").cast("double").alias("v"))
    return out.filter(F.col("v") != 0.0)
