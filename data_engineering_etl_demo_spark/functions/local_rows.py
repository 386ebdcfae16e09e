"""Driver-local rows → DataFrame via the Arrow path.

``spark.createDataFrame(list_of_tuples, schema)`` always takes the
pickled-RDD path (parallelize → applySchemaToPythonRDD): every ACTION on
the resulting plan re-pickles the rows out to Python workers and converts
them row-at-a-time — measured ~0.28 s per execution for a 500-row local
result at local[32], a fixed tax every driver-computed result (union-find
labels, BFS hops, fitted Markov constants, ADC lookup tables) pays on
every run.  Routing the same rows through a pandas DataFrame engages the
Arrow conversion (``spark.sql.execution.arrow.pyspark.enabled``), which
ships one Arrow batch to the JVM once — measured ~0.06 s for the same
result, and no Python workers on later executions (guide §4/§6: Arrow for
driver transfers).

The schema is always passed explicitly, so column order, names, types and
nullability are pinned by the caller exactly as with the list path; when
Arrow is disabled the pandas path degrades to the same row conversion the
list path uses, never to different values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """Arrow-backed ``createDataFrame`` for a driver-local row collection.

    ``rows`` is a sequence of tuples matching ``schema`` (same contract as
    ``spark.createDataFrame(rows, schema)``)."""
    import pandas as pd

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    cols = [f.name for f in schema.fields]
    pdf = pd.DataFrame.from_records(list(rows), columns=cols)
    return spark.createDataFrame(pdf, schema)


def empty_df(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """A relation with no rows and ``schema``'s columns (all nullable),
    planned in the JVM: typed nulls over ``spark.range(0)``.
    ``spark.createDataFrame([], schema)`` takes the pickled path, and every
    action on it starts a Python worker for zero rows."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
