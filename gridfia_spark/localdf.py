"""Small local DataFrames without Python-RDD scans.

``spark.createDataFrame(list_of_rows, schema)`` parallelizes the rows into
``defaultParallelism`` Python-RDD partitions; the resulting ``Scan
ExistingRDD`` node is re-evaluated as a full Python task wave every time the
plan needs it — once per broadcast build, once per union branch. For a 6-row
dimension table on local[32] that is 32 Python tasks per evaluation, ~0.5 s
of pure overhead added to every query that touches the dimension.

Routing the same rows through a pandas DataFrame + Arrow instead yields a
``LocalTableScan``: materialized once on the driver, zero tasks, and a
broadcast build that costs microseconds. Values are carried in object-dtype
Series so Arrow casts each column straight to the declared Spark type with
no pandas dtype inference in between (ints stay exact, None stays null).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

# the driver holds every row twice (Python tuples + the pandas/Arrow copy)
# and ships them inside the plan; past this a LocalTableScan is the wrong
# tool. Callers pass dimension tables, strip work lists and small result
# rows; grid-sized tables (the tile manifest) use spark.range.
MAX_ROWS = 250_000


def local_df(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """LocalTableScan-backed DataFrame from a small list of row tuples.

    Values are taken by position, so every row must be a plain tuple or list
    with exactly one value per schema field. ``Row`` and dict rows are
    rejected: their field order cannot be checked against the schema.
    More than ``MAX_ROWS`` rows raise before any pandas or Arrow work."""
    if not isinstance(rows, (list, tuple)):
        rows = list(rows)
    if len(rows) > MAX_ROWS:
        raise ValueError(
            f"local_df takes at most {MAX_ROWS} rows, got {len(rows)}: build "
            "large tables with spark.createDataFrame or read them from Parquet"
        )
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    n = len(schema.fields)
    for r in rows:
        if isinstance(r, Row) or not isinstance(r, (tuple, list)):
            raise ValueError(
                f"local_df takes positional tuple/list rows, got {type(r).__name__}"
            )
        if len(r) != n:
            raise ValueError(
                f"local_df row has {len(r)} values, schema has {n} fields: {r!r:.200}"
            )
    if not rows:
        # empty relations take the classic path (no pandas block to build)
        return spark.createDataFrame([], schema)
    cols = {
        f.name: pd.Series([r[i] for r in rows], dtype=object)
        for i, f in enumerate(schema.fields)
    }
    return spark.createDataFrame(pd.DataFrame(cols), schema=schema)
