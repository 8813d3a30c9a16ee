"""Driver-local rows as a DataFrame, through Arrow.

``spark.createDataFrame(rows, schema)`` on a Python list plans a
``Scan ExistingRDD``: a pickled-RDD job whose tasks run in a Python
worker pool of their own, each paying a worker task's fixed start cost,
in workers that never import this package. A ``pyarrow.Table`` crosses
to the JVM once, from the driver, and plans a ``LocalTableScan``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as ST
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows, schema: ST.StructType | str
                ) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order; a DDL string works
    as for ``createDataFrame``) -> a DataFrame with exactly ``schema``,
    nullability included, planned as a ``LocalTableScan``."""
    if isinstance(schema, str):
        schema = ST.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, schema)
