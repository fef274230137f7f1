"""Driver-held rows as a DataFrame whose rows live in the plan.

``spark.createDataFrame(list, schema)`` parallelizes the rows into an
RDD, so the plan is a ``LogicalRDD`` and collecting or broadcasting it
runs a Spark job (four tasks on ``local[4]``), however few the rows.
Handed a ``pyarrow.Table`` instead, ``createDataFrame`` builds a
``LocalRelation``: collecting it reads the rows straight off the plan,
broadcasting it starts no job, and Catalyst can fold projections and
filters over it at planning time. A small dimension rebuilt per
micro-batch pays the difference on every batch.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a DataFrame planned
    as a ``LocalRelation``. ``schema`` is a StructType or a DDL string
    such as ``"query_id long, term string"``."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
