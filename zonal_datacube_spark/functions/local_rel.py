"""Driver-local rows as a Catalyst ``LocalRelation``.

``spark.createDataFrame(rows)`` over Python rows builds a ``LogicalRDD``
over ``defaultParallelism`` partitions, so every downstream
``F.broadcast`` or ``collect()`` of a control-plane table (zone fences,
polygon edges, interval dims, codebooks and centroids, collected edge
lists, eager percentile folds) runs a scan job whose tasks start a
Python worker to unpickle rows that already sit on the driver.

``local_relation`` ships the same rows to the JVM as one Arrow table
instead. Spark's ``ArrowConverters.toDataFrame`` turns an Arrow payload
below ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
default) into a ``LocalRelation``. A collect of it is a driver-side copy
with no job, and a broadcast of it runs one JVM-only task set over the
driver's rows instead of a Python-worker scan. Above the threshold it
builds a JVM-side ``LogicalRDD`` over the Arrow batches. Neither path
starts a Python worker, and neither has a per-cell bind cost, so there
is no size cap and no fallback. An empty table is a ``LocalRelation``
too.

Values are exactly ``createDataFrame``'s: each cell goes through its
field's ``DataType.toInternal``, the same conversion the row path
pickles. Timestamps become UTC epoch microseconds (a naive wall time is
read in the process time zone, a DST-gap wall time included), dates
become epoch days, decimals stay ``Decimal``, and doubles, NaN, -0.0,
binary, arrays, structs and maps are copied bit for bit. The Arrow
schema is ``to_arrow_schema(schema)``, so names, types and nullability
are ``schema``'s, and the conversion does not read
``spark.sql.execution.arrow.pyspark.enabled``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_relation(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """``rows`` (sequence of tuples/Rows) as a LocalRelation with exactly
    ``schema``'s column names and types. ``schema`` may be a StructType
    or a DDL string (the same forms ``createDataFrame`` accepts)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = [
        pa.array(
            [f.dataType.toInternal(row[j]) for row in rows],
            type=arrow_schema.field(j).type,
        )
        for j, f in enumerate(schema.fields)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
