"""Driver-side rows → one Arrow-backed local relation.

The sources that parse on the driver (``rdf.py``, ``osm_xml.py``) hand
their rows to Spark through this one path.  A ``pyarrow.Table`` with the
target schema plans as ``LocalTableScan``: no Python worker starts and no
partition is shuffled.  ``createDataFrame(list, ...)`` would parallelize the
rows into a Python RDD instead (``Scan ExistingRDD``, one Python worker per
partition), and so would ``createDataFrame(pandas, ...)`` on an empty frame
or whenever the Arrow conversion fails and Spark silently falls back.  The
``pyarrow.Table`` input has neither branch.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(spark: SparkSession, rows: Sequence,
                schema: T.StructType | str) -> DataFrame:
    """``rows`` — tuples in field order or dicts keyed by field name — as a
    DataFrame with exactly ``schema`` (a StructType or a DDL string).  Goes
    through pandas so that NaN and None both land as NULL, as they do on
    Spark's own pandas path."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    pdf = pd.DataFrame(rows, columns=schema.fieldNames())
    table = pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema), preserve_index=False)
    return spark.createDataFrame(table, schema)
