"""The size gate for finishing a small relation on the driver.

Spark builds the relation; if it is small, one Arrow collect brings it to
the driver and NumPy finishes the work there, with no further Spark job.
That pays wherever the rest of the work is a chain of small driver round
trips: the exact candidate stage of a search (api._LevelMatrix) and the
iterative graph fixpoints (operators/components.connected_components,
plans/graph.label_propagation). Above the gate the relation never leaves
the cluster and the caller runs its Spark plan.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import IntegralType, StructType

#: the most the driver holds of one pulled relation, counted at the
#: caller's bytes per row (the IVF seed broadcast's default bound); a
#: gate of 0 keeps every caller on its Spark plan
DRIVER_PULL_MAX_BYTES = 128 * 1024 * 1024


def pull(df: DataFrame, row_bytes: int) -> pa.Table | None:
    """`df` over Arrow if it has at most DRIVER_PULL_MAX_BYTES // row_bytes
    rows, else None. The check rides the collect itself (at most one row
    over the gate is pulled), so it costs no extra job; a gate that admits
    no row runs none."""
    max_rows = DRIVER_PULL_MAX_BYTES // row_bytes
    if max_rows <= 0:
        return None
    table = df.limit(max_rows + 1).toArrow()
    return None if table.num_rows > max_rows else table


def pull_ids(df: DataFrame, *cols: str) -> list[np.ndarray] | None:
    """The columns `cols` of `df` as NumPy arrays if the gate admits them
    at 8 bytes an id, else None: when the gate keeps them out, or they
    are not integral ids of one type with no NULL. Types are checked
    before the pull, so only a NULL costs a pull that is thrown away."""
    types = {df.schema[c].dataType for c in cols}
    if len(types) != 1 or not isinstance(types.pop(), IntegralType):
        return None
    table = pull(df.select(*cols), 8 * len(cols))
    if table is None or any(table.column(c).null_count for c in cols):
        return None
    return [table.column(c).to_numpy() for c in cols]


def frame(spark: SparkSession, schema: StructType, *cols: np.ndarray) -> DataFrame:
    """A local DataFrame of `schema` holding the NumPy `cols`, built over
    Arrow: no Spark job, and no Python worker when a plan reads it."""
    arrays = [pa.array(c, to_arrow_type(f.dataType)) for c, f in zip(cols, schema)]
    return spark.createDataFrame(pa.table(arrays, names=schema.names), schema)
