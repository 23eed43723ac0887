"""Driver-side fast paths: their size caps and the Arrow local-frame builder.

Three operators resolve small inputs on the driver instead of running a
chain of Spark jobs, because below a few thousand rows the fixed cost of
each job, not the data, sets the latency:

- a WideTable index probe with at most ``INDEX_PROBE_DRIVER_CAP`` candidate
  rowkeys fetches and read-repairs them on the driver;
- ``connected_components`` closes at most ``CC_DRIVER_EDGE_CAP`` canonical
  edges with a union-find on the driver;
- ``kmeans_clusters`` and ``freeze_kmeans`` run their Lloyd rounds in numpy
  when the corpus holds at most ``KMEANS_DRIVER_VALUES_CAP`` vector
  components (rows x dim).

Each cap is read at call time, so a test can pin an operator to either path
by patching the constant here. Results handed back to Spark go through
:func:`local_frame`.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType, _parse_datatype_string

# an index probe with at most this many candidate rowkeys resolves on the
# driver; more go through the broadcast semi-join. The driver path saves a
# shuffle per probe but pays per candidate in Python and in the rowkey
# IN-list, so thousands of candidates are faster on the semi-join.
INDEX_PROBE_DRIVER_CAP = 100

# connected_components closes up to this many canonical edges on the
# driver; above it the star loop runs.
CC_DRIVER_EDGE_CAP = 100_000

# k-means runs on the driver up to this many vector components (rows x
# dim). Memory, not speed, sets it. kmeans_clusters(k=8) plus a noop write
# on 64-dim vectors, plain local[4] session with the default 1 GB driver
# heap, 4-core host, median of runs 2-4 (float n_iter=3 / exact n_iter=5):
#
#   components   driver path       distributed loop
#   128k         0.33 / 0.29 s     2.40 / 3.12 s
#   512k         0.58 / 0.58 s     2.64 / 3.34 s
#   1M           0.80 / 0.97 s     3.17 / 3.80 s
#   2M           1.37 / 1.54 s     3.33 / 3.87 s
#   4M           1.56 / 1.93 s     4.58 / 5.36 s
#   8M           2.14-2.76 s / OOM 5.64-7.42 s
#
# The driver path wins at every size that completes, so time gives no
# crossover. At 8M components the exact run ran the driver heap out
# (OutOfMemoryError serializing the Arrow local relation's partitions),
# and even the float runs spent 6-9 s in their first call. The cap sits
# 8x below that failure, leaving the driver heap to the caller.
KMEANS_DRIVER_VALUES_CAP = 1 << 20


def local_frame(spark, columns, schema: StructType | str) -> DataFrame:
    """A JVM local relation holding ``columns`` (one sequence per field of
    ``schema``, in field order), built through a ``pyarrow.Table``.
    ``createDataFrame`` over a Python list becomes a Python RDD, so whatever
    consumes it runs a Python-worker job: about 340 ms for a two-row write
    on a 4-core host, against 60 ms from the Arrow table. A column may be a
    plain sequence, a numpy array or an Arrow array; each is converted or
    cast to its field's Arrow type, and every field comes back nullable."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrays = {}
    for field, col in zip(schema.fields, columns, strict=True):
        typ = to_arrow_type(field.dataType)
        if isinstance(col, (pa.Array, pa.ChunkedArray)):
            arrays[field.name] = col.cast(typ)
        else:
            arrays[field.name] = pa.array(col, typ)
    return spark.createDataFrame(pa.table(arrays))
