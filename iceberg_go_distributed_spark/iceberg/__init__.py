"""Pure-Python Iceberg table-format layer (the metadata plane).

This subpackage reimplements, Spark-first, the reference's core surface
(lamOrigin007/iceberg-go-distributed): table metadata JSON, Avro
manifests + manifest lists, snapshots, transactions with optimistic
CAS commits, the four-level scan-pruning cascade, partition transforms
with bit-exact bucket hashing, and the fork's distributed-snapshot
commit protocol.

Split of responsibilities (SURVEY.md §1.1 "Spark mapping"):
  - metadata plane (this package): driver-side pure Python — O(manifests)
    work, no Spark dependency, so planning is testable without a JVM;
  - data plane: Spark DataFrames — the planner hands `spark.read.parquet`
    a pruned file list plus a residual filter Column, and the write path
    runs executors-as-workers via mapInArrow (write.py).
"""

from .types import (  # noqa: F401
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FixedType,
    FloatType,
    IntegerType,
    ListType,
    LongType,
    MapType,
    NestedField,
    Schema,
    StringType,
    StructType,
    TimestampType,
    TimestampTzType,
    TimeType,
    UUIDType,
    type_from_json,
)

from .spj import (  # noqa: F401
    storage_partitioned_agg,
    storage_partitioned_asof_join,
    storage_partitioned_join,
    storage_partitioned_join_agg,
    storage_partitioned_star_join,
)
