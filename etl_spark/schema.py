"""Schemas for the change feed and target table, plus evolution rules.

The reference models schemas explicitly with nullability and rebuilds them via
builders (``src/common/util/FeatureTypeExtensions.scala:10-29``,
``src/worldclim/.../WorldClimHistoricalTemperatureTransformationService.scala:73-86``).
Here the same discipline is ``StructType`` with explicit ``nullable`` flags, and
schema evolution (add / widen) is a first-class, versioned operation on the
table layer (FIXTURES.md §3; north rule: "schema evolution (add/widen columns)
mediated through Iceberg's schema-update API").

Target-table shape is fixed by ``BASELINE.json.input_hint``:
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- change feed (binlog/WAL events), FIXTURES.md §1 -------------------------

BINLOG_SCHEMA = StructType(
    [
        StructField("commit_lsn", LongType(), nullable=False),
        StructField("op_seq", IntegerType(), nullable=False),
        StructField("op", StringType(), nullable=False),
        StructField("doc_id", StringType(), nullable=False),
        # payload columns: null iff op = 'D' (tombstone)
        StructField("tokens", ArrayType(IntegerType(), containsNull=False), nullable=True),
        StructField("n_tok", IntegerType(), nullable=True),
        StructField("source", StringType(), nullable=True),
    ]
)

# --- target table (FIXTURES.md §2, input_hint shape) -------------------------

TARGET_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("tokens", ArrayType(IntegerType(), containsNull=False), nullable=False),
        StructField("n_tok", IntegerType(), nullable=False),
        StructField("source", StringType(), nullable=False),
    ]
)

# Hidden engine columns persisted for cross-batch LWW resolution
# (SURVEY.md §7.3 "cross-batch out-of-order").
HIDDEN_LSN = "_commit_lsn"
HIDDEN_SEQ = "_op_seq"


# --- schema evolution rules --------------------------------------------------

# legal widenings (Iceberg-compatible primitive promotions)
_WIDENINGS: dict[tuple[str, str], bool] = {
    ("integer", "long"): True,
    ("float", "double"): True,
    ("int", "bigint"): True,
}


def relax_nullability(dt):
    """Array/map/struct types with containsNull=False cannot be cast *to* from
    their nullable counterparts; for cast targets we relax container
    nullability (data-level nulls never occur — enforced by tests)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType as ST

    if isinstance(dt, ArrayType):
        return ArrayType(relax_nullability(dt.elementType), containsNull=True)
    if isinstance(dt, MapType):
        return MapType(relax_nullability(dt.keyType), relax_nullability(dt.valueType), valueContainsNull=True)
    if isinstance(dt, ST):
        return ST([StructField(f.name, relax_nullability(f.dataType), nullable=True) for f in dt.fields])
    return dt


def can_widen(from_type: str, to_type: str) -> bool:
    return _WIDENINGS.get((from_type, to_type), False) or from_type == to_type
