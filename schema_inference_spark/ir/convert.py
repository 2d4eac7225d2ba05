"""pyarrow DataType -> engine schema IR (the SURVEY.md §1.3 mapping table).

Used by the per-partition state extraction to record *observed physical*
types. This deliberately bypasses Spark's own scan schema, because Spark
widens at scan/union time while the reference's merge semantics are
strict-fail (SURVEY.md §7.3-1): the engine must see "this partition
physically stored turn_idx as double" even when Spark's merged read
schema already coerced it.

Integer widths collapse to the canonical engine int (ref: ground.clj:18-21);
the observed physical width is preserved separately in the state record.
"""

from __future__ import annotations

from typing import Any, Dict

import pyarrow as pa

Schema = Dict[str, Any]


def arrow_type_to_ir(dt: pa.DataType) -> Schema:
    """Observed ground/constructor type of one Arrow column (value part only;
    nullability is tracked by null counts and wrapped by the caller)."""
    if pa.types.is_boolean(dt):
        return {"type": "boolean"}
    if pa.types.is_integer(dt):
        return {"type": "int"}  # widths collapse (ground.clj:18-21)
    if pa.types.is_float32(dt) or pa.types.is_float16(dt):
        return {"type": "float"}
    if pa.types.is_float64(dt):
        return {"type": "double"}
    if pa.types.is_decimal(dt):
        return {"type": "decimal"}
    if pa.types.is_string(dt) or pa.types.is_large_string(dt):
        return {"type": "string"}
    if pa.types.is_binary(dt) or pa.types.is_large_binary(dt) or pa.types.is_fixed_size_binary(dt):
        return {"type": "bytes"}
    if pa.types.is_timestamp(dt):
        return {"type": "timestamp"}
    if pa.types.is_date(dt):
        return {"type": "date"}
    if pa.types.is_null(dt):
        return {"type": "nil"}
    if pa.types.is_dictionary(dt):
        return arrow_type_to_ir(dt.value_type)
    if pa.types.is_list(dt) or pa.types.is_large_list(dt) or pa.types.is_fixed_size_list(dt):
        return {"type": "vector", "child": arrow_type_to_ir(dt.value_type)}
    if pa.types.is_map(dt):
        return {"type": "map-of", "key": arrow_type_to_ir(dt.key_type),
                "value": arrow_type_to_ir(dt.item_type)}
    if pa.types.is_struct(dt):
        return {"type": "map",
                "entries": {dt.field(i).name: arrow_type_to_ir(dt.field(i).type)
                            for i in range(dt.num_fields)}}
    # unknown physical type -> opaque ground (ref: ground.clj:31 leaves
    # unknown classes as class-typed grounds)
    return {"type": f"arrow:{dt}"}
