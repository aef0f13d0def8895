"""JSON scalar functions (SURVEY.md §2.2).

The reference's consumer defends against two JSON pathologies: whole-message
malformation (consumer.py:24's deserializer) and a polymorphic ``weather``
field that arrives either as a list of dicts or as the JSON *string* encoding
of one (consumer.py:36-43). Both are expressed with PERMISSIVE ``from_json``:
a parse failure yields NULL, which ``coalesce`` turns into the documented
default — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def parse_polymorphic_array(
    col: Column | str, array_schema: T.ArrayType
) -> Column:
    """Handle a field that is *either* already an array-of-structs or a JSON
    string encoding one (consumer.py:36-43): try-parse the string form, fall
    back to an empty array (consumer.py:41,43).

    Callers pass the column's *string* representation (at an ingestion
    boundary everything is a string); values already array-typed should be
    ``to_json``-ed first by the caller — one code path, not a type dispatch.
    """
    c = F.col(col) if isinstance(col, str) else col
    parsed = F.from_json(c, array_schema)
    return F.coalesce(parsed, F.array().cast(array_schema))


def first_element_field(
    arr: Column | str, field: str, default: str = "Unknown"
) -> Column:
    """``arr[0].field`` with a default when the array is empty/null
    (consumer.py:45 ``weather_list[0].get("description", "Unknown")``).

    Uses ``F.get`` (0-indexed, returns NULL out-of-bounds) — NOT ``element_at``,
    which under Spark 4's default ANSI mode throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT
    on an empty array. ``coalesce`` applies the default.
    """
    a = F.col(arr) if isinstance(arr, str) else arr
    return F.coalesce(F.get(a, 0).getField(field), F.lit(default))
