"""JSON decode helpers.

The reference decodes record values two ways (SURVEY §1.3): a generic
Jackson POJO serde (`serdes/JsonPOJOSerde.java:10-39`) → `from_json`
with an explicit schema, used inline where a source decodes
(`sources/kafka.py`); and ad-hoc per-field extraction with a sentinel
key ``"UNKNOWN"`` for malformed JSON
(`windows/tumbling/OrderCountTumblingWindow.java:65-74`) → here
`get_json_object` + `coalesce`. Both stay JVM-side expressions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

UNKNOWN_KEY = "UNKNOWN"


def json_key_or_unknown(value: Column, field: str) -> Column:
    """Extract ``$.field`` from a JSON text column as the new record key;
    malformed JSON or a missing field routes to the sentinel ``"UNKNOWN"``
    instead of erroring (`OrderCountTumblingWindow.java:71-73` — the bad
    record must still count, under the sentinel key)."""
    return F.coalesce(F.get_json_object(value, f"$.{field}"), F.lit(UNKNOWN_KEY))

