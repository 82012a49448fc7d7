"""Change-event feed: the reference publishes CloudEvents for every
table mutation over NATS (`service/event_publisher.rs:83-154`, emitted
in `catalog/tables.rs:190-205,488-507`). The Spark-native mapping
(SURVEY.md §1.4): events land as JSON files under the warehouse and are
consumed as a *Structured Streaming source* — fire-and-forget for the
commit path (never blocks, parity with the 50 ms mpsc budget), queryable
and replayable for consumers.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # the server and client processes never load Spark
    from pyspark.sql import DataFrame, SparkSession

# the event files' columns, as the DDL string both Spark readers take
EVENT_SCHEMA = (
    "event_id STRING, event_type STRING, time_ms BIGINT, table_id STRING,"
    " namespace STRING, name STRING, metadata_location STRING"
)


def _events_dir(base_location: str) -> str:
    base = base_location[len("file://"):] if base_location.startswith("file://") else base_location
    return os.path.join(base, "_events")


def publish_event(
    base_location: str,
    event_type: str,
    table_id: str,
    namespace: list[str],
    name: str,
    metadata_location: str | None,
) -> None:
    """Append one event as its own small JSON file (the file stream
    source triggers on new files). Failures are swallowed — the commit
    must never block on event delivery (event_publisher.rs:13-53).

    Non-local base locations (s3:// etc.) are skipped entirely — same
    guard as io.write_metadata_file: this container has no object-store
    client, and os.makedirs on "s3://..." would create a literal local
    "s3:/" directory tree relative to CWD."""
    if not base_location.startswith(("file://", "/")):
        return
    try:
        d = _events_dir(base_location)
        os.makedirs(d, exist_ok=True)
        event = {
            "event_id": str(uuid.uuid4()),
            "event_type": event_type,
            "time_ms": int(time.time() * 1000),
            "table_id": table_id,
            "namespace": ".".join(namespace),
            "name": name,
            "metadata_location": metadata_location,
        }
        path = os.path.join(d, f"{event['time_ms']}-{event['event_id']}.json")
        with open(path, "w") as fh:
            fh.write(json.dumps(event))
    except OSError:
        pass


def change_feed(spark: SparkSession, base_location: str) -> DataFrame:
    """Streaming DataFrame over the warehouse change log."""
    return spark.readStream.schema(EVENT_SCHEMA).json(_events_dir(base_location))


def change_log(spark: SparkSession, base_location: str) -> DataFrame:
    """Batch DataFrame over the full change history."""
    return spark.read.schema(EVENT_SCHEMA).json(_events_dir(base_location))
