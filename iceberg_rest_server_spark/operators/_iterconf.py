"""Scale-gated loop tuning for iterative operators (PageRank, connected
components). Their per-round checkpoints are owned by materialize.scope.

Iterative graph loops run many micro-queries over a dataset whose size
the operator has already MEASURED (a count() precedes every loop). Two
Spark defaults that are right for one-shot queries at scale are pure
scheduling overhead for a small measured loop:

  - AQE re-plans after every exchange; on a sub-second stage the
    re-planning round-trip dominates (measured 2x on q96's power
    iteration at sf0.1);
  - `spark.sql.shuffle.partitions` sized for the big-table case
    schedules 32 near-empty tasks per stage.

`iteration_conf` pins both DOWN only when the measured row count is
small (below ~2M rows the whole loop state fits in a handful of
partitions), and restores the session conf afterwards. Above the
threshold it is a strict no-op — at 100 TB the loop keeps AQE (skew
splits, runtime join re-selection) and full parallelism. Same
single-threaded-session assumption as streaming.run_to_table: session
conf is global, so concurrent queries planned during the loop would see
the pinned values.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

# Below this many rows of loop state, scheduling dominates compute and
# the loop is planned with AQE off + data-sized partition count.
SMALL_LOOP_ROWS = 2_000_000

# Target rows per shuffle partition for a small pinned loop.
_ROWS_PER_PARTITION = 250_000


@contextmanager
def iteration_conf(spark: SparkSession, n_rows: int):
    """Pin loop-friendly conf while the body plans its per-round queries
    (no-op when `n_rows` says the loop is big enough to want AQE)."""
    if n_rows > SMALL_LOOP_ROWS:
        yield
        return
    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled", "true")
    old_parts = conf.get("spark.sql.shuffle.partitions", "200")
    parts = min(int(old_parts), max(4, int(n_rows) // _ROWS_PER_PARTITION + 1))
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(parts))
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.shuffle.partitions", old_parts)

