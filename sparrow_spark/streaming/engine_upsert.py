"""Streaming CDC upsert into an ENGINE-managed table: each microbatch
of the events stream aggregates to per-user deltas and applies them to
a primary-keyed profiles table through the engine's own MERGE — the
integration piece that connects Structured Streaming to the MySQL-
dialect surface (stream -> engine table), the way a real deployment
keeps a serving table current.

Exactly-once discipline: foreachBatch is at-least-once, and additive
MERGE updates are NOT naturally idempotent, so each batch first claims
its batch_id in a primary-keyed ledger table — a replayed batch hits
duplicate-key error 1062 on the claim and is skipped before any state
changes (the transactional-outbox idiom, expressed entirely in the
engine's own statement surface; claim and apply are two statements,
not one transaction — the engine has no transactions, like the
reference — so the window between them is documented, not hidden).
The drain even re-applies batch 0 on purpose after the stream
finishes: the oracle hash proves the ledger absorbed the replay.

Scale: per batch the corpus contributes one user-keyed aggregate of
THAT batch only; the MERGE is the engine's set-at-a-time copy-on-write
(an outer join updates the matched users, an anti-join finds the new
ones). It rewrites only the profiles files holding a matched user and
appends the new users, against a profiles table bounded by user
cardinality, never by event volume.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparrow_spark.engine import Engine, SparrowError
from sparrow_spark.registry import query
from sparrow_spark.rounding import rnd
from sparrow_spark.sources import load_table
from sparrow_spark.streaming.constants import drain_shuffle, stream_scratch_dir

_MERGE_SQL = """MERGE INTO profiles t USING
  (SELECT user_id, n, s FROM global_temp.{view}) s
  ON t.user_id = s.user_id
  WHEN MATCHED THEN UPDATE SET n_events = t.n_events + s.n,
                               sum_value = t.sum_value + s.s
  WHEN NOT MATCHED THEN INSERT (user_id, n_events, sum_value)
    VALUES (s.user_id, s.n, s.s)"""


def apply_batch(eng: Engine, batch: DataFrame, batch_id: int) -> None:
    """foreachBatch callback: claim the batch_id in the ledger (a
    duplicate claim means this is an at-least-once REPLAY -> skip),
    then MERGE the batch's per-user deltas into profiles."""
    try:
        eng.sql(f"INSERT INTO applied_batches VALUES ({batch_id})")
    except SparrowError as e:
        if e.code == 1062:
            return  # replayed batch: already applied, absorb silently
        raise
    view = f"b{batch_id}_{uuid.uuid4().hex[:6]}"
    (
        batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value").alias("s"),
        )
        # GLOBAL temp view: foreachBatch hands a micro-batch-scoped
        # session whose ordinary temp views the engine's session cannot
        # see; global_temp is shared across sessions of one JVM.
        .createOrReplaceGlobalTempView(view)
    )
    try:
        eng.sql(_MERGE_SQL.format(view=view))
    finally:
        batch.sparkSession.catalog.dropGlobalTempView(view)


@query(
    "q_stream_engine_upsert",
    oracle="""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q_stream_engine_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the events fixture through the stream->engine-MERGE
    upsert in three microbatches, deliberately re-apply batch 0 (an
    at-least-once replay), and return the profiles table — which must
    hash-match the plain batch aggregate of all events: the MERGE
    chain reconstructed counts and sums exactly, and the ledger
    absorbed the replay without double-counting."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    lo, hi = events.agg(
        F.expr("percentile(event_id, 0.33)"),
        F.expr("percentile(event_id, 0.66)"),
    ).first()
    root = stream_scratch_dir(f"engup_{uuid.uuid4().hex[:8]}_")
    src = os.path.join(root, "src")
    chunks = [
        events.filter(F.col("event_id") <= lo),
        events.filter((F.col("event_id") > lo) & (F.col("event_id") <= hi)),
        events.filter(F.col("event_id") > hi),
    ]
    for i, c in enumerate(chunks):
        c.coalesce(1).write.parquet(os.path.join(src, f"chunk-{i:03d}"))

    eng = Engine(spark, os.path.join(root, "wh"))
    schema = f"engup_{uuid.uuid4().hex[:8]}"
    eng.script(
        f"""CREATE SCHEMA {schema}; USE {schema};
        CREATE TABLE profiles (user_id BIGINT, n_events BIGINT,
                               sum_value DOUBLE, PRIMARY KEY(user_id));
        CREATE TABLE applied_batches (batch_id INT, PRIMARY KEY(batch_id))"""
    )
    stream = (
        spark.readStream.schema("event_id bigint, user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    with drain_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, bid: apply_batch(eng, batch, bid)
            )
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(180)
    if not finished:
        q.stop()
        raise RuntimeError(
            "engine upsert drain did not finish within 180s; refusing to "
            "return a partially-maintained profiles table"
        )
    # Deliberate at-least-once replay of batch 0: the ledger must
    # absorb it (proven by the oracle hash — a double-application
    # would inflate n_events for every user in the first chunk).
    apply_batch(eng, spark.read.parquet(os.path.join(src, "chunk-000")), 0)

    final = eng.sql(
        "SELECT user_id, n_events, sum_value FROM profiles ORDER BY user_id"
    ).df.select(
        "user_id", "n_events", rnd("sum_value", 4).alias("sum_value")
    )
    rows = final.collect()
    frozen = spark.createDataFrame(rows, final.schema)
    for sub in ("src", "ckpt", "wh"):
        shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
    spark.sql(f"DROP DATABASE IF EXISTS `{schema}` CASCADE")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return frozen.orderBy("user_id")
