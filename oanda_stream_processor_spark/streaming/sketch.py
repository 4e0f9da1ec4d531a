"""Streaming count-min sketch — the online twin of
operators/textops.q132: token heavy hitters over an unbounded document
stream with FIXED memory.

The whole reason CMS exists in a streaming engine is mergeability:
each micro-batch reduces to a partial sketch (<= D*W rows of
(d, bucket, partial_count)), and the running sketch is the cellwise
SUM of the partials — associative and commutative, so batch boundaries,
retries within a batch, and partition order cannot change the result.
The running state lives in a parquet directory keyed by (d, bucket)
(production: a Delta table with MERGE), compacted every batch to stay
<= D*W rows; queries against it are the same min-over-rows estimate as
the batch operator.

foreachBatch (not a stateful operator) is the right shape here for the
same reason as streaming/incremental.py: the per-batch sketch is a
full groupBy over the batch, and the merge is a table update — both
plain batch operations, exactly-once via the streaming checkpoint plus
idempotent-by-batch_id partial writes.

Citation: the reference (433-line tick ETL, /root/reference/src/main.rs)
has no aggregation state at all; north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from ..operators.textops import CMS_D, CMS_W, _CMS_AFFINE, HASH_BASE, HASH_MOD

_CELLS = store.Layout("", store.sum_by(["d", "bucket"], "cell"))


def batch_sketch(docs: DataFrame) -> DataFrame:
    """(d, bucket, cell) partial CMS for one batch of documents —
    identical hashes to q132 so batch and stream estimates agree."""
    tok = docs.select(F.explode(
        F.filter(F.split("text", " "), lambda x: x != "")).alias("token"))
    th = F.expr(
        "aggregate(transform(split(token, ''), "
        "c -> cast(ascii(c) as bigint)), 0L, "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD})")
    tc = (tok.groupBy("token").agg(F.count("*").alias("c"))
          .withColumn("th", th))
    stack = ", ".join(
        f"{di}, ((th * {a} + {b}) % {HASH_MOD}) % {CMS_W}"
        for di, (a, b) in enumerate(_CMS_AFFINE))
    probes = tc.selectExpr("c", f"stack({CMS_D}, {stack}) AS (d, bucket)")
    return probes.groupBy("d", "bucket").agg(F.sum("c").alias("cell"))


def read_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The running sketch: cellwise sum over every persisted partial.
    Compaction keeps the directory small; summing at read time makes
    partial writes idempotent-safe (a re-written batch_id replaces its
    own rows, see body below)."""
    return store.read(spark, state_dir, _CELLS)


def estimate(sketch: DataFrame, tokens: DataFrame) -> DataFrame:
    """(token, est_n) CMS estimates for a frame of probe tokens against
    a materialized sketch — min over the D bucket cells, the same
    arithmetic as q132."""
    th = F.expr(
        "aggregate(transform(split(token, ''), "
        "c -> cast(ascii(c) as bigint)), 0L, "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD})")
    stack = ", ".join(
        f"{di}, ((th * {a} + {b}) % {HASH_MOD}) % {CMS_W}"
        for di, (a, b) in enumerate(_CMS_AFFINE))
    probes = (tokens.withColumn("th", th)
              .selectExpr("token", f"stack({CMS_D}, {stack}) AS (d, bucket)"))
    return (probes.join(F.broadcast(sketch), ["d", "bucket"])
            .groupBy("token").agg(F.min("cell").alias("est_n")))


def start_cms_stream(stream_docs: DataFrame, state_dir: str,
                     checkpoint_dir: str):
    """Wire a streaming documents source into the running sketch.

    Each batch writes its partial sketch to its own batch partition
    (overwrite of that partition = idempotent replay on recovery), so
    the cellwise sum over the directory is exactly-once without a
    read-modify-write of the whole state."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        store.write(batch_sketch(batch_df), state_dir, _CELLS, batch_id)

    return store.start(stream_docs, body, checkpoint_dir, root=state_dir)
