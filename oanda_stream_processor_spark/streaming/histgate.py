"""Streaming histogram-quantile gate — the online twin of
operators/stats.q172 (fixed-domain bucket-count sketch).

Running quantiles over an unbounded stream with BOUNDED state: the
domain is declared up front (stats.HIST_LO/HIST_HI/HIST_NB), so each
batch's bucket-count vector is a plain SUM partial — the same
columnwise-summable ledger family as qualitygate/contamgate, here
keyed by bucket. Each batch overwrites its own partial under
its batch partition (idempotent replay); the read side SUMs per bucket and
runs the identical integer quantile walk as batch q172
(stats.hist_quantiles — shared code), so streamed quantile reads over
any batching equal the one-shot sketch answers row-for-row,
pytest-proven. (The exact-kth QA columns are batch-only: they need
the ordered data the stream never retains — exactly the state bound
this sketch exists to respect.)

Citation: the reference (433-line tick ETL, /root/reference/src/
main.rs) has no quantile sketching; north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import store
from ..operators.stats import hist_buckets, hist_quantiles

_BUCKETS = store.Layout("", store.sum_by(["bucket"], "n"))


def batch_buckets(li: DataFrame) -> DataFrame:
    """The (bucket, n) SUM partial for one batch."""
    return hist_buckets(li)


def read_buckets(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged bucket counts from the persisted partials."""
    return store.read(spark, state_dir, _BUCKETS)


def read_quantiles(spark: SparkSession, state_dir: str) -> DataFrame:
    """Running quantile estimates — batch q172's sketch columns."""
    return hist_quantiles(read_buckets(spark, state_dir))


def start_hist_stream(stream_li: DataFrame, state_dir: str,
                      checkpoint_dir: str):
    """Wire a streaming lineitem source into the bucket gate: each
    batch overwrites its own partial."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        store.write(batch_buckets(batch_df), state_dir, _BUCKETS, batch_id)

    return store.start(stream_li, body, checkpoint_dir, root=state_dir)
