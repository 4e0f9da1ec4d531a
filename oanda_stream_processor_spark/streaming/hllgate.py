"""Streaming HyperLogLog cardinality gate — the online twin of
operators/textops.q169 (per-source distinct-gram HLL).

A production ingest pipeline tracks vocabulary/context diversity as
data arrives: "how many distinct 5-gram contexts has source X
contributed so far" without holding a distinct set. HLL is the
canonical answer because its state is BOUNDED (|sources| x 512
registers of 6 bits) and its merge is elementwise MAX — idempotent,
associative, commutative — so trigger boundaries, replays, and
partitioning cannot change any estimate. This twin demonstrates the
MAX merge semiring where the other gates (sketch.py, qualitygate.py,
contamgate.py) demonstrate SUM ledgers.

* per batch: the batch's OWN register partial (MAX rho per
  (source, bucket) over just that batch's probes) lands under
  its batch partition (overwrite-by-partition = idempotent replay, same
  contract as the other gates). A replayed batch rewrites the same
  registers; because merge is MAX and the partial depends only on the
  batch's rows, replay is exactly-once by construction — and even
  DOUBLE-counting a batch would be harmless (MAX is idempotent),
  a strictly stronger recovery property than the SUM ledgers enjoy.
* read side: merge all partials with one MAX groupBy, then the exact
  same integer estimate math as batch q169 (textops.hll_estimates —
  shared code, shared literals). Estimates over any batching equal
  the one-shot batch estimates register-for-register, pytest-proven.

Citation: the reference (433-line tick ETL, /root/reference/src/
main.rs) has no cardinality sketching; north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from ..operators.textops import (
    hll_estimates,
    hll_probes,
    hll_registers,
    merge_hll_registers,
)

_REGISTERS = store.Layout("", lambda df: merge_hll_registers(
    df.select("source", "bucket", "rho")))


def batch_registers(docs: DataFrame) -> DataFrame:
    """The (source, bucket, rho) register partial for one batch."""
    return hll_registers(hll_probes(docs))


def read_estimates(spark: SparkSession, state_dir: str,
                   with_global: bool = True) -> DataFrame:
    """Running per-source cardinality estimates from the persisted
    register partials: one MAX merge, then batch q169's estimate
    columns (m, n_present, n_zero, reg_sum, raw_est, hll_est,
    method). ``with_global`` appends the '__all__' row by merging all
    sources' registers — the same in-query merge proof as batch q169."""
    regs = store.read(spark, state_dir, _REGISTERS)
    if with_global:
        regs = regs.unionByName(
            merge_hll_registers(regs.withColumn("source", F.lit("__all__"))))
    return hll_estimates(regs)


def start_hll_stream(stream_docs: DataFrame, state_dir: str,
                     checkpoint_dir: str):
    """Wire a streaming documents source into the register gate: each
    batch overwrites its own partial."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        store.write(batch_registers(batch_df), state_dir, _REGISTERS,
                    batch_id)

    return store.start(stream_docs, body, checkpoint_dir, root=state_dir)
