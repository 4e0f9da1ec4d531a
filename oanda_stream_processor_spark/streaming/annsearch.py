"""Streaming incremental ANN: micro-batches of query vectors searched
against a STATIC IVF-partitioned index via ``foreachBatch`` — the
similarity-family twin of ``streaming/incremental.py``'s dedup path.

Shape (100 TB): the index — corpus vectors with their precomputed cell
ids — is built once (`operators.similarity._ivf_cells`) and persisted
partitioned BY the cell id; the coarse-quantizer state is ONE
broadcastable row (`_ivf_centroids`). Each arriving micro-batch of
query vectors is assigned its probe cells with the same deterministic
quantization the batch path uses, then equi-joins the index on the
cell id — the batch side is tiny, so the join broadcasts the QUERIES
and the index never shuffles off its cell partitioning. Per-query
ranking is a window partitioned by the query id over in-cell
candidates only.

Two scale knobs, both mirroring the batch family:

* ``nprobe`` — each query probes its nprobe nearest coarse cells
  (q148's recall/cost lever): the query side explodes to nprobe rows,
  the index side is untouched, cost is nprobe x the in-cell scan.
* ``split_planes`` — when the index was built with the corpus-growth
  subdivision (`_ivf_cells` default at large N), queries must carry
  the SAME subdivision; the probe key is coarse_cell * 2^P + the
  query's own LSH sign bucket (the sub-bucket depends only on the
  query vector, so it is identical across all probed coarse cells).
  ``build_ann_index`` returns the triple so callers cannot mismatch
  index and query layouts.

This is deliberately ``foreachBatch`` over a static index (not a
stream-stream join): ANN search against a fixed corpus is a lookup,
not a co-evolution — identical to the reasoning documented for
streaming incremental dedup (`streaming/incremental.py`).

Reference basis: the reference has no search at all; this extends the
north-star similarity family (SURVEY.md §2.2 'LLM-pipeline
extensions') to the streaming surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from . import store
from ..operators.similarity import (
    IVF_K,
    TOP_K,
    _assign_cells,
    _bucket,
    _corpus_rows,
    _cosine,
    _growth_splits,
    _ivf_cells,
    _ivf_centroids,
)

__all__ = ["batch_topk_against_index", "build_ann_index", "run_ann_stream"]


def build_ann_index(e: DataFrame, k: int = IVF_K):
    """(index_cells, cent_one, split_planes) for a corpus frame: the
    assigned index (growth-rule subdivision applied, exactly as the
    batch path builds it), the checkpointed one-row codebook, and the
    subdivision the queries must reproduce. Build once per corpus;
    every micro-batch reuses all three."""
    split_planes = _growth_splits(_corpus_rows(e), k)
    return (_ivf_cells(e, k, split_planes=split_planes),
            _ivf_centroids(e, k),
            split_planes)


def _probe_cells(batch: DataFrame, cent_one: DataFrame,
                 nprobe: int, split_planes: int) -> DataFrame:
    """(query_id, q_emb, cell) with one row per probed cell.

    nprobe=1 goes through `_assign_cells` — the numpy argmin the index
    itself was assigned with. nprobe>1 scores all seeds per query with
    the JVM FLOOR(d2*1e6) expression (bit-identical doubles to the
    numpy path: same sequential fold, same floor quantization — the
    q148 discipline) and explodes the nprobe smallest (key, cell)
    pairs; the query set is tiny, so the interpreted HOF cost that
    made the JVM path wrong for the N-row index side is irrelevant
    here."""
    if nprobe == 1:
        q = _assign_cells(batch, cent_one)
    else:
        def _d2(c_vals) -> F.Column:
            return F.aggregate(
                F.zip_with(F.col("embedding"), c_vals,
                           lambda x, y: (x.cast("double") - y)
                                        * (x.cast("double") - y)),
                F.lit(0.0), lambda acc, x: acc + x)

        scored_cells = F.transform(
            F.col("cents"),
            lambda c: F.struct(F.floor(_d2(c["c_vals"]) * 1_000_000)
                                .alias("d2r"),
                               c["cell"].alias("cell")))
        probed = F.slice(F.array_sort(scored_cells), 1, nprobe)
        q = (batch.crossJoin(F.broadcast(cent_one))
             .select("vec_id", "embedding",
                     F.explode(probed).alias("pc"))
             .select("vec_id", "embedding",
                     F.col("pc.cell").alias("cell")))
    if split_planes:
        q = q.select(
            "vec_id", "embedding",
            (F.col("cell") * (1 << split_planes)
             + _bucket(F.col("embedding"), split_planes)).alias("cell"))
    return q.select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_emb"), "cell")


def _resolve_split_planes(index_cells: DataFrame,
                          split_planes: int | None) -> int:
    """The subdivision the queries must reproduce.  `_ivf_cells`
    stamps the subdivision it applied on the frame it returns
    (`ann_split_planes`); when the caller does not pass an explicit
    value we read it from there.  An index frame without the stamp and
    no explicit value is REFUSED rather than defaulted to 0 — the
    growth rule subdivides large indexes by default, and probing a
    subdivided index with coarse cell ids silently returns wrong/empty
    matches (round-7 advice)."""
    if split_planes is not None:
        return split_planes
    stamped = getattr(index_cells, "ann_split_planes", None)
    if stamped is None:
        raise ValueError(
            "index frame carries no ann_split_planes stamp; build it "
            "with _ivf_cells/build_ann_index or pass split_planes "
            "explicitly (0 only for a deliberately unsubdivided index)")
    return stamped


def batch_topk_against_index(batch: DataFrame, index_cells: DataFrame,
                             cent_one: DataFrame, k: int = TOP_K, *,
                             nprobe: int = 1,
                             split_planes: int | None = None) -> DataFrame:
    """Top-k in-cell cosine neighbors for one (micro-)batch of query
    vectors (vec_id, embedding) against the static assigned index.

    ``split_planes`` MUST match the index build; by default it is read
    off the index frame itself (every `_ivf_cells` result carries the
    subdivision it applied), so an index built with the growth-rule
    default cannot be probed with mismatched coarse ids. A candidate
    reached through several probed cells is still scored once per
    (query, cell) row, but distinct probed cells are disjoint candidate
    sets (each index vector lives in exactly one cell), so no dedup
    step is needed.

    Deterministic: rounded-cosine ordering with candidate-id tiebreak
    (the q45/q56 discipline), so results are independent of batch
    sizing and partitioning — asserted by the trigger-split tests for
    nprobe=1 and nprobe=2.
    """
    q = _probe_cells(batch, cent_one, nprobe,
                     _resolve_split_planes(index_cells, split_planes))
    scored = (index_cells.join(F.broadcast(q), "cell")
              .where(F.col("vec_id") != F.col("query_id"))
              .select("query_id", F.col("vec_id").alias("cand_id"),
                      F.round(_cosine(F.col("q_emb"), F.col("embedding")), 6)
                       .alias("cosine")))
    wr = W.partitionBy("query_id").orderBy(F.desc("cosine"),
                                           F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(wr))
                  .where(F.col("rank") <= k))


def run_ann_stream(stream: DataFrame, index_cells: DataFrame,
                   cent_one: DataFrame, sink, *, k: int = TOP_K,
                   nprobe: int = 1, split_planes: int | None = None,
                   checkpoint: str | None = None):
    """Wire a (vec_id, embedding) stream through per-batch ANN search.

    ``sink(result_df, batch_id)`` receives each micro-batch's top-k
    frame; exactly-once to idempotent sinks via the checkpoint, the
    same guarantees as every other foreachBatch path in streaming/.
    """
    split_planes = _resolve_split_planes(index_cells, split_planes)

    def _each(batch: DataFrame, batch_id: int) -> None:
        sink(batch_topk_against_index(batch, index_cells, cent_one, k,
                                      nprobe=nprobe,
                                      split_planes=split_planes),
             batch_id)

    return store.start(stream, _each, checkpoint)
