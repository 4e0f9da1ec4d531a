"""Store-partial compaction (streaming/compact.py): folding
batch_id=* partials into consolidated generations must change the
FILE LAYOUT only — every merged read (BM25 serve, field serve, truth
reads, theta histogram) is row-for-row identical across a
compact-mid-sequence append run, the newest batch is never folded
(replay safety), lockstep layouts fold with one boundary so batch-id
set guards stay aligned, and an interrupted swap is healed from the
commit marker before the next fold (r17; VERDICT r16 Next-round
#2)."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from oanda_stream_processor_spark.io import load_table
from oanda_stream_processor_spark.operators.retrieval import N_QUERIES
from oanda_stream_processor_spark.streaming.compact import (
    compact_bm25_store,
    compact_field_store,
    compact_theta_store,
    compact_truth_store,
    store_file_count,
)
from oanda_stream_processor_spark.streaming.store import batch_ids

SF_DIR = "/root/testdata/sf0.001"


def _table(df):
    return sorted(tuple(r) for r in df.collect())


def _zipf(spark, n=400):
    common = "the of and to in for a is on at"
    return spark.createDataFrame(
        [(i, f"{common} rare{i % 8}a rare{i % 8}b") for i in range(n)],
        "doc_id long, text string")


def test_bm25_store_compaction_preserves_reads(spark, tmp_path):
    """Append 4 batches, compact (folds 0-2, keeps 3), read, append a
    5th, compact again: serve_bm25_topk (both θ routes) and the plain
    pool equal the uncompacted answer at every step, and the data
    file count drops."""
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_pool,
        serve_bm25_topk,
        write_batch_partials,
    )

    d = _zipf(spark)
    state = str(tmp_path / "bm25")
    for i in range(4):
        write_batch_partials(d.where(F.col("doc_id") % 4 == i),
                             state, i)
    want_pool = _table(serve_bm25_pool(spark, state))
    want_tk = _table(serve_bm25_topk(spark, state, plan="term",
                                     theta="seed"))
    files_before = store_file_count(state)
    out = compact_bm25_store(spark, state)
    assert out["folded"] == [0, 1, 2]
    assert set(batch_ids(os.path.join(state, "tf"))) == {0, 3}
    assert store_file_count(state) < files_before
    assert _table(serve_bm25_pool(spark, state)) == want_pool
    assert _table(serve_bm25_topk(spark, state, plan="term",
                                  theta="seed")) == want_tk
    assert _table(serve_bm25_topk(spark, state, plan="term",
                                  theta="hist")) == want_tk
    # append after compaction, then compact again (fold {0, 3} -> 0)
    extra = spark.createDataFrame(
        [(i, "the of and rare0a rare0b") for i in range(400, 500)],
        "doc_id long, text string")
    write_batch_partials(extra, state, 4)
    want2 = _table(serve_bm25_topk(spark, state, plan="term",
                                   theta="seed"))
    out = compact_bm25_store(spark, state)
    assert out["folded"] == [0, 3]
    assert set(batch_ids(os.path.join(state, "tf"))) == {0, 4}
    assert _table(serve_bm25_topk(spark, state, plan="term",
                                  theta="hist")) == want2
    # a single remaining foldable id is a no-op (never fold the max)
    assert compact_bm25_store(spark, state)["folded"] == [0]


def test_field_store_compaction_preserves_reads(spark, tmp_path):
    """The seven lockstep BM25F layouts fold as one unit; the served
    block-max read (hist θ route included) is unchanged."""
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25f_blockmax_topk,
        serve_bm25f_topk,
        write_batch_field_partials,
    )

    d = _zipf(spark)
    state = str(tmp_path / "field")
    for i in range(3):
        write_batch_field_partials(d.where(F.col("doc_id") % 3 == i),
                                   state, i)
    want_flat = _table(serve_bm25f_topk(spark, state))
    want_blk = _table(serve_bm25f_blockmax_topk(spark, state,
                                                plan="block",
                                                theta="hist"))
    files_before = store_file_count(state)
    assert compact_field_store(spark, state)["folded"] == [0, 1]
    assert store_file_count(state) < files_before
    assert _table(serve_bm25f_topk(spark, state)) == want_flat
    assert _table(serve_bm25f_blockmax_topk(
        spark, state, plan="block", theta="hist")) == want_blk
    assert _table(serve_bm25f_blockmax_topk(
        spark, state, plan="term", theta="seed")) == want_blk


def test_truth_store_compaction_preserves_reads(spark, tmp_path):
    """Truth partials fold by union/SUM/bounded-rerank: read_truth,
    the metric-side halves (whose r17 coverage guard must KEEP
    trusting the partials — all six layouts fold with one boundary)
    and the store-graded quality read are unchanged; itop SHRINKS to
    one TOP_K list per folded generation."""
    from oanda_stream_processor_spark.operators.retrieval import (
        TOP_K,
        truth_side_frames,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        write_batch_partials,
    )
    from oanda_stream_processor_spark.streaming.truthgate import (
        read_truth,
        read_truth_side,
        serve_quality_from_truth_store,
        write_batch_truth_partials,
    )

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    t = str(tmp_path / "truth")
    b = str(tmp_path / "bm25")
    batches = [d.where((F.col("doc_id") < N_QUERIES)
                       | (F.col("doc_id") % 3 == 0))] + \
              [d.where((F.col("doc_id") >= N_QUERIES)
                       & (F.col("doc_id") % 3 == i)) for i in (1, 2)]
    for i, part in enumerate(batches):
        write_batch_truth_partials(part, t, i)
        write_batch_partials(part, b, i)
    want_truth = _table(read_truth(spark, t))
    nrel, idcg = read_truth_side(spark, t)
    want_n, want_i = _table(nrel), _table(idcg)
    want_q = _table(serve_quality_from_truth_store(spark, t, b))
    itop_rows_before = spark.read.parquet(f"{t}/itop").count()
    assert compact_truth_store(spark, t)["folded"] == [0, 1]
    # lockstep fold: the coverage guard's id sets stay equal, so the
    # partial path (not the full-truth fallback) serves these reads —
    # pin that by checking the folded itop is the BOUNDED generation
    # list, which only the partial path reads
    for sub in ("prox", "nrel", "itop"):
        assert set(batch_ids(f"{t}/{sub}")) == {0, 2}, sub
    assert spark.read.parquet(f"{t}/itop").count() <= itop_rows_before
    gen0 = spark.read.parquet(f"{t}/itop/batch_id=0")
    assert (gen0.groupBy("query_id").count()
            .agg(F.max("count")).first()[0]) <= TOP_K
    assert _table(read_truth(spark, t)) == want_truth
    nrel2, idcg2 = read_truth_side(spark, t)
    assert _table(nrel2) == want_n and _table(idcg2) == want_i
    wn, wi = truth_side_frames(read_truth(spark, t))
    assert _table(nrel2) == _table(wn) and _table(idcg2) == _table(wi)
    assert _table(serve_quality_from_truth_store(spark, t, b)) == want_q


def test_theta_store_guard_survives_compaction(spark, tmp_path):
    """An EXTERNAL theta store compacted ALONE trips hist_not_ahead's
    id-set guard into the (exact) seed fallback; compacting the
    postings store too re-aligns the sets and the hist route engages
    again — conservative either way, never unsound."""
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_topk,
        write_batch_partials,
    )
    from oanda_stream_processor_spark.streaming.thetagate import (
        batch_impact_partial,
        hist_not_ahead,
        serve_bm25_topk_hist_theta,
    )

    d = _zipf(spark)
    b = str(tmp_path / "bm25")
    th = str(tmp_path / "theta")
    for i in range(3):
        part = d.where(F.col("doc_id") % 3 == i)
        write_batch_partials(part, b, i)
        (batch_impact_partial(part).write.mode("overwrite")
         .parquet(f"{th}/batch_id={i}"))
    want = _table(serve_bm25_topk(spark, b, plan="term", theta="seed"))
    assert hist_not_ahead(spark, b, th)
    assert compact_theta_store(spark, th)["folded"] == [0, 1]
    # theta folded {0,1}->0 but tf still has {0,1,2}: 0 ⊄... the set
    # {0,2} IS a subset of {0,1,2}, so the guard still passes here —
    # fold the POSTINGS side one step further to force a theta id the
    # postings store lacks
    assert _table(serve_bm25_topk_hist_theta(spark, b, th,
                                             plan="term")) == want
    compact_bm25_store(spark, b)          # tf ids {0, 2}
    (batch_impact_partial(d.where(F.col("doc_id") % 3 == 2))
     .write.mode("overwrite").parquet(f"{th}/batch_id=3"))
    # theta ids {0, 2, 3} vs tf {0, 2}: histogram ran ahead -> guard
    assert not hist_not_ahead(spark, b, th)
    assert _table(serve_bm25_topk_hist_theta(spark, b, th,
                                             plan="term")) == want
    shutil.rmtree(f"{th}/batch_id=3")
    assert hist_not_ahead(spark, b, th)
    assert _table(serve_bm25_topk_hist_theta(spark, b, th,
                                             plan="term")) == want


def test_compaction_recovery_heals_interrupted_swap(spark, tmp_path):
    """Crash protocol: a staged fold WITHOUT a marker is discarded
    (never committed); a marker + staged generation is replayed to
    completion by the next compact() call — reads after the heal
    equal the uncompacted answer."""
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_pool,
        write_batch_partials,
    )

    d = _zipf(spark)
    state = str(tmp_path / "bm25")
    for i in range(3):
        write_batch_partials(d.where(F.col("doc_id") % 3 == i),
                             state, i)
    want = _table(serve_bm25_pool(spark, state))
    dl_dir = os.path.join(state, "dl")
    # crash BEFORE commit: stage exists, no marker -> discarded
    stale = os.path.join(dl_dir, ".compact_tmp")
    (spark.read.parquet(f"{dl_dir}/batch_id=0")
     .write.mode("overwrite").parquet(stale))
    assert compact_bm25_store(spark, state)["folded"] == [0, 1]
    assert not os.path.isdir(stale)
    assert _table(serve_bm25_pool(spark, state)) == want
    # crash AFTER commit: marker present, swap not applied -> healed.
    # Rebuild that exact window by hand on the df layout: stage the
    # fold of {0, 2} (the surviving ids), write the marker, leave the
    # originals in place.
    df_dir = os.path.join(state, "df")
    ids = sorted(batch_ids(df_dir))
    staged = (spark.read.parquet(
        *[f"{df_dir}/batch_id={i}" for i in ids])
        .groupBy("term").agg(F.sum("df").alias("df")))
    staged.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(df_dir, ".compact_tmp"))
    with open(os.path.join(df_dir, ".compact_commit"), "w") as fh:
        json.dump({"folded": ids, "target": min(ids)}, fh)
    # the torn layout would double-count df if read with the stage
    # applied twice or the marker ignored — the heal must leave
    # exactly one generation holding the merged rows
    from oanda_stream_processor_spark.streaming.compact import _recover
    _recover(df_dir)
    assert not os.path.isfile(os.path.join(df_dir, ".compact_commit"))
    assert sorted(batch_ids(df_dir)) == [min(ids)]
    assert _table(serve_bm25_pool(spark, state)) == want


def test_compact_every_hook_e2e_bounds_files_and_preserves_reads(
        spark, tmp_path):
    """r18 (VERDICT r17 Next-round #3 + #8): a long-running
    availableNow ingest with ``compact_every`` folds its own store
    every K batches — the file count stays bounded without any
    operator calling compact_* by hand — and all four decision reads
    over the compacted, auto-detected co-located store equal the
    reads over an UNCOMPACTED, explicitly-threaded twin.  This is the
    one test where the compaction trigger and the <bm25>/truth
    co-location meet end to end."""
    from oanda_stream_processor_spark.streaming.bm25gate import (
        start_bm25_stream,
        write_batch_partials,
    )
    from oanda_stream_processor_spark.streaming.phrasegate import (
        write_batch_postings,
    )
    from oanda_stream_processor_spark.streaming.proxgate import (
        write_batch_token_postings,
    )
    from oanda_stream_processor_spark.streaming.rrfserve import (
        exact_cosine_pool,
        serve_fusion_quality_compare,
        serve_prf_quality_compare,
        serve_retrieval_quality,
        serve_quality_gated_fusion,
    )
    from oanda_stream_processor_spark.streaming.truthgate import (
        start_truth_stream,
        write_batch_truth_partials,
    )

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    batches = [d.where((F.col("doc_id") < N_QUERIES)
                       | ((F.col("doc_id") % 4 == 0)
                          & (F.col("doc_id") >= N_QUERIES)))] + [
        d.where((F.col("doc_id") >= N_QUERIES)
                & (F.col("doc_id") % 4 == i)) for i in (1, 2, 3)]

    # 4 json files -> 4 micro-batches under maxFilesPerTrigger=1
    src = tmp_path / "docs"
    src.mkdir()
    for i, part in enumerate(batches):
        part.coalesce(1).write.json(str(src / f"f{i}"))

    def stream():
        return (spark.readStream
                .schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", "1")
                .json(str(src / "*")))

    b = str(tmp_path / "bm25")
    # truth first (sequential streams: the single-writer rule, which
    # the writer locks enforce), then bm25 whose hook folds BOTH
    # stores every 2 batches
    q = start_truth_stream(stream(), os.path.join(b, "truth"),
                           str(tmp_path / "ckpt_t"))
    q.awaitTermination(180)
    q = start_bm25_stream(stream(), b, str(tmp_path / "ckpt_b"),
                          compact_every=2)
    q.awaitTermination(180)

    # the hook fired at batch 3 (ids {0,1,2,3} -> fold {0,1,2}):
    # batch-dir count is bounded by K+1, not O(batches)
    assert set(batch_ids(os.path.join(b, "tf"))) == {0, 3}
    assert set(batch_ids(os.path.join(b, "truth", "prox"))) == {0, 3}

    # uncompacted, explicitly-threaded twin (the pre-hook spelling)
    b2 = str(tmp_path / "bm25_plain")
    t2 = str(tmp_path / "truth_plain")
    x = str(tmp_path / "prox")
    h = str(tmp_path / "phrase")
    for i, part in enumerate(batches):
        write_batch_partials(part, b2, i)
        write_batch_truth_partials(part, t2, i)
        write_batch_token_postings(part, x, i)
        write_batch_postings(part, h, i)
    assert store_file_count(b) < store_file_count(b2) + \
        store_file_count(t2)

    cos = exact_cosine_pool(spark, SF_DIR)
    for got, want in [
        (serve_retrieval_quality(spark, b, x, h),
         serve_retrieval_quality(spark, b2, x, h, truth_state=t2)),
        (serve_prf_quality_compare(spark, b, x, h),
         serve_prf_quality_compare(spark, b2, x, h, truth_state=t2)),
        (serve_fusion_quality_compare(spark, b, x, h, cos),
         serve_fusion_quality_compare(spark, b2, x, h, cos,
                                      truth_state=t2)),
        (serve_quality_gated_fusion(spark, b, x, h, cos),
         serve_quality_gated_fusion(spark, b2, x, h, cos,
                                    truth_state=t2)),
    ]:
        assert _table(got) == _table(want)
