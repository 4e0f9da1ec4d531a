"""Streaming BM25 stats gate (streaming/bm25gate.py): the global BM25
statistics (per-term df, n_docs, sum_dl) merged over an arbitrary
batching must equal the one-shot corpus frames EXACTLY (integer sums),
and BM25 pools scored from gate-merged stats must equal the one-shot
q175 pools row-for-row — the SUM-decomposition parity theorem."""

from __future__ import annotations

from pyspark.sql import functions as F

from oanda_stream_processor_spark.io import load_table
from oanda_stream_processor_spark.operators.retrieval import (
    N_QUERIES,
    bm25_pool_from,
    corpus_term_frames,
    q175_bm25_topk,
)
from oanda_stream_processor_spark.streaming.bm25gate import (
    batch_corpus_partial,
    batch_df_partial,
    read_corpus_stats,
    read_term_df,
    serve_bm25_pool,
    serve_bm25_topk,
    start_bm25_stream,
    write_batch_partials,
)

SF_DIR = "/root/testdata/sf0.001"


def _table(df):
    return sorted(tuple(r) for r in df.collect())


def _write_partials(d, state, batches):
    for i, cond in enumerate(batches):
        part = d.where(cond)
        (batch_df_partial(part).write.mode("overwrite")
         .parquet(f"{state}/df/batch_id={i}"))
        (batch_corpus_partial(part).write.mode("overwrite")
         .parquet(f"{state}/corpus/batch_id={i}"))


def test_merged_stats_equal_one_shot(spark, tmp_path):
    d = load_table(spark, SF_DIR, "documents")
    state = str(tmp_path / "state")
    _write_partials(d, state, [F.col("doc_id") % 3 == i for i in range(3)])

    _, dfq, _, stats = corpus_term_frames(d)
    assert _table(read_term_df(spark, state)) == _table(dfq)
    assert _table(read_corpus_stats(spark, state)) == _table(stats)

    # idempotent replay: re-overwriting one batch partition is a no-op
    part = d.where(F.col("doc_id") % 3 == 1)
    (batch_df_partial(part).write.mode("overwrite")
     .parquet(f"{state}/df/batch_id=1"))
    assert _table(read_term_df(spark, state)) == _table(dfq)


def test_gate_fed_pool_equals_q175(spark, tmp_path):
    d = load_table(spark, SF_DIR, "documents")
    state = str(tmp_path / "state")
    _write_partials(d, state, [F.col("doc_id") % 4 == i for i in range(4)])

    tf, _, dl, _ = corpus_term_frames(d)   # per-doc LOCAL side
    qterms = (tf.where(F.col("cand_id") < N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term"))
    pool = bm25_pool_from(tf, read_term_df(spark, state), dl,
                          read_corpus_stats(spark, state), qterms)
    gate_top = pool.where(F.col("rank") <= 10).select(
        "query_id", "cand_id",
        (F.col("fp_sum") / F.lit(1_000_000.0)).alias("score"), "rank")
    assert _table(gate_top) == _table(q175_bm25_topk(spark, SF_DIR))


def test_stream_end_to_end(spark, tmp_path):
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = tmp_path / "docs"
    src.mkdir()
    d.where("doc_id % 2 = 0").coalesce(1).write.json(str(src / "f1"))
    d.where("doc_id % 2 = 1").coalesce(1).write.json(str(src / "f2"))
    stream = (spark.readStream
              .schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", "1")
              .json(str(src / "*")))

    state = str(tmp_path / "state")
    q = start_bm25_stream(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    _, dfq, _, stats = corpus_term_frames(d)
    assert _table(read_term_df(spark, state)) == _table(dfq)
    assert _table(read_corpus_stats(spark, state)) == _table(stats)


def _one_shot_pool_on(spark, d):
    """q175's pool computed directly on an arbitrary corpus frame."""
    from oanda_stream_processor_spark.operators.retrieval import (
        bm25_pool_from as pool_from,
    )
    tf, dfq, dl, stats = corpus_term_frames(d)
    qterms = (tf.where(F.col("cand_id") < N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term"))
    return pool_from(tf, dfq, dl, stats, qterms)


def test_served_pool_tracks_doc_appending_batches(spark, tmp_path):
    """The r10 verdict's serving-half contract: after EVERY prefix of a
    >=2-batch document append sequence, the pool served purely from the
    persisted tf/dl/df/corpus stores equals the one-shot pool computed
    on the corpus ingested so far — row-for-row, fp-for-fp."""
    d = load_table(spark, SF_DIR, "documents")
    state = str(tmp_path / "state")
    batches = [F.col("doc_id") % 3 == i for i in range(3)]
    seen = None
    for i, cond in enumerate(batches):
        part = d.where(cond)
        write_batch_partials(part, state, i)
        seen = part if seen is None else seen.unionByName(part)
        served = serve_bm25_pool(spark, state)
        assert _table(served) == _table(_one_shot_pool_on(spark, seen)), \
            f"served pool diverged after batch {i}"


def test_served_topk_equals_q175_and_replay_is_idempotent(spark, tmp_path):
    d = load_table(spark, SF_DIR, "documents")
    state = str(tmp_path / "state")
    for i in range(4):
        write_batch_partials(d.where(F.col("doc_id") % 4 == i), state, i)
    assert _table(serve_bm25_topk(spark, state)) == \
        _table(q175_bm25_topk(spark, SF_DIR))
    # replaying one batch overwrites its own partitions: still equal
    write_batch_partials(d.where(F.col("doc_id") % 4 == 2), state, 2)
    assert _table(serve_bm25_topk(spark, state)) == \
        _table(q175_bm25_topk(spark, SF_DIR))


def test_stream_end_to_end_serves_topk(spark, tmp_path):
    """availableNow e2e over the FULL gate: stream batches in, then
    serve q175's answer from state alone."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = tmp_path / "docs"
    src.mkdir()
    d.where("doc_id % 2 = 0").coalesce(1).write.json(str(src / "f1"))
    d.where("doc_id % 2 = 1").coalesce(1).write.json(str(src / "f2"))
    stream = (spark.readStream
              .schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", "1")
              .json(str(src / "*")))
    state = str(tmp_path / "state")
    q = start_bm25_stream(stream, state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert _table(serve_bm25_topk(spark, state)) == \
        _table(q175_bm25_topk(spark, SF_DIR))


def test_bm25f_store_survives_shifted_field_lengths(spark, tmp_path):
    """The adversarial case behind the gate's scale note: per-field tf
    must persist PRE-saturation and avgdl_f must re-derive from the
    merged per-field sums, because the k1-saturation spans fields.
    Construction: batch 0 is all SHORT docs (almost everything lands
    in 'title', body avgdl ~ 1), batch 1 is all LONG docs (body avgdl
    ~ 55) — the per-field length distributions shift ~50x between
    prefixes.  A store caching pre-saturated partials or a stale
    avgdl_f would serve batch-0-flavored scores after the merge; the
    raw-store + read-time-saturation design must stay row-for-row
    equal to the one-shot on every prefix."""
    from oanda_stream_processor_spark.operators.retrieval import (
        bm25f_topk_from,
        corpus_field_frames,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25f_topk,
        write_batch_field_partials,
    )

    def one_shot_on(d):
        tff, dlf, dfd, ndocs, avgf = corpus_field_frames(d)
        qterms = (tff.where(F.col("cand_id") < N_QUERIES)
                  .select(F.col("cand_id").alias("query_id"), "term")
                  .distinct())
        return bm25f_topk_from(tff, dlf, dfd, ndocs, avgf, qterms)

    short = [(i, " ".join(f"w{(i + j) % 7}" for j in range(6)))
             for i in range(0, 30)]
    long_ = [(i, " ".join(f"w{(i + j) % 23}" for j in range(60)))
             for i in range(30, 60)]
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(short, schema)
    b1 = spark.createDataFrame(long_, schema)

    state = str(tmp_path / "shift_state")
    write_batch_field_partials(b0, state, 0)
    assert _table(serve_bm25f_topk(spark, state)) == \
        _table(one_shot_on(b0))
    write_batch_field_partials(b1, state, 1)
    merged = _table(serve_bm25f_topk(spark, state))
    assert merged == _table(one_shot_on(b0.unionByName(b1)))
    # and the shift genuinely changed the answer (the test would be
    # vacuous if batch 1 didn't move any query's ranking)
    assert merged != _table(one_shot_on(b0))


def test_bm25f_served_tracks_appends_and_stream(spark, tmp_path):
    """The BM25F field store (the gate note's 'deferred half', now
    implemented): after every prefix of a 3-batch append the served
    top-k equals one-shot q177 on the corpus so far, and an
    availableNow stream over the full corpus serves q177's answer."""
    from oanda_stream_processor_spark.operators.retrieval import (
        bm25f_topk_from,
        corpus_field_frames,
        q177_bm25f_topk,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25f_topk,
        start_bm25f_stream,
        write_batch_field_partials,
    )

    def one_shot_on(d):
        tff, dlf, dfd, ndocs, avgf = corpus_field_frames(d)
        qterms = (tff.where(F.col("cand_id") < N_QUERIES)
                  .select(F.col("cand_id").alias("query_id"), "term")
                  .distinct())
        return bm25f_topk_from(tff, dlf, dfd, ndocs, avgf, qterms)

    d = load_table(spark, SF_DIR, "documents")
    state = str(tmp_path / "fstate")
    seen = None
    for i in range(3):
        part = d.where(F.col("doc_id") % 3 == i)
        write_batch_field_partials(part, state, i)
        seen = part if seen is None else seen.unionByName(part)
        assert _table(serve_bm25f_topk(spark, state)) == \
            _table(one_shot_on(seen)), f"diverged after batch {i}"
    assert _table(serve_bm25f_topk(spark, state)) == \
        _table(q177_bm25f_topk(spark, SF_DIR))

    # availableNow e2e
    src = tmp_path / "fdocs"
    src.mkdir()
    dd = d.select("doc_id", "text")
    dd.where("doc_id % 2 = 0").coalesce(1).write.json(str(src / "f1"))
    dd.where("doc_id % 2 = 1").coalesce(1).write.json(str(src / "f2"))
    stream = (spark.readStream
              .schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", "1")
              .json(str(src / "*")))
    state2 = str(tmp_path / "fstate2")
    q = start_bm25f_stream(stream, state2, str(tmp_path / "fckpt"))
    q.awaitTermination(120)
    assert _table(serve_bm25f_topk(spark, state2)) == \
        _table(q177_bm25f_topk(spark, SF_DIR))


def test_served_maxscore_gate_and_prune(spark, tmp_path):
    """r12 verdict ask #6: serve_bm25_topk routes through the MaxScore
    plan gate.  On both a FLAT and a Zipfian STORED corpus the pruned
    read equals the flat read row-for-row (exactness is
    plan-independent), the stored-postings gate routes each corpus
    exactly like the one-shot text gate, and the default gated read
    equals the forced routes."""
    from oanda_stream_processor_spark.operators.retrieval import (
        maxscore_gate_plan,
        maxscore_gate_plan_from_postings,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        read_dl,
        read_tf,
    )

    common = "the of and to in for a is on at"
    flat = spark.createDataFrame(
        [(i, common) for i in range(400)], "doc_id long, text string")
    zipf = spark.createDataFrame(
        [(i, f"{common} rare{i % 25}a rare{i % 25}b")
         for i in range(400)], "doc_id long, text string")
    for name, d, want in (("flat", flat, "flat"), ("zipf", zipf, "block")):
        state = str(tmp_path / name)
        write_batch_partials(d.where(F.col("doc_id") % 2 == 0), state, 0)
        write_batch_partials(d.where(F.col("doc_id") % 2 == 1), state, 1)
        assert maxscore_gate_plan_from_postings(
            read_tf(spark, state), read_dl(spark, state)) == want, name
        assert maxscore_gate_plan(d) == want, name  # same routing
        pruned = _table(serve_bm25_topk(spark, state, plan="term"))
        unpruned = _table(serve_bm25_topk(spark, state, plan="flat"))
        assert pruned == unpruned, name
        assert _table(serve_bm25_topk(spark, state)) == unpruned, name

    # empty-doc corpus (r13 ADVICE): the text gate derives its
    # adaptive MOD from ALL documents (a metadata count) while the
    # postings gate can only count docs carrying >= 1 token, so with
    # empty-text docs the two sides may pick different MODs, sample
    # different doc sets, and ROUTE differently — the ACCEPTED
    # divergence (_plan_decision itself excludes empties from the
    # statistic on both sides, so only the MOD-induced sample shift
    # can split them).  What must hold regardless of routing — and
    # what this pins — is that BOTH branches stay exact.  4800 docs
    # with a third empty puts the two counts on opposite sides of a
    # MOD boundary (4800 // 2048 = 2 vs 3200 // 2048 = 1), the exact
    # condition under which the divergence can manifest.
    mixed = spark.createDataFrame(
        [(i, "" if i % 3 == 2
          else f"{common} rare{i % 25}a rare{i % 25}b")
         for i in range(4800)], "doc_id long, text string")
    state = str(tmp_path / "mixed")
    write_batch_partials(mixed.where(F.col("doc_id") % 2 == 0), state, 0)
    write_batch_partials(mixed.where(F.col("doc_id") % 2 == 1), state, 1)
    g_store = maxscore_gate_plan_from_postings(
        read_tf(spark, state), read_dl(spark, state))
    g_text = maxscore_gate_plan(mixed)
    assert g_store == g_text == "block"
    pruned = _table(serve_bm25_topk(spark, state, plan="term"))
    unpruned = _table(serve_bm25_topk(spark, state, plan="flat"))
    assert pruned == unpruned, "empty-doc corpus: branches diverged"


def _block_skewed(spark):
    from tests.test_retrieval import _block_skewed_corpus
    return _block_skewed_corpus(spark)


def test_block_store_merges_and_serves_blockmax(spark, tmp_path):
    """r14 (r13 verdict ask #1, serving half): the per-batch blocked-
    layout partials MAX/MIN-merge to the one-shot block stats even
    when every block's docs span batches (docs split by parity, so
    all 8 blocks straddle both), the block-max read served from the
    PERSISTED blocked store equals the unpruned served read and the
    one-shot per append prefix, replay is idempotent, and the stored-
    postings plan gate routes like the one-shot text gate."""
    from oanda_stream_processor_spark.operators.retrieval import (
        block_stats_from,
        maxscore_gate_plan,
        maxscore_gate_plan_from_postings,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        read_block_stats,
        read_dl,
        read_tf,
    )

    d = _block_skewed(spark)
    state = str(tmp_path / "blkstate")
    seen = None
    for i in range(2):
        part = d.where(F.col("doc_id") % 2 == i)
        write_batch_partials(part, state, i)
        seen = part if seen is None else seen.unionByName(part)
        # merged blocked layout == one-shot block stats on docs-so-far
        tf, _, dl, _ = corpus_term_frames(seen)
        assert _table(read_block_stats(spark, state)) == \
            _table(block_stats_from(tf, dl)), f"blk merge, batch {i}"
        # served block-max == served unpruned == one-shot, every prefix
        blk_served = _table(serve_bm25_topk(spark, state, plan="block"))
        assert blk_served == _table(serve_bm25_topk(spark, state,
                                                    plan="flat")), \
            f"served blockmax diverged after batch {i}"
        assert blk_served == _table(
            _one_shot_pool_on(spark, seen).where(F.col("rank") <= 10)
            .select("query_id", "cand_id",
                    (F.col("fp_sum") / F.lit(1_000_000.0)).alias("score"),
                    "rank"))
    # replay idempotence: overwriting one batch's blk partition is a no-op
    write_batch_partials(d.where(F.col("doc_id") % 2 == 0), state, 0)
    tf, _, dl, _ = corpus_term_frames(d)
    assert _table(read_block_stats(spark, state)) == \
        _table(block_stats_from(tf, dl))
    # stored-postings plan gate routes like the one-shot text gate,
    # and the default gated read equals every forced branch
    plan = maxscore_gate_plan_from_postings(read_tf(spark, state),
                                            read_dl(spark, state))
    assert plan == maxscore_gate_plan(d) == "block"
    want = _table(serve_bm25_topk(spark, state, plan="block"))
    assert _table(serve_bm25_topk(spark, state)) == want
    assert _table(serve_bm25_topk(spark, state,
                                           plan="term")) == want
    assert _table(serve_bm25_topk(spark, state,
                                           plan="flat")) == want


def test_served_blockmax_on_fixture_routes_and_matches(spark, tmp_path):
    """Fixture corpus through the stored three-way gate: route must
    match the one-shot text gate and the served read must equal
    one-shot q175 (= q189, the exactness theorem) regardless of
    branch."""
    from oanda_stream_processor_spark.operators.retrieval import (
        maxscore_gate_plan,
        maxscore_gate_plan_from_postings,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        read_dl,
        read_tf,
    )

    d = load_table(spark, SF_DIR, "documents")
    state = str(tmp_path / "fixstate")
    for i in range(3):
        write_batch_partials(d.where(F.col("doc_id") % 3 == i), state, i)
    assert maxscore_gate_plan_from_postings(
        read_tf(spark, state), read_dl(spark, state)) == \
        maxscore_gate_plan(d)
    assert _table(serve_bm25_topk(spark, state)) == \
        _table(q175_bm25_topk(spark, SF_DIR))


def test_served_prf_equals_q187(spark, tmp_path):
    """r13: the served PRF read (shared prf_expanded_pool core over
    the incremental store) equals one-shot q187 per append prefix and
    verbatim at full corpus."""
    from oanda_stream_processor_spark.operators.retrieval import (
        TOP_K,
        prf_expanded_pool,
        q187_prf_expanded_bm25,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_prf_expanded_bm25,
    )

    def one_shot_on(seen):
        tf, dfq, dl, stats = corpus_term_frames(seen)
        tf = tf.localCheckpoint(eager=True)
        qterms = (tf.where(F.col("cand_id") < N_QUERIES)
                  .select(F.col("cand_id").alias("query_id"), "term"))
        pool2 = prf_expanded_pool(tf, dfq, dl, stats, qterms)
        return (pool2.where(F.col("rank") <= TOP_K)
                .select("query_id", "cand_id",
                        (F.col("fp_sum") / F.lit(1_000_000.0))
                        .alias("score"), "rank"))

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    state = str(tmp_path / "state")
    seen = None
    for i in range(2):
        part = d.where(F.col("doc_id") % 2 == i)
        write_batch_partials(part, state, i)
        seen = part if seen is None else seen.unionByName(part)
        got = serve_prf_expanded_bm25(spark, state)
        assert _table(got) == _table(one_shot_on(seen)), \
            f"diverged after batch {i}"
    assert _table(serve_prf_expanded_bm25(spark, state)) == \
        _table(q187_prf_expanded_bm25(spark, SF_DIR))
    # r14: every forced plan route is exact on the stored fixture
    want = _table(q187_prf_expanded_bm25(spark, SF_DIR))
    for plan in ("flat", "term", "block"):
        assert _table(serve_prf_expanded_bm25(spark, state,
                                              plan=plan)) == want, plan


def test_served_prf_block_route_on_skewed_store(spark, tmp_path):
    """r14 roadmap item (block-max inside the served PRF passes): on
    the block-skewed stored corpus — where the gate routes 'block' —
    all three forced PRF routes agree (the pruning machinery is
    query-set agnostic, so exactness holds for the expanded pass-2
    term set), and the default gated read equals them."""
    from oanda_stream_processor_spark.operators.retrieval import (
        maxscore_gate_plan_from_postings,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        read_dl,
        read_tf,
        serve_prf_expanded_bm25,
    )

    d = _block_skewed(spark)
    state = str(tmp_path / "prfblk")
    for i in range(2):
        write_batch_partials(d.where(F.col("doc_id") % 2 == i), state, i)
    assert maxscore_gate_plan_from_postings(
        read_tf(spark, state), read_dl(spark, state)) == "block"
    want = _table(serve_prf_expanded_bm25(spark, state, plan="flat"))
    assert len(want) > 0
    for plan in ("term", "block"):
        assert _table(serve_prf_expanded_bm25(spark, state,
                                              plan=plan)) == want, plan
    assert _table(serve_prf_expanded_bm25(spark, state)) == want


def test_block_and_prf_reads_survive_store_without_blk(spark, tmp_path):
    """r14 ADVICE: stores written before the blocked partial landed
    carry no blk/ directory — the block-plan reads must fall back to
    deriving block stats from tf ⋈ dl (blockmax_candidates' blk=None
    path) instead of throwing AnalysisException on the missing
    path.  Rows are identical either way (the blocked layout is an
    optimization input, not a semantic one)."""
    import shutil

    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_prf_expanded_bm25,
    )

    d = load_table(spark, SF_DIR, "documents")
    state = str(tmp_path / "state")
    write_batch_partials(d, state, 0)
    want_blk = _table(serve_bm25_topk(spark, state,
                                               plan="block"))
    want_prf = _table(serve_prf_expanded_bm25(spark, state,
                                              plan="block"))
    shutil.rmtree(f"{state}/blk")
    assert _table(serve_bm25_topk(spark, state,
                                           plan="block")) == want_blk
    assert _table(serve_prf_expanded_bm25(spark, state,
                                          plan="block")) == want_prf


def test_served_bm25f_blockmax_tracks_appends(spark, tmp_path):
    """r15 (q194's serving half): the per-batch PER-FIELD blocked
    partials MAX/MIN-merge to the one-shot field block stats even
    when every block's docs span batches, and the BM25F block-max
    read served from the persisted field store equals the flat served
    read and the one-shot q177-on-seen per append prefix — through
    every forced plan.  Pre-r15 stores (no fblk/) derive the layout
    from tff ⋈ dlf instead of throwing."""
    import shutil

    from oanda_stream_processor_spark.operators.retrieval import (
        bm25f_topk_from,
        corpus_field_frames,
        field_block_stats_from,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        read_field_block_stats,
        serve_bm25f_blockmax_topk,
        serve_bm25f_topk,
        write_batch_field_partials,
    )

    def one_shot_on(seen):
        tff, dlf, dfd, ndocs, avgf = corpus_field_frames(seen)
        qterms = (tff.where(F.col("cand_id") < N_QUERIES)
                  .select(F.col("cand_id").alias("query_id"), "term")
                  .distinct())
        return bm25f_topk_from(tff, dlf, dfd, ndocs, avgf, qterms)

    from tests.test_retrieval import _field_block_skewed_corpus
    d = _field_block_skewed_corpus(spark)
    state = str(tmp_path / "fblkstate")
    seen = None
    for i in range(2):
        part = d.where(F.col("doc_id") % 2 == i)
        write_batch_field_partials(part, state, i)
        seen = part if seen is None else seen.unionByName(part)
        tff, dlf, _, _, _ = corpus_field_frames(seen)
        assert _table(read_field_block_stats(spark, state)) == \
            _table(field_block_stats_from(tff, dlf)), \
            f"fblk merge, batch {i}"
        want = _table(serve_bm25f_topk(spark, state))
        for plan in ("flat", "term", "block"):
            assert _table(serve_bm25f_blockmax_topk(
                spark, state, plan=plan)) == want, (plan, i)
        # r16: the θ fold's field half — the persisted per-field
        # impact histogram replaces the seed-scoring pass on both
        # pruned plans, hist ≡ seed per prefix
        for plan in ("term", "block"):
            assert _table(serve_bm25f_blockmax_topk(
                spark, state, plan=plan, theta="hist")) == want, \
                (plan, i, "hist")
            assert _table(serve_bm25f_blockmax_topk(
                spark, state, plan=plan, theta="seed")) == want, \
                (plan, i, "seed")
        assert want == _table(one_shot_on(seen)), f"one-shot, batch {i}"
    # default gated read routes and stays exact
    assert _table(serve_bm25f_blockmax_topk(spark, state)) == want
    # pre-r16 store shape: no fimpact/ layout -> 'auto' falls back to
    # the seed pass; 'hist' refuses loudly
    import pytest
    shutil.rmtree(f"{state}/fimpact")
    assert _table(serve_bm25f_blockmax_topk(spark, state,
                                            plan="block")) == want
    with pytest.raises(ValueError, match="fimpact"):
        serve_bm25f_blockmax_topk(spark, state, plan="block",
                                  theta="hist")
    # store without the fblk/ layout: block plan derives from tff ⋈ dlf
    shutil.rmtree(f"{state}/fblk")
    assert _table(serve_bm25f_blockmax_topk(spark, state, plan="block",
                                            theta="seed")) == want
