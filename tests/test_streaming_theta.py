"""Streaming θ gate (streaming/thetagate.py): the histogram-derived
pruning threshold must LOWER-bound the true per-query POOL-th best
score for any store state (conservative-side-only), actually engage
the essential split on a spread corpus, and leave the served read
row-for-row exact per append prefix — the r13 verdict's Next-round #4
contract ("θ is a rank statistic, not SUM-mergeable; the histogram
bound is the honest way around that")."""

from __future__ import annotations

from pyspark.sql import functions as F

from oanda_stream_processor_spark.io import load_table
from oanda_stream_processor_spark.operators.retrieval import (
    N_QUERIES,
    POOL,
    bm25_pool_from,
    corpus_term_frames,
    q175_bm25_topk,
    query_terms_from,
    term_upper_bounds,
)
from oanda_stream_processor_spark.streaming.bm25gate import (
    read_corpus_stats,
    read_term_df,
    write_batch_partials,
)
from oanda_stream_processor_spark.streaming.thetagate import (
    batch_impact_partial,
    read_impact_hist,
    serve_bm25_topk_hist_theta,
    start_theta_stream,
    theta_lower_bound,
)

SF_DIR = "/root/testdata/sf0.001"


def _table(df):
    return sorted(tuple(r) for r in df.collect())


def _zipf(spark, n=400):
    common = "the of and to in for a is on at"
    return spark.createDataFrame(
        [(i, f"{common} rare{i % 8}a rare{i % 8}b") for i in range(n)],
        "doc_id long, text string")


def _write_both(d, bm25_state, theta_state, n_batches=2):
    for i in range(n_batches):
        part = d.where(F.col("doc_id") % n_batches == i)
        write_batch_partials(part, bm25_state, i)
        (batch_impact_partial(part).write.mode("overwrite")
         .parquet(f"{theta_state}/batch_id={i}"))


def _true_theta(spark, d):
    """(query_id, POOL-th best true fp_sum) from the full pool."""
    tf, dfq, dl, stats = corpus_term_frames(d)
    pool = bm25_pool_from(tf, dfq, dl, stats, query_terms_from(tf))
    return {r.query_id: r.fp_sum for r in
            pool.where(F.col("rank") == POOL).collect()}


def test_theta_bound_is_conservative_and_engages(spark, tmp_path):
    """θ_lb ≤ the true achieved POOL-th score for every query that
    gets a θ row — on the fixture corpus AND a Zipfian corpus — and
    on the Zipfian corpus the bound is strong enough to prune at
    least one term from at least one query's essential split (the
    gate is not vacuous)."""
    for name, d in (("fixture",
                     load_table(spark, SF_DIR, "documents")),
                    ("zipf", _zipf(spark))):
        bm25_state = str(tmp_path / f"{name}_bm25")
        theta_state = str(tmp_path / f"{name}_theta")
        _write_both(d, bm25_state, theta_state)
        tf, _, _, _ = corpus_term_frames(d)
        qterms = query_terms_from(tf)
        dfq = read_term_df(spark, bm25_state)
        stats = read_corpus_stats(spark, bm25_state)
        theta = theta_lower_bound(
            read_impact_hist(spark, theta_state), dfq, stats, qterms)
        got = {r.query_id: r.theta for r in theta.collect()}
        want = _true_theta(spark, d)
        assert got, f"{name}: no θ row at all (bound vacuous)"
        for q, lb in got.items():
            assert lb <= want[q], (name, q, lb, want[q])
        if name == "zipf":
            from oanda_stream_processor_spark.operators.retrieval import (
                _essential_terms,
            )
            qub = term_upper_bounds(dfq, stats, qterms)
            ess = _essential_terms(qub, theta)
            n_all, n_ess = qub.count(), ess.count()
            assert n_ess < n_all, (n_ess, n_all)


def test_served_hist_theta_read_is_exact_per_prefix(spark, tmp_path):
    """The serving contract: after every prefix of a 2-batch append,
    the hist-θ pruned read equals the unpruned read row-for-row on
    both a Zipfian and the fixture corpus (exactness holds for ANY θ
    lower bound), the default gated read equals the forced branches,
    and the full-corpus read equals one-shot q175 on the fixture."""
    for name, d in (("zipf", _zipf(spark)),
                    ("fixture",
                     load_table(spark, SF_DIR, "documents"))):
        bm25_state = str(tmp_path / f"{name}_bm25")
        theta_state = str(tmp_path / f"{name}_theta")
        seen = None
        for i in range(2):
            part = d.where(F.col("doc_id") % 2 == i)
            write_batch_partials(part, bm25_state, i)
            (batch_impact_partial(part).write.mode("overwrite")
             .parquet(f"{theta_state}/batch_id={i}"))
            seen = part if seen is None else seen.unionByName(part)
            pruned = _table(serve_bm25_topk_hist_theta(
                spark, bm25_state, theta_state, plan="term"))
            unpruned = _table(serve_bm25_topk_hist_theta(
                spark, bm25_state, theta_state, plan="flat"))
            assert pruned == unpruned, (name, i)
        assert _table(serve_bm25_topk_hist_theta(
            spark, bm25_state, theta_state)) == pruned, name
    assert pruned == _table(q175_bm25_topk(spark, SF_DIR))


def test_theta_stream_e2e_and_replay(spark, tmp_path):
    """availableNow e2e for the histogram store, plus replay
    idempotence: re-overwriting one batch partial leaves the merged
    histogram unchanged."""
    d = _zipf(spark).select("doc_id", "text")
    src = tmp_path / "docs"
    src.mkdir()
    d.where("doc_id % 2 = 0").coalesce(1).write.json(str(src / "f1"))
    d.where("doc_id % 2 = 1").coalesce(1).write.json(str(src / "f2"))
    stream = (spark.readStream
              .schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", "1")
              .json(str(src / "*")))
    theta_state = str(tmp_path / "tstate")
    q = start_theta_stream(stream, theta_state, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert _table(read_impact_hist(spark, theta_state)) == \
        _table(batch_impact_partial(d))
    # replay idempotence on a manually-keyed store (stream batch->file
    # assignment is not contractual, so replay there is untestable)
    manual = str(tmp_path / "manual")
    for i in range(2):
        part = d.where(F.col("doc_id") % 2 == i)
        (batch_impact_partial(part).write.mode("overwrite")
         .parquet(f"{manual}/batch_id={i}"))
    (batch_impact_partial(d.where(F.col("doc_id") % 2 == 1))
     .write.mode("overwrite").parquet(f"{manual}/batch_id=1"))
    assert _table(read_impact_hist(spark, manual)) == \
        _table(batch_impact_partial(d))


def test_lockstep_impact_layout_and_default_fold(spark, tmp_path):
    """r15 (r14 verdict ask #3 + ADVICE): write_batch_partials now
    persists the impact histogram as its sixth partial, so (a) the
    hist-θ read needs no external store (theta_state=None reads
    <bm25_state>/impact — sound by construction, one writer) and
    (b) the DEFAULT gated read (bm25gate.serve_bm25_topk) routes its
    pruned branch through the histogram θ: hist ≡ seed ≡ unpruned
    per append prefix, 'hist' refuses a store without the layout,
    and 'auto' degrades to the seed pass on one."""
    import shutil

    import pytest

    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_topk,
    )

    d = _zipf(spark)
    state = str(tmp_path / "bm25")
    want = None
    for i in range(2):
        part = d.where(F.col("doc_id") % 2 == i)
        write_batch_partials(part, state, i)
        want = _table(serve_bm25_topk(spark, state, plan="flat"))
        assert _table(serve_bm25_topk_hist_theta(spark, state,
                                                 plan="term")) == want
        # hist θ ≡ seed θ on both pruned plans, blocked skip included
        for plan in ("term", "block"):
            for theta in ("hist", "seed"):
                assert _table(serve_bm25_topk(
                    spark, state, plan=plan, theta=theta)) == want, \
                    (plan, theta, i)
    # pre-r15 store shape: no impact/ layout -> 'auto' falls back to
    # the seed pass; 'hist' refuses loudly
    shutil.rmtree(f"{state}/impact")
    assert _table(serve_bm25_topk(spark, state, plan="term")) == want
    with pytest.raises(ValueError, match="impact"):
        serve_bm25_topk(spark, state, plan="term", theta="hist")


def test_theta_hist_on_flat_route_refuses_loudly(spark, tmp_path):
    """r17 ADVICE: a flat-routed read has no θ, so an EXPLICIT
    theta='hist' must raise on every served read instead of being
    silently ignored — the same loud contract as a missing impact/
    layout — while 'auto' and 'seed' route the flat plan silently
    and serve the full-pool rows."""
    import pytest

    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25_topk,
        serve_bm25f_blockmax_topk,
        serve_bm25f_topk,
        write_batch_field_partials,
    )

    d = _zipf(spark)
    b = str(tmp_path / "bm25")
    fstate = str(tmp_path / "field")
    write_batch_partials(d, b, 0)
    write_batch_field_partials(d, fstate, 0)
    want = _table(serve_bm25_topk(spark, b, plan="flat"))
    assert _table(serve_bm25_topk(spark, b, plan="flat",
                                  theta="seed")) == want
    with pytest.raises(ValueError, match="flat"):
        serve_bm25_topk(spark, b, plan="flat", theta="hist")
    wantf = _table(serve_bm25f_topk(spark, fstate))
    assert _table(serve_bm25f_blockmax_topk(
        spark, fstate, plan="flat", theta="auto")) == wantf
    assert _table(serve_bm25f_blockmax_topk(
        spark, fstate, plan="flat", theta="seed")) == wantf
    with pytest.raises(ValueError, match="flat"):
        serve_bm25f_blockmax_topk(spark, fstate, plan="flat",
                                  theta="hist")


def test_bm25f_theta_bound_is_conservative_and_engages(spark, tmp_path):
    """r16 (VERDICT r15 ask #2): the per-field histogram θ is a true
    lower bound of the achieved TOP_K-th BM25F score for every query
    that gets a θ row — on the fixture corpus AND the field-skewed
    corpus — and on the field-skewed corpus the bound engages the
    essential split (the fold is not vacuous).  The serving-read
    exactness itself is pinned in test_streaming_bm25 (hist ≡ seed ≡
    flat per append prefix)."""
    from oanda_stream_processor_spark.operators.retrieval import (
        TOP_K,
        _essential_terms,
        _pool_rank,
        bm25f_full_scores,
        bm25f_term_upper_bounds,
        bm25f_weighted_tf,
        corpus_field_frames,
    )
    from oanda_stream_processor_spark.streaming.bm25gate import (
        write_batch_field_partials,
    )
    from oanda_stream_processor_spark.streaming.thetagate import (
        bm25f_theta_lower_bound,
        read_field_impact_hist,
    )
    from tests.test_retrieval import _field_block_skewed_corpus

    for name, d in (("skew", _field_block_skewed_corpus(spark)),
                    ("fixture",
                     load_table(spark, SF_DIR, "documents")
                     .select("doc_id", "text"))):
        state = str(tmp_path / f"{name}_field")
        for i in range(2):
            write_batch_field_partials(
                d.where(F.col("doc_id") % 2 == i), state, i)
        tff, dlf, dfd, ndocs, avgf = corpus_field_frames(d)
        wtf = bm25f_weighted_tf(tff, dlf, avgf)
        qterms = (tff.where(F.col("cand_id") < N_QUERIES)
                  .select(F.col("cand_id").alias("query_id"), "term")
                  .distinct())
        cands = (wtf.select("cand_id", "term").join(qterms, "term")
                 .where(F.col("cand_id") != F.col("query_id"))
                 .select("query_id", "cand_id").distinct())
        pool = _pool_rank(
            bm25f_full_scores(cands, wtf, dfd, ndocs, qterms),
            [F.desc("fp_sum"), F.asc("cand_id")], TOP_K)
        true_k = {r.query_id: r.fp_sum
                  for r in pool.where(F.col("rank") == TOP_K).collect()}
        theta = bm25f_theta_lower_bound(
            read_field_impact_hist(spark, f"{state}/fimpact"),
            dfd, ndocs, avgf, qterms)
        got = {r.query_id: r.theta for r in theta.collect()}
        assert got, f"{name}: no θ row at all (bound vacuous)"
        for q, lb in got.items():
            assert lb <= true_k[q], (name, q, lb, true_k[q])
        if name == "skew":
            qub = bm25f_term_upper_bounds(dfd, ndocs, qterms)
            ess = _essential_terms(qub, theta)
            n_all, n_ess = qub.count(), ess.count()
            assert n_ess < n_all, (n_ess, n_all)


def test_external_hist_ahead_guard_falls_back_exact(spark, tmp_path):
    """The r14 ADVICE hazard, pinned: a separately-checkpointed
    histogram stream can run AHEAD of the postings store, and a θ
    priced from docs the store lacks is not a certified lower bound.
    Store = batch 0 only, histogram = batches 0+1: hist_not_ahead
    must refuse, and the read must fall back to the seed pass —
    still row-for-row equal to the one-shot pool on the batch-0
    corpus."""
    from oanda_stream_processor_spark.operators.retrieval import (
        FP,
        TOP_K,
    )
    from oanda_stream_processor_spark.streaming.thetagate import (
        hist_not_ahead,
    )

    d = _zipf(spark)
    b0 = d.where(F.col("doc_id") % 2 == 0)
    bm25_state = str(tmp_path / "bm25")
    theta_state = str(tmp_path / "theta")
    write_batch_partials(b0, bm25_state, 0)
    for i in range(2):
        part = d.where(F.col("doc_id") % 2 == i)
        (batch_impact_partial(part).write.mode("overwrite")
         .parquet(f"{theta_state}/batch_id={i}"))
    assert not hist_not_ahead(spark, bm25_state, theta_state)
    got = _table(serve_bm25_topk_hist_theta(spark, bm25_state,
                                            theta_state, plan="term"))
    tf, dfq, dl, stats = corpus_term_frames(b0)
    pool = bm25_pool_from(tf, dfq, dl, stats, query_terms_from(tf))
    want = _table(pool.where(F.col("rank") <= TOP_K)
                  .select("query_id", "cand_id",
                          (F.col("fp_sum") / F.lit(FP)).alias("score"),
                          "rank"))
    assert got == want
