"""BM25 top-k + RRF fusion: structural invariants at sf0.001 plus a
full DuckDB-twin equality check (the same compare the oracle gate
runs, inlined so a regression fails fast in pytest)."""

from __future__ import annotations

import duckdb
import math
import pytest

from pyspark.sql import functions as F

from oanda_stream_processor_spark import memo
from oanda_stream_processor_spark.operators import retrieval as R

SF = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v)) + ".0"
        return repr(v)
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


def _twin(spark, duck, name):
    sdf = R.QUERIES[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(R.ORACLES[name])
    orows = res.fetchall()
    ocols = [d[0] for d in res.description]
    assert sorted(sdf.columns) == sorted(ocols)
    assert _canon(srows, sdf.columns) == _canon(orows, ocols)
    return srows, sdf.columns


def test_bm25_twin_and_invariants(spark, duck):
    rows, cols = _twin(spark, duck, "q175_bm25_topk")
    i = {c: j for j, c in enumerate(cols)}
    by_q: dict = {}
    for r in rows:
        assert r[i["cand_id"]] != r[i["query_id"]], "self-match leaked"
        by_q.setdefault(r[i["query_id"]], []).append(
            (r[i["rank"]], r[i["score"]], r[i["cand_id"]]))
    assert sorted(by_q) == list(range(R.N_QUERIES))
    for q, lst in by_q.items():
        lst.sort()
        assert [t[0] for t in lst] == list(range(1, R.TOP_K + 1))
        scores = [t[1] for t in lst]
        assert scores == sorted(scores, reverse=True), f"q{q} not sorted"
        assert all(s > 0 for s in scores)


def test_rrf_twin_and_consistency(spark, duck):
    rows, cols = _twin(spark, duck, "q176_rrf_fusion")
    i = {c: j for j, c in enumerate(cols)}
    seen_both = 0
    for r in rows:
        rb, rc = r[i["rank_b"]], r[i["rank_c"]]
        assert rb is not None or rc is not None
        expect = ((1.0 / (R.RRF_K + rb) if rb is not None else 0.0)
                  + (1.0 / (R.RRF_K + rc) if rc is not None else 0.0))
        assert r[i["rrf"]] == pytest.approx(expect, abs=0, rel=0), \
            "rrf must be bit-exact re-derivable from the ranks"
        if rb is not None and rc is not None:
            seen_both += 1
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r[i["query_id"]], []).append(r[i["fused_rank"]])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, R.TOP_K + 1))
    # the two rankers overlap on at least one pair somewhere in the
    # fixture — otherwise the fusion degenerates to interleaving
    assert seen_both > 0


def test_pool_rank_gap_free(spark):
    """The salted two-stage top-k yields dense ranks 1..POOL per query
    (a stage-1 bucket dropping a global survivor would leave a gap)."""
    pool = R._bm25_pool(spark, SF)
    rows = [(r.query_id, r.rank) for r in
            pool.select("query_id", "rank").collect()]
    by_q: dict = {}
    for q, rank in rows:
        by_q.setdefault(q, []).append(rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, R.POOL + 1)), f"query {q}"


def test_pool_rank_equals_global_window(spark):
    """The salted two-stage top-k must equal a plain single-window
    global rank on arbitrary data — including heavy score ties (the
    id tiebreak) and queries with fewer than POOL candidates."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rng = random.Random(20260815)
    rows = [(q, c, rng.choice([1.0, 2.0, 3.0, rng.random()]))
            for q in range(7)
            for c in rng.sample(range(1000), rng.choice([5, 40, 300]))]
    df = spark.createDataFrame(rows, "query_id int, cand_id int, s double")

    pooled = R._pool_rank(df, [F.desc("s"), F.asc("cand_id")], R.POOL)
    w = W.partitionBy("query_id").orderBy(F.desc("s"), F.asc("cand_id"))
    plain = (df.withColumn("rank", F.row_number().over(w))
             .where(F.col("rank") <= R.POOL))
    got = sorted(tuple(r) for r in
                 pooled.select("query_id", "cand_id", "rank").collect())
    want = sorted(tuple(r) for r in
                  plain.select("query_id", "cand_id", "rank").collect())
    assert got == want and len(want) > 0


def test_maxscore_pruned_topk_equals_q175(spark):
    """q178's pruning-soundness contract: the MaxScore-pruned plan and
    the full q175 plan are row-for-row identical — scores, ranks,
    everything — at both the top-k and the candidate-scoring level."""
    import oanda_stream_processor_spark.operators.retrieval as R

    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in
                 R.q178_bm25_maxscore_topk(spark, sf).collect())
    want = sorted(tuple(r) for r in R.q175_bm25_topk(spark, sf).collect())
    assert got == want and len(want) > 0


def test_maxscore_actually_prunes(spark):
    """The pruned candidate set must be strictly smaller than q175's
    full scored set (otherwise q178 is a no-op demo), while the pooled
    result stays exact (previous test)."""
    from pyspark.sql import functions as F

    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.io import load_table

    sf = "/root/testdata/sf0.01"
    d = load_table(spark, sf, "documents")
    tf, dfq, dl, stats = R.corpus_term_frames(d)
    tf = tf.localCheckpoint(eager=True)
    qterms = (tf.where(F.col("cand_id") < R.N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term"))
    full = (tf.join(qterms, "term")
            .where(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id").distinct().count())
    cands, _ = R.maxscore_candidates(tf, dfq, dl, stats, qterms)
    pruned = cands.count()
    assert 0 < pruned < full, (pruned, full)


def test_maxscore_spread_gate_routing(spark):
    """The r12 statistic (the plan gate's spread step): a flat-UB
    corpus (every term's df equal, so every UB equal) must route
    'flat' — q178 degrades to q175's direct plan — while a Zipfian
    corpus with rare terms must route past 'flat' (the
    seed/θ/essential machinery engages).
    Routing is a function of SAMPLED per-query df proportions — a rare
    term (p <= MS_RARE_P, sample-absent counts as 0) AND a common term
    (p >= MS_COMMON_P) must coexist, which implies the 2x UB spread
    the seed rule needs while staying stable under sampling noise.  (The sf0.1 fixture measures 1.11x max spread — flat,
    the degrade branch, the r11 perf fix; sf0.001/sf0.01 carry a few
    rare terms and spread up to ~16x, exercising the pruning branch in
    the oracle sweep.)"""
    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.io import load_table

    common = "the of and to in for a is on at"
    flat = spark.createDataFrame(
        [(i, common) for i in range(1000)], "doc_id long, text string")
    assert R.maxscore_gate_plan(flat) == "flat"
    rows = [(i, f"{common} rare{i % 25}a rare{i % 25}b {common}")
            for i in range(1000)]
    zipf = spark.createDataFrame(rows, "doc_id long, text string")
    assert R.maxscore_gate_plan(zipf) == "block"
    # the shipped sf0.1 fixture is the flat case the r11 verdict measured
    assert R.maxscore_gate_plan(
        load_table(spark, "/root/testdata/sf0.1", "documents")) == "flat"
    # degenerate corpora: empty routes to the (vacuous) degrade branch;
    # corpora under MS_SAMPLE_TARGET docs sample FULLY (mod = 1, the
    # r12 ADVICE fix), so the 2-doc statistic is EXACT: every query
    # term sits at p ∈ {0.5, 1} — no rare term, degrade branch.  (The
    # old fixed 64-floor sampled one doc and misread "d" as
    # absent-rare; either branch is exact, but the exact statistic is
    # the right routing.)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert R.maxscore_gate_plan(empty) == "flat"
    tiny = spark.createDataFrame([(0, "a b c"), (1, "a b d")],
                                 "doc_id long, text string")
    assert R.maxscore_gate_plan(tiny) == "flat"
    # absent-counts-as-rare still fires when the corpus is big enough
    # to sample (mod = 2 at 2·MS_SAMPLE_TARGET docs): a marker term
    # living only on ODD doc_ids never enters the even-doc sample, so
    # a query carrying it reads rare while the fillers read common
    n = 2 * R.MS_SAMPLE_TARGET
    rows = [(i, common + (" zzzmarker" if i % 2 == 1 else ""))
            for i in range(n)]
    oddmark = spark.createDataFrame(rows, "doc_id long, text string")
    assert R.maxscore_gate_plan(oddmark) == "block"


def test_gate_memo_skips_repeat_probes(spark, monkeypatch):
    """r17 (VERDICT r16 Next-round #1): the plan-gate route is a
    corpus property — a repeat gate call over the same parquet files
    must hit the memo and run ZERO Spark jobs; memo.bypass("retrieval")
    recomputes (the true-cost bench convention); in-memory fixtures
    are never memoized (no file fingerprint); a fresh recompute with
    the memo cleared returns the identical route; and the four gated
    queries share ONE probe per corpus: once q178 has built, the gate
    calls of q183, q189 and q194 run no Spark job and the memo holds a
    single gate key for the corpus."""
    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    R._RETRIEVAL.clear()
    sc.setJobGroup("gate_memo", "gate memo probe sweep")
    try:
        first = R.maxscore_gate_plan(d)
        before = len(tracker.getJobIdsForGroup("gate_memo"))
        assert R.maxscore_gate_plan(d) == first
        after = len(tracker.getJobIdsForGroup("gate_memo"))
        assert after == before, "memoized gate ran Spark jobs"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert first == "term"
    # memo-off bypass recomputes and agrees
    with memo.bypass("retrieval"):
        assert R._gate_memo_key("plan", d) is None
        assert R.maxscore_gate_plan(d) == first
    # in-memory fixtures carry no input files -> never memoized
    fx = spark.createDataFrame([(0, "a b"), (1, "a c")],
                               "doc_id long, text string")
    n0 = len(R._RETRIEVAL.keys())
    R.maxscore_gate_plan(fx)
    assert len(R._RETRIEVAL.keys()) == n0
    # cleared memo recomputes to the identical route
    R._RETRIEVAL.clear()
    assert R.maxscore_gate_plan(d) == first

    # one probe per corpus across the family: q178 warms the gate, the
    # other three queries' gate calls are memo hits (no Spark job)
    R._RETRIEVAL.clear()
    R.q178_bm25_maxscore_topk(spark, sf)
    gate, jobs = R.maxscore_gate_plan, []

    def counted(frame):
        sc.setJobGroup("gate_share", "gate calls after q178")
        n = len(tracker.getJobIdsForGroup("gate_share"))
        try:
            return gate(frame)
        finally:
            jobs.append(len(tracker.getJobIdsForGroup("gate_share")) - n)
            sc.setJobGroup("gate_rest", "query construction")

    monkeypatch.setattr(R, "maxscore_gate_plan", counted)
    try:
        for q in (R.q183_bm25f_maxscore_topk, R.q189_bm25_blockmax_topk,
                  R.q194_bm25f_blockmax_topk):
            q(spark, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) >= 3 and set(jobs) == {0}, jobs
    files = (tuple(sorted(d.inputFiles())),)
    assert [k[0] for k in R._RETRIEVAL.keys() if k[1] == files] == ["plan"]


def test_gate_logs_route_and_source(spark, caplog):
    """Every plan-gate call logs one JSON line through the C3 logger's
    retrieval child: the route and where it came from — an in-memory
    fixture always probes; a fixture-backed corpus probes once, then
    reads the memo."""
    import json
    import logging

    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.io import load_table

    def events():
        out = [json.loads(r.getMessage()) for r in caplog.records
               if r.name == "oanda_stream_processor_spark.retrieval"]
        caplog.clear()
        return out

    caplog.set_level(logging.INFO,
                     logger="oanda_stream_processor_spark.retrieval")
    R._RETRIEVAL.clear()
    fx = spark.createDataFrame([(0, "a b"), (1, "a c")],
                               "doc_id long, text string")
    R.maxscore_gate_plan(fx)
    assert events() == [{"event": "plan_gate", "kind": "plan",
                         "plan": "flat", "source": "probe"}]
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    R.maxscore_gate_plan(d)
    R.maxscore_gate_plan(d)
    assert [(e["source"], e["plan"]) for e in events()] == \
        [("probe", "term"), ("memo", "term")]


def test_gate_memo_store_fingerprint_tracks_appends(spark, tmp_path):
    """The stored-postings gate memoizes per store FILE SET: an append
    (a new batch_id partition) changes the fingerprint, so the probe
    re-runs over the grown corpus instead of serving a stale route."""
    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.streaming.bm25gate import (
        read_dl,
        read_tf,
        write_batch_partials,
    )

    common = "the of and to in for a is on at"
    rows = [(i, f"{common} rare{i % 25}a rare{i % 25}b {common}")
            for i in range(1000)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    state = str(tmp_path / "bm25")
    R._RETRIEVAL.clear()
    write_batch_partials(d.where(F.col("doc_id") % 2 == 0), state, 0)
    v0 = R.maxscore_gate_plan_from_postings(read_tf(spark, state),
                                            read_dl(spark, state))
    keys0 = R._RETRIEVAL.keys()
    write_batch_partials(d.where(F.col("doc_id") % 2 == 1), state, 1)
    v1 = R.maxscore_gate_plan_from_postings(read_tf(spark, state),
                                            read_dl(spark, state))
    keys1 = R._RETRIEVAL.keys()
    assert keys0 < keys1, "append did not change the memo fingerprint"
    # the full store routes like the text gate on the same docs
    assert v0 == v1 == R.maxscore_gate_plan(d) == "block"


def test_gate_memo_persists_next_to_store(spark, tmp_path,
                                           monkeypatch, caplog):
    """r18 (VERDICT r17 Next-round #5): the store-backed gate verdict
    survives a process restart via the .gate_memo.json sidecar under
    the store root — a fresh process (simulated: cleared in-memory
    memo) serves the verdict with ZERO probe work, and logs it as a
    sidecar read; the sidecar is
    invalidated by the same input-file fingerprint as the memo (an
    append re-probes); memo-off never reads nor writes it; and the
    TEXT gates never write a sidecar into the read-only fixtures."""
    import os

    from pyspark.sql import DataFrame

    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.streaming.bm25gate import (
        read_dl,
        read_tf,
        write_batch_partials,
    )

    common = "the of and to in for a is on at"
    rows = [(i, f"{common} rare{i % 25}a rare{i % 25}b {common}")
            for i in range(1000)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    state = str(tmp_path / "bm25")
    for i in range(2):
        write_batch_partials(d.where(F.col("doc_id") % 2 == i),
                             state, i)
    R._RETRIEVAL.clear()
    v_pl = R.maxscore_gate_plan_from_postings(read_tf(spark, state),
                                              read_dl(spark, state))
    side = os.path.join(state, ".gate_memo.json")
    assert os.path.isfile(side)

    # "restarted process": empty memo, and every probe entry point
    # poisoned — a sidecar hit must return without touching either
    def _boom(*a, **k):
        raise AssertionError("probe ran despite persisted verdict")

    R._RETRIEVAL.clear()
    monkeypatch.setattr(DataFrame, "count", _boom)
    monkeypatch.setattr(DataFrame, "mapInPandas", _boom)
    caplog.set_level("INFO", logger="oanda_stream_processor_spark.retrieval")
    assert R.maxscore_gate_plan_from_postings(
        read_tf(spark, state), read_dl(spark, state)) == v_pl
    logged = [r.getMessage() for r in caplog.records
              if r.name == "oanda_stream_processor_spark.retrieval"]
    assert '"source": "sidecar"' in logged[-1]
    monkeypatch.undo()

    # an append changes the fingerprint: the stale sidecar must MISS
    # and the probe re-run (then refresh the sidecar)
    extra = spark.createDataFrame(
        [(i, f"{common} rare0a rare0b") for i in range(1000, 1200)],
        "doc_id long, text string")
    write_batch_partials(extra, state, 2)
    R._RETRIEVAL.clear()
    v2 = R.maxscore_gate_plan_from_postings(read_tf(spark, state),
                                            read_dl(spark, state))
    key2 = R._gate_memo_key("plan_store", read_tf(spark, state),
                            read_dl(spark, state))
    assert R._gate_sidecar_load(key2) == v2

    # memo-off: no read, no write
    os.remove(side)
    with memo.bypass("retrieval"):
        assert R.maxscore_gate_plan_from_postings(
            read_tf(spark, state), read_dl(spark, state)) == v2
    assert not os.path.exists(side)

    # text gates (fixture-backed) stay process-local: no sidecar ever
    # lands in the input data directory
    from oanda_stream_processor_spark.io import load_table
    sf = "/root/testdata/sf0.001"
    R._RETRIEVAL.clear()
    R.maxscore_gate_plan(load_table(spark, sf, "documents"))
    assert not os.path.exists(os.path.join(sf, ".gate_memo.json"))


@pytest.fixture(scope="module")
def null_text_sf(tmp_path_factory) -> str:
    """A copy of sf0.001 with the ``text`` of 10 of its 500 documents
    set to NULL (one of them, doc 5, a query document)."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("sf_null_text")
    for t in TABLES:
        shutil.copy(os.path.join(SF, f"{t}.parquet"), d)
    path = os.path.join(d, "documents.parquet")
    docs = pq.read_table(path)
    hit = pc.is_in(docs["doc_id"],
                   value_set=pa.array(range(5, 500, 50), pa.int64()))
    text = pc.if_else(hit, pa.scalar(None, pa.string()), docs["text"])
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           text)
    assert docs["text"].null_count == 10
    pq.write_table(docs, path)
    return str(d)


@pytest.mark.parametrize("name", [
    "q126_boilerplate_shingles", "q178_bm25_maxscore_topk",
    "q183_bm25f_maxscore_topk", "q189_bm25_blockmax_topk",
    "q194_bm25f_blockmax_topk"])
def test_null_text_matches_duckdb(spark, null_text_sf, name):
    """The Python kernels that split ``text`` (q126's shingle kernel,
    the plan-gate probes) read NULL text as empty: the query does not
    raise and still matches its DuckDB twin under the oracle gate's
    digest."""
    import __spark_entry__ as ent
    from tools.verify_oracle import canon

    sdf = ent.queries()[name](spark, null_text_sf)
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{null_text_sf}/{t}.parquet'")
    res = con.execute(ent.oracle_sql()[name])
    ocols = [c[0] for c in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    assert len(srows) == len(orows)
    assert canon(srows, sdf.columns)[0] == canon(orows, ocols)[0]


def test_gate_sidecar_heals_corrupt_file(tmp_path):
    """A corrupt .gate_memo.json must not switch persistence off for
    its store: the next verdict write replaces it with valid JSON that
    loads back (Spark-free: the key is built by hand)."""
    import json

    files = []
    for layout in ("tf", "dl"):
        part = tmp_path / layout / "batch_id=0"
        part.mkdir(parents=True)
        (part / "a.parquet").write_bytes(b"")
        files.append((f"file://{part}/a.parquet",))
    key = ("plan_store", tuple(files))
    side = tmp_path / ".gate_memo.json"
    for garbage in ("{not json", "[1, 2]"):
        side.write_text(garbage)
        assert R._gate_sidecar_load(key) is None
        R._gate_sidecar_store(key, "block")
        assert isinstance(json.loads(side.read_text()), dict)
        assert R._gate_sidecar_load(key) == "block"


def test_gate_sidecar_refuses_frames_from_two_stores(tmp_path):
    """tf from store a and dl from store b share only their parent:
    no sidecar path, and a verdict write puts nothing in that parent
    (Spark-free: the key is built by hand)."""
    files = []
    for store, layout in (("a", "tf"), ("b", "dl")):
        part = tmp_path / store / layout / "batch_id=0"
        part.mkdir(parents=True)
        (part / "a.parquet").write_bytes(b"")
        files.append((f"file://{part}/a.parquet",))
    key = ("plan_store", tuple(files))
    assert R._gate_sidecar_path(key) is None
    R._gate_sidecar_store(key, "block")
    assert sorted(p.name for p in tmp_path.iterdir()) == ["a", "b"]
    assert not list(tmp_path.rglob(".gate_memo.json"))


def test_maxscore_prunes_hard_on_zipfian_vocab(spark):
    """The fixtures' bounded ~100-word vocabulary makes every term
    common (df ~ N, idf ~ 0 for all), so q178's essential split keeps
    ~everything there (99.9% measured at sf0.1 — ledgered in
    SCALE.md).  On a realistic zipfian corpus — rare terms exist and
    queries contain them — the split must cut the scored set hard.
    Construction: every doc shares 10 common filler terms and carries
    one of 25 rare marker pairs (40 docs per group), so every query
    has exactly 39 rare-sharing partners out of 999 candidates."""
    from pyspark.sql import functions as F

    import oanda_stream_processor_spark.operators.retrieval as R

    common = "the of and to in for a is on at"
    rows = []
    for i in range(1000):
        g = i % 25                  # 25 rare groups of 40 docs each;
        rows.append((i, f"{common} rare{g}a rare{g}b {common}"))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    tf, dfq, dl, stats = R.corpus_term_frames(d)
    tf = tf.localCheckpoint(eager=True)
    qterms = (tf.where(F.col("cand_id") < R.N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term"))
    full = (tf.join(qterms, "term")
            .where(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id").distinct().count())
    cands, full_scores = R.maxscore_candidates(tf, dfq, dl, stats, qterms)
    pruned = cands.count()
    assert pruned < full / 2, (pruned, full)
    # and the pruned pool still equals the unpruned pool exactly
    unpruned = (tf.join(qterms, "term")
                .where(F.col("cand_id") != F.col("query_id"))
                .select("query_id", "cand_id").distinct())
    p1 = sorted(tuple(r) for r in
                R._pool_rank(full_scores(cands),
                             [F.desc("fp_sum"), F.asc("cand_id")],
                             R.POOL).collect())
    p2 = sorted(tuple(r) for r in
                R._pool_rank(full_scores(unpruned),
                             [F.desc("fp_sum"), F.asc("cand_id")],
                             R.POOL).collect())
    assert p1 == p2 and len(p1) > 0


def _block_skewed_corpus(spark):
    """512 docs / 8 fixed 64-doc blocks, built so BLOCK pruning wins
    where TERM pruning cannot: every query doc (0-9) carries a rare
    pair (rare0a/rare0b) confined to block 0, four medium-df terms
    (~40% of docs — too common to be seeds, too high-UB for the
    essential prefix to drop them all), and two corpus-wide commons.
    Non-query docs pad to a uniform dl=8 with per-doc filler terms
    (queries deliberately have NO fillers — a df=1 filler would be
    the query's rarest term and hijack the seed set).  Result: θ from
    the rare pair ≈ 2 rare contributions; blocks 1-7 carry only
    commons + mediums whose per-block UB sum stays under θ, so the
    blocked skip drops them while the term-level essential split must
    keep ~40% of the corpus (measured: 470 vs 2250 vs 5120 full)."""
    def mk(i):
        toks = ["c0", "c1"]
        if i < 10 or (i < 64 and i % 2 == 0):
            toks += ["rare0a", "rare0b"]
        for k in range(4):
            if i < 10 or (i * 13 + k * 7) % 10 < 4:
                toks.append(f"m{k}")
        while len(toks) < 8:
            toks.append(f"f{i}x{len(toks)}")
        return (i, " ".join(toks[:8]))

    return spark.createDataFrame([mk(i) for i in range(512)],
                                 "doc_id long, text string")


def test_blockmax_topk_equals_q175(spark):
    """q189's exactness contract (the q178 precedent): the block-max
    plan and the full q175 plan are row-for-row identical at both
    fixture SFs — whichever branch the three-way gate picks."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(tuple(r) for r in
                     R.q189_bm25_blockmax_topk(spark, sf).collect())
        want = sorted(tuple(r) for r in
                      R.q175_bm25_topk(spark, sf).collect())
        assert got == want and len(want) > 0, sf


def test_blockmax_prunes_blocks_and_stays_exact(spark):
    """On the block-skewed corpus the blocked skip must cut the
    candidate set STRICTLY below term-level MaxScore's (which itself
    cuts below the full fan-out), while the pooled result stays
    row-for-row exact against the unpruned pool — the whole point of
    the blocked layout."""
    from pyspark.sql import functions as F

    d = _block_skewed_corpus(spark)
    tf, dfq, dl, stats = R.corpus_term_frames(d)
    tf = tf.localCheckpoint(eager=True)
    qterms = R.query_terms_from(tf)
    full_set = (tf.join(qterms, "term")
                .where(F.col("cand_id") != F.col("query_id"))
                .select("query_id", "cand_id").distinct())
    c_term, _ = R.maxscore_candidates(tf, dfq, dl, stats, qterms)
    c_blk, full_scores = R.blockmax_candidates(tf, dfq, dl, stats,
                                               qterms)
    n_full, n_term, n_blk = (full_set.count(), c_term.count(),
                             c_blk.count())
    assert n_blk < n_term < n_full, (n_blk, n_term, n_full)
    p_blk = sorted(tuple(r) for r in
                   R._pool_rank(full_scores(c_blk),
                                [F.desc("fp_sum"), F.asc("cand_id")],
                                R.POOL).collect())
    p_full = sorted(tuple(r) for r in
                    R._pool_rank(full_scores(full_set),
                                 [F.desc("fp_sum"), F.asc("cand_id")],
                                 R.POOL).collect())
    assert p_blk == p_full and len(p_full) > 0


def test_blockmax_gate_three_way_routing(spark):
    """The plan gate: flat corpus -> 'flat' (no UB spread);
    spread corpus with SATURATED postings (every tf = 5, sampled
    headroom 1 − 5/(5 + k1) ≈ 0.19 < BM_HEADROOM) -> 'term' (block
    bounds collapse onto the whole-term bound); spread corpus with
    tf = 1 postings -> 'block'.  Every route returns exact rows —
    routing is cost-only, conservative-side-only."""
    common = "the of and to in for a is on at"
    flat = spark.createDataFrame(
        [(i, common) for i in range(400)], "doc_id long, text string")
    zipf = spark.createDataFrame(
        [(i, f"{common} rare{i % 25}a rare{i % 25}b")
         for i in range(400)], "doc_id long, text string")
    sat_txt = " ".join(w for w in common.split() for _ in range(5))
    saturated = spark.createDataFrame(
        [(i, f"{sat_txt} " + " ".join([f"rare{i % 25}"] * 5))
         for i in range(400)], "doc_id long, text string")
    blockish = _block_skewed_corpus(spark)
    for name, d, want in (("flat", flat, "flat"),
                          ("zipf", zipf, "block"),
                          ("saturated", saturated, "term"),
                          ("blockish", blockish, "block")):
        plan = R.maxscore_gate_plan(d)
        assert plan == want, (name, plan)


def test_phrase_filtered_bm25_invariants(spark):
    """q181's gate contract: every ranked row's (query, cand) pair is
    a q179 phrase match; ranks are dense 1..k per query; scores agree
    with the full-corpus q175 scoring for the same pair whenever the
    pair also appears in q175's pool (same fixed-point arithmetic)."""
    import oanda_stream_processor_spark.operators.retrieval as R

    sf = "/root/testdata/sf0.001"
    q181 = R.q181_phrase_filtered_bm25(spark, sf).collect()
    assert q181
    matches = {(r.query_id, r.cand_id)
               for r in R.q179_phrase_match(spark, sf).collect()}
    assert {(r.query_id, r.cand_id) for r in q181} <= matches
    by_q = {}
    for r in q181:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    q175 = {(r.query_id, r.cand_id): r.score
            for r in R.q175_bm25_topk(spark, sf).collect()}
    for r in q181:
        if (r.query_id, r.cand_id) in q175:
            assert r.score == q175[(r.query_id, r.cand_id)]


def test_term_proximity_invariants(spark):
    """q182: distances are >= 1, hit counts >= matched-term counts,
    and every pair reports >= 2 distinct matched terms (the HAVING
    gate); a hand-built corpus pins an exact known distance."""
    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.io import load_table

    sf = "/root/testdata/sf0.001"
    rows = R.q182_term_proximity(spark, sf).collect()
    assert rows
    assert all(r.min_dist >= 1 and r.n_hits >= r.n_terms >= 2
               for r in rows)

    # hand-built: query doc 0 = "alpha beta"; cand 50 has alpha at
    # pos 1 and beta at pos 4 (min different-term distance 3), cand 51
    # only alpha (filtered by the >=2-terms gate)
    d = spark.createDataFrame(
        [(0, "alpha beta"),
         (50, "alpha alpha filler beta"),
         (51, "alpha filler filler alpha")],
        "doc_id long, text string")
    from pyspark.sql import functions as F
    # same plan over the synthetic frame: inline the operator body
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    p = (d.select("doc_id", F.posexplode(toks).alias("i", "term"))
         .select("doc_id", (F.col("i") + 1).cast("bigint").alias("pos"),
                 "term"))
    q = (p.where(F.col("doc_id") < R.N_QUERIES)
         .select(F.col("doc_id").alias("query_id"), "term").distinct())
    from pyspark.sql import Window as W
    m = (p.join(q, "term")
         .where(F.col("doc_id") != F.col("query_id"))
         .select("query_id", F.col("doc_id").alias("cand_id"),
                 "term", "pos"))
    w = W.partitionBy("query_id", "cand_id").orderBy("pos")
    gap = F.when(F.lag("term").over(w).isNotNull()
                 & (F.lag("term").over(w) != F.col("term")),
                 F.col("pos") - F.lag("pos").over(w))
    out = (m.withColumn("gap", gap)
           .groupBy("query_id", "cand_id")
           .agg(F.count_distinct("term").alias("n_terms"),
                F.min("gap").alias("min_dist"))
           .where(F.col("n_terms") >= 2).collect())
    got = {(r.query_id, r.cand_id): r.min_dist for r in out}
    assert got == {(0, 50): 2}  # beta(4) - alpha(2, adjacent) = 2


def test_bm25f_maxscore_equals_q177_and_prunes_on_zipfian(spark):
    """q183's contract: pruned BM25F equals q177 row-for-row (the
    pruning branch engages at sf0.001 — rare terms exist there), and
    on the Zipfian corpus the shared machinery cuts the BM25F scored
    set hard while the pooled result stays exact."""
    from pyspark.sql import functions as F

    import oanda_stream_processor_spark.operators.retrieval as R

    sf = "/root/testdata/sf0.001"
    got = sorted(tuple(r) for r in
                 R.q183_bm25f_maxscore_topk(spark, sf).collect())
    want = sorted(tuple(r) for r in
                  R.q177_bm25f_topk(spark, sf).collect())
    assert got == want and len(want) > 0

    common = "the of and to in for a is on at"
    rows = [(i, f"{common} rare{i % 25}a rare{i % 25}b {common}")
            for i in range(1000)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    tff, dlf, dfd, ndocs, avgf = R.corpus_field_frames(d)
    tff = tff.localCheckpoint(eager=True)
    wtf = R.bm25f_weighted_tf(tff, dlf, avgf).localCheckpoint(eager=True)
    qterms = (tff.where(F.col("cand_id") < R.N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term")
              .distinct())
    qub = R.bm25f_term_upper_bounds(dfd, ndocs, qterms)
    full = (wtf.select("cand_id", "term").join(qterms, "term")
            .where(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id").distinct())

    def scores(c):
        return R.bm25f_full_scores(c, wtf, dfd, ndocs, qterms)

    cands = R._maxscore_prune(wtf.select("cand_id", "term"), qterms,
                              qub, scores, theta_rank=R.TOP_K)
    assert 0 < cands.count() < full.count() / 2
    order = [F.desc("fp_sum"), F.asc("cand_id")]
    p1 = sorted(tuple(r) for r in
                R._pool_rank(scores(cands), order, R.TOP_K).collect())
    p2 = sorted(tuple(r) for r in
                R._pool_rank(scores(full), order, R.TOP_K).collect())
    assert p1 == p2 and len(p1) > 0


def test_quality_metrics_hand_computed(spark):
    """q185's metric arithmetic pinned on a hand-built pool/truth:
    every output column checked against integer arithmetic done right
    here in the test (the W_NDCG weights are the shared constants), so
    a regression in the join/window plumbing cannot hide behind the
    oracle mirroring the same mistake."""
    import oanda_stream_processor_spark.operators.retrieval as R

    W1, W2, W3 = R.W_NDCG[0], R.W_NDCG[1], R.W_NDCG[2]
    # query 1: truth A=3, B=2, C=1; system ranks [B, X, A]
    pool = spark.createDataFrame(
        [(1, 20, 1), (1, 99, 2), (1, 10, 3),     # B, X(irrelevant), A
         (2, 50, 1), (2, 51, 2)],                # query 2: nothing rel
        "query_id long, cand_id long, rank int")
    truth = spark.createDataFrame(
        [(1, 10, 3), (1, 20, 2), (1, 30, 1)],    # C=30 never retrieved
        "query_id long, cand_id long, rel long")
    rows = {r.query_id: r for r in
            R.quality_metrics_from(pool, truth).collect()}

    q1 = rows[1]
    dcg = 2 * W1 + 3 * W3
    idcg = 3 * W1 + 2 * W2 + 1 * W3
    assert q1.n_rel == 3 and q1.hits_k == 2
    assert q1.first_rel_rank == 1 and q1.mrr_ppm == 1_000_000
    assert q1.dcg_fp == dcg and q1.idcg_fp == idcg
    assert q1.ndcg_ppm == (dcg * 1_000_000) // idcg
    assert q1.recall_ppm == (2 * 1_000_000) // 3

    q2 = rows[2]   # no truth: every metric zero, present in output
    assert (q2.n_rel, q2.hits_k, q2.first_rel_rank) == (0, 0, 0)
    assert (q2.dcg_fp, q2.idcg_fp) == (0, 0)
    assert (q2.ndcg_ppm, q2.mrr_ppm, q2.recall_ppm) == (0, 0, 0)


def test_quality_metrics_ideal_ranking_scores_one(spark):
    """A system that returns the ideal ordering scores ndcg = 1e6
    exactly, and recall = hits/k when the truth set is deeper than
    TOP_K (ideal ranking caps IDCG at the k best)."""
    import oanda_stream_processor_spark.operators.retrieval as R

    n = 25  # truth deeper than TOP_K
    truth = spark.createDataFrame(
        [(7, c, 3 - min(2, c // 10)) for c in range(n)],
        "query_id long, cand_id long, rel long")
    # ideal order = rel DESC, cand_id ASC = cand_id 0..9 here
    pool = spark.createDataFrame(
        [(7, c, c + 1) for c in range(R.TOP_K)],
        "query_id long, cand_id long, rank int")
    r = R.quality_metrics_from(pool, truth).collect()[0]
    assert r.ndcg_ppm == 1_000_000
    assert r.recall_ppm == (R.TOP_K * 1_000_000) // n
    assert r.mrr_ppm == 1_000_000 and r.n_rel == n


def test_quality_metrics_zero_result_query_stays(spark):
    """The base-frame contract (r13 self-review): a query whose
    retrieval returns NOTHING still emits a metric row — all zeros
    when it also has no truth, and zero ndcg/mrr/recall with its real
    n_rel/idcg when truth exists — instead of silently dropping out
    of the q186 macro-average denominator."""
    import oanda_stream_processor_spark.operators.retrieval as R

    pool = spark.createDataFrame([(1, 10, 1)],
                                 "query_id long, cand_id long, rank int")
    truth = spark.createDataFrame([(2, 20, 3)],
                                  "query_id long, cand_id long, rel long")
    base = spark.createDataFrame([(1,), (2,), (3,)], "query_id long")
    rows = {r.query_id: r for r in
            R.quality_metrics_from(pool, truth, base=base).collect()}
    assert set(rows) == {1, 2, 3}
    # query 2 retrieved nothing but HAS truth: metrics zero, truth real
    q2 = rows[2]
    assert q2.n_rel == 1 and q2.idcg_fp == 3 * R.W_NDCG[0]
    assert (q2.hits_k, q2.ndcg_ppm, q2.mrr_ppm, q2.recall_ppm) \
        == (0, 0, 0, 0)
    # query 3 has neither pool nor truth: the all-zero row
    q3 = rows[3]
    assert (q3.n_rel, q3.hits_k, q3.dcg_fp, q3.idcg_fp,
            q3.ndcg_ppm, q3.mrr_ppm, q3.recall_ppm) == (0,) * 7


def test_fused_rrf_twin_and_rank_consistency(spark, duck):
    """q190: DuckDB-twin equality at sf0.001 plus structural pins —
    fused ranks dense 1..TOP_K per query, rrf bit-exact re-derivable
    from the two input ranks (the q176 contract, boosted input)."""
    rows, cols = _twin(spark, duck, "q190_proximity_fused_rrf")
    i = {c: j for j, c in enumerate(cols)}
    by_q: dict = {}
    for r in rows:
        rb, rc = r[i["rank_b"]], r[i["rank_c"]]
        assert rb is not None or rc is not None
        expect = ((1.0 / (R.RRF_K + rb) if rb is not None else 0.0)
                  + (1.0 / (R.RRF_K + rc) if rc is not None else 0.0))
        assert r[i["rrf"]] == pytest.approx(expect, abs=0, rel=0)
        by_q.setdefault(r[i["query_id"]], []).append(r[i["fused_rank"]])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, R.TOP_K + 1)), f"q{q}"


def test_fusion_quality_compare_fixture_verdict(spark, duck):
    """q191: DuckDB-twin equality at sf0.001, plus the MEASURED
    fixture verdict pinned honestly (the q191 block comment): the
    proximity boost ties BM25 (uniform min_dist=1 bonus across the
    shared-vocabulary pool shifts, never reorders), and the fusion
    LOSES to its lexical input — the synthetic embeddings carry no
    signal about the lexical phrase/proximity truth, and the quality
    yardstick exists exactly to catch that before a fusion change
    ships."""
    rows, cols = _twin(spark, duck, "q191_fusion_quality_compare")
    i = {c: j for j, c in enumerate(cols)}
    by_sys = {r[i["system"]]: r for r in rows}
    assert set(by_sys) == {"bm25", "boosted", "fused"}
    bm25, boosted, fused = (by_sys["bm25"], by_sys["boosted"],
                            by_sys["fused"])
    assert all(r[i["n_queries"]] == R.N_QUERIES for r in rows)
    assert boosted[i["macro_ndcg_ppm"]] >= bm25[i["macro_ndcg_ppm"]]
    # the honest fixture measurement: uninformative second ranker
    # drags the fusion below the lexical ranking on the lexical truth
    assert fused[i["macro_ndcg_ppm"]] < bm25[i["macro_ndcg_ppm"]]
    assert 0 < fused[i["macro_ndcg_ppm"]] <= 1_000_000
    assert bm25[i["macro_ndcg_ppm"]] <= 1_000_000


def test_fusion_wins_on_complementary_rankers(spark):
    """The fusion-win direction q191 cannot show on the fixtures,
    pinned through the SAME cores (rrf_fuse + quality_metrics_from):
    two rankers that each surface a DIFFERENT half of the relevant
    set — with disjoint irrelevant tails, so no irrelevant doc
    double-scores — fuse into a ranking whose nDCG@k and recall@k
    strictly dominate both inputs.  This is the classic RRF setting
    (Cormack et al. 2009); with it, q191's fixture verdict (fusion
    loses when ranker B is noise) and this test (fusion wins when B
    is complementary) bracket the decision the metric exists to
    make."""
    from pyspark.sql import functions as F

    rel = {1: 3, 2: 2, 3: 2, 4: 1, 5: 1, 6: 3, 7: 2, 8: 2, 9: 1, 10: 1}
    truth = spark.createDataFrame(
        [(0, c, r) for c, r in rel.items()],
        "query_id long, cand_id long, rel long")
    # ranker A finds docs 1-5 (ranks 1-5), tail 101-115 irrelevant;
    # ranker B finds docs 6-10, tail 201-215 irrelevant (disjoint)
    a = [(0, c, r + 1) for r, c in enumerate([1, 2, 3, 4, 5])] + \
        [(0, 100 + j, 5 + j) for j in range(1, 16)]
    b = [(0, c, r + 1) for r, c in enumerate([6, 7, 8, 9, 10])] + \
        [(0, 200 + j, 5 + j) for j in range(1, 16)]
    schema = "query_id long, cand_id long, rank long"
    pa = spark.createDataFrame(a, schema)
    pb = spark.createDataFrame(b, schema)
    fused = (R.rrf_fuse(
        pa.select("query_id", "cand_id", F.col("rank").alias("rank_b")),
        pb.select("query_id", "cand_id", F.col("rank").alias("rank_c")))
        .select("query_id", "cand_id",
                F.col("fused_rank").alias("rank")))

    def metrics(pool):
        r = R.quality_metrics_from(
            pool.where(F.col("rank") <= R.TOP_K), truth).collect()
        assert len(r) == 1
        return r[0]

    ma, mb, mf = metrics(pa), metrics(pb), metrics(fused)
    assert mf.recall_ppm == 1_000_000  # fused top-10 = all 10 relevant
    assert mf.recall_ppm > max(ma.recall_ppm, mb.recall_ppm)
    assert mf.ndcg_ppm > max(ma.ndcg_ppm, mb.ndcg_ppm), \
        (mf.ndcg_ppm, ma.ndcg_ppm, mb.ndcg_ppm)


def test_prf_quality_compare_fixture_verdict(spark, duck):
    """q192: DuckDB-twin equality at sf0.001 plus the MEASURED
    fixture verdict pinned honestly (the q192 block comment): on the
    shared-vocabulary fixture PRF expansion HURTS — queries already
    cover most of the tiny vocabulary, so mined expansion terms are
    common terms that dilute the ranking (the classic short-
    vocabulary PRF failure; expansion pays off when queries
    UNDER-cover a large vocabulary).  Both systems are graded over
    the same denominator."""
    rows, cols = _twin(spark, duck, "q192_prf_quality_compare")
    i = {c: j for j, c in enumerate(cols)}
    by_sys = {r[i["system"]]: r for r in rows}
    assert set(by_sys) == {"bm25", "prf"}
    assert all(r[i["n_queries"]] == R.N_QUERIES for r in rows)
    bm25, prf = by_sys["bm25"], by_sys["prf"]
    assert 0 < prf[i["macro_ndcg_ppm"]] < bm25[i["macro_ndcg_ppm"]]
    assert bm25[i["macro_ndcg_ppm"]] <= 1_000_000


def test_quality_gated_fusion_fixture_and_gate_core(spark, duck):
    """q193: DuckDB-twin equality at sf0.001, the measured fixture
    verdict (the champion's rows are emitted — boosted ties bm25 and
    the fusion loses, q191's pinned rows, and ties go to the
    incumbent), and the challenger-wins path driven through the same
    gate_winner core on constructed macro frames."""
    from pyspark.sql import functions as F

    rows, cols = _twin(spark, duck, "q193_quality_gated_fusion")
    i = {c: j for j, c in enumerate(cols)}
    assert {r[i["system"]] for r in rows} == {"bm25"}
    assert len(rows) == R.N_QUERIES * R.TOP_K
    # the emitted rows ARE the champion's top-k
    want = sorted((r.query_id, r.cand_id, r.rank) for r in
                  R.q175_bm25_topk(spark, SF)
                  .select("query_id", "cand_id", "rank").collect())
    got = sorted((r[i["query_id"]], r[i["cand_id"]], r[i["rank"]])
                 for r in rows)
    assert got == want
    # challenger-wins and tie-to-incumbent paths through the core
    mk = lambda t: spark.createDataFrame(
        t, "system string, priority int, macro_ndcg_ppm long")
    w1 = R.gate_winner(mk([("bm25", 1, 700_000), ("boosted", 2, 700_000),
                           ("fused", 3, 900_000)])).collect()
    assert [r.system for r in w1] == ["fused"]
    w2 = R.gate_winner(mk([("bm25", 1, 700_000), ("boosted", 2, 700_000),
                           ("fused", 3, 700_000)])).collect()
    assert [r.system for r in w2] == ["bm25"]


def test_prf_single_scan_memo_parity(spark):
    """r15 single-scan grading pipeline: q187 built off the shared
    memoized postings checkpoint + pass-1 pool (corpus_term_frames_
    memo / bm25_pool_memo) equals the memo-bypassed TRUE two-pass run
    row-for-row — the pass-1 reuse is a pure sharing of the same
    frames under the same scoring core, never a semantic change."""
    warm = sorted(tuple(r) for r in
                  R.q187_prf_expanded_bm25(spark, SF).collect())
    with memo.bypass("retrieval"):
        cold = sorted(tuple(r) for r in
                      R.q187_prf_expanded_bm25(spark, SF).collect())
    assert warm == cold


def test_bm25f_blockmax_equals_q177(spark):
    """q194's exactness contract (the q189 <- q175 precedent applied
    to the field half): the block-max BM25F plan and the full q177
    plan are row-for-row identical at both fixture SFs — whichever
    branch the three-way gate picks."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        got = sorted(tuple(r) for r in
                     R.q194_bm25f_blockmax_topk(spark, sf).collect())
        want = sorted(tuple(r) for r in
                      R.q177_bm25f_topk(spark, sf).collect())
        assert got == want and len(want) > 0, sf


def _field_block_skewed_corpus(spark):
    """The _block_skewed_corpus construction re-tuned for the BM25F
    bound geometry: the field model's whole-term UB is idf ALONE
    (saturation < 1), so four mediums' ascending cumsum stays under θ
    and term-level pruning already collapses to the rare block —
    leaving blocks nothing to add.  SIX mediums push the prefix
    cumsum past θ mid-list, so the tail mediums stay ESSENTIAL
    term-level (candidates across all 8 blocks) while every block's
    bound sum Σ idf·satur(tfw_ub) ≈ 0.45·Σ idf stays under θ in
    blocks 1-7 — exactly the regime where the per-field blocked skip
    wins and idf-only pruning cannot."""
    def mk(i):
        toks = ["c0", "c1"]
        if i < 10 or (i < 64 and i % 2 == 0):
            toks += ["rare0a", "rare0b"]
        for k in range(6):
            if i < 10 or (i * 13 + k * 7) % 10 < 4:
                toks.append(f"m{k}")
        while len(toks) < 10:
            toks.append(f"f{i}x{len(toks)}")
        return (i, " ".join(toks[:10]))

    return spark.createDataFrame([mk(i) for i in range(512)],
                                 "doc_id long, text string")


def test_bm25f_blockmax_prunes_blocks_and_stays_exact(spark):
    """On the field-skewed corpus the per-field blocked skip must cut
    the candidate set STRICTLY below q183's whole-term pruning (whose
    UB is idf alone — the loosest bound in the family), while the
    pooled result stays row-for-row exact against the unpruned field
    pool — the tightening the field half was missing (r14 verdict
    ask #5)."""
    from pyspark.sql import functions as F

    d = _field_block_skewed_corpus(spark)
    tff, dlf, dfd, ndocs, avgf = R.corpus_field_frames(d)
    tff = tff.localCheckpoint(eager=True)
    wtf = R.bm25f_weighted_tf(tff, dlf, avgf).localCheckpoint(eager=True)
    qterms = (tff.where(F.col("cand_id") < R.N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term")
              .distinct())
    qub = R.bm25f_term_upper_bounds(dfd, ndocs, qterms)

    def fs(cands):
        return R.bm25f_full_scores(cands, wtf, dfd, ndocs, qterms)

    full_set = (wtf.select("cand_id", "term").join(qterms, "term")
                .where(F.col("cand_id") != F.col("query_id"))
                .select("query_id", "cand_id").distinct())
    c_term = R._maxscore_prune(wtf.select("cand_id", "term"), qterms,
                               qub, fs, theta_rank=R.TOP_K)
    c_blk, full_scores = R.bm25f_blockmax_candidates(
        tff, dlf, dfd, ndocs, avgf, qterms, wtf)
    n_full, n_term, n_blk = (full_set.count(), c_term.count(),
                             c_blk.count())
    assert n_blk < n_term < n_full, (n_blk, n_term, n_full)
    p_blk = sorted(tuple(r) for r in
                   R._pool_rank(full_scores(c_blk),
                                [F.desc("fp_sum"), F.asc("cand_id")],
                                R.TOP_K).collect())
    p_full = sorted(tuple(r) for r in
                    R._pool_rank(fs(full_set),
                                 [F.desc("fp_sum"), F.asc("cand_id")],
                                 R.TOP_K).collect())
    assert p_blk == p_full and len(p_full) > 0
