"""Deterministic training-shard writer (operators/curation.py q180 +
write_training_shards): permutation/packing invariants, seed
determinism, and the materialized shards + manifest contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from oanda_stream_processor_spark.io import load_table
from oanda_stream_processor_spark.operators.curation import (
    N_SHARDS,
    PACK_BUDGET,
    shard_assignment,
    write_training_shards,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF_DIR, "documents")


def test_assignment_is_a_partitioned_permutation(spark):
    """Every non-empty doc appears exactly once; within each shard the
    seq column is dense 1..n; pack ids are the contiguous fill of the
    permuted order (never exceed budget by more than one doc)."""
    a = shard_assignment(_docs(spark)).cache()
    try:
        n_docs = _docs(spark).where(
            F.size(F.filter(F.split("text", " "),
                            lambda x: x != "")) > 0).count()
        assert a.count() == n_docs
        assert a.select("doc_id").distinct().count() == n_docs
        per = (a.groupBy("shard_id")
               .agg(F.count("*").alias("n"), F.max("seq").alias("mx"),
                    F.sum("seq").alias("sm")).collect())
        assert 0 < len(per) <= N_SHARDS
        for r in per:
            assert r.mx == r.n and r.sm == r.n * (r.n + 1) // 2, r
        # packing: a pack's tokens stay under budget + its last doc
        packs = (a.groupBy("shard_id", "pack_id")
                 .agg(F.sum("n_tokens").alias("tok"),
                      F.max("n_tokens").alias("mx")).collect())
        assert all(p.tok < PACK_BUDGET + p.mx for p in packs)
    finally:
        a.unpersist()


def test_assignment_seed_determinism(spark):
    d = _docs(spark)
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    a1 = rows(shard_assignment(d, seed=7))
    a2 = rows(shard_assignment(d, seed=7))
    b = rows(shard_assignment(d, seed=8))
    assert a1 == a2
    assert a1 != b  # a different seed permutes differently


def test_writer_emits_ordered_shards_and_manifest(spark, tmp_path):
    out = str(tmp_path / "out")
    d = _docs(spark)
    write_training_shards(d, out)
    a = shard_assignment(d)

    shards = spark.read.parquet(f"{out}/shards")
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(shards.select("doc_id", "shard_id", "seq")) == \
        rows(a.select("doc_id", "shard_id", "seq"))
    assert shards.where(F.col("text").isNull()).count() == 0

    # one file per shard, internally in seq order (parquet preserves
    # row order within a file)
    import glob
    for sdir in glob.glob(f"{out}/shards/shard_id=*"):
        files = [f for f in glob.glob(f"{sdir}/*.parquet")]
        assert len(files) == 1, sdir
        seqs = [r.seq for r in spark.read.parquet(files[0])
                .select("seq").collect()]
        assert seqs == sorted(seqs) and seqs[0] == 1

    man = spark.read.parquet(f"{out}/manifest")
    want = (a.groupBy("shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("shard_tokens"),
                 (F.max("pack_id") + 1).alias("n_packs"),
                 F.max("seq").alias("max_seq")))
    assert rows(man) == rows(want)
    assert man.count() == a.select("shard_id").distinct().count()


def test_epoch_reshuffle_keeps_shards_fixed(spark):
    """epoch reshuffles intra-shard order (and packing) WITHOUT moving
    any doc between shards; epoch=0 is the written layout; every
    epoch's seq stays a dense per-shard 1..n."""
    d = _docs(spark)
    rows = lambda df, *c: sorted(tuple(r) for r in df.select(*c).collect())
    e0 = shard_assignment(d, epoch=0)
    e1 = shard_assignment(d, epoch=1)
    assert rows(e0, "doc_id", "shard_id") == rows(e1, "doc_id", "shard_id")
    assert rows(e0, "doc_id", "seq") != rows(e1, "doc_id", "seq")
    assert rows(e0, "doc_id", "shard_id", "seq", "pack_id", "n_tokens") \
        == rows(shard_assignment(d), "doc_id", "shard_id", "seq",
                "pack_id", "n_tokens")
    per = (e1.groupBy("shard_id")
           .agg(F.count("*").alias("n"), F.max("seq").alias("mx"),
                F.sum("seq").alias("sm")).collect())
    for r in per:
        assert r.mx == r.n and r.sm == r.n * (r.n + 1) // 2, r


def test_writer_file_cap_splits_shards_in_order(spark, tmp_path):
    """Fast-tier twin of the sizing test below on 40 documents: a cap
    of 2 rows per file splits shards, the rows equal the uncapped
    write, and the name-ordered files of a shard hold consecutive seq
    ranges from 1 (the shard's order is kept)."""
    import os
    from collections import defaultdict

    d = _docs(spark).where(F.col("doc_id") < 40)
    rows = lambda out: sorted(tuple(r) for r in spark.read.parquet(
        f"{out}/shards").collect())
    write_training_shards(d, str(tmp_path / "base"))
    write_training_shards(d, str(tmp_path / "capped"),
                          max_records_per_file=2)
    assert rows(tmp_path / "capped") == rows(tmp_path / "base")
    files = defaultdict(list)
    for r in (spark.read.parquet(f"{tmp_path}/capped/shards")
              .groupBy(F.input_file_name().alias("f"))
              .agg(F.count("*").alias("n"), F.min("seq").alias("lo"),
                   F.max("seq").alias("hi")).collect()):
        files[os.path.dirname(r.f)].append((r.f, r.n, r.lo, r.hi))
    assert any(len(v) > 1 for v in files.values())
    for shard in files.values():
        nxt = 1
        for _f, n, lo, hi in sorted(shard):
            assert n <= 2 and lo == nxt and hi == lo + n - 1, shard
            nxt = hi + 1


def test_writer_file_sizing_knob(spark, tmp_path, monkeypatch):
    """r18 (VERDICT r17 Next-round #7, guide §6): the output-file
    sizing knob splits each shard's seq-sorted partition into
    consecutive capped files — rows identical to the uncapped write,
    within-shard seq order preserved across the file sequence, and
    the env default ($SPARK_GRAFT_SHARD_MAX_RECORDS) wires the same
    cap without a code change."""
    import os
    from collections import defaultdict

    rows = lambda df: sorted(tuple(r) for r in df.collect())
    d = _docs(spark)
    base = str(tmp_path / "base")
    write_training_shards(d, base)
    want = rows(spark.read.parquet(f"{base}/shards"))

    def file_profile(out):
        """{shard dir: [(file, n, min_seq, max_seq)] name-sorted} in
        ONE aggregation (per-file reads made this test 65 s)."""
        df = spark.read.parquet(f"{out}/shards")
        prof = (df.groupBy(F.input_file_name().alias("f"))
                .agg(F.count("*").alias("n"),
                     F.min("seq").alias("lo"),
                     F.max("seq").alias("hi"))).collect()
        by_dir = defaultdict(list)
        for r in prof:
            by_dir[os.path.dirname(r.f)].append((r.f, r.n, r.lo, r.hi))
        return {k: sorted(v) for k, v in by_dir.items()}

    capped = str(tmp_path / "capped")
    write_training_shards(d, capped, max_records_per_file=3)
    assert rows(spark.read.parquet(f"{capped}/shards")) == want
    prof = file_profile(capped)
    assert any(len(v) > 1 for v in prof.values()), \
        "cap never split a shard — test fixture too small"
    for sdir, files in prof.items():
        assert max(n for _, n, _, _ in files) <= 3
        # name-ordered files carry consecutive, non-overlapping seq
        # ranges starting at 1: concatenation reproduces seq order
        nxt = 1
        for _f, n, lo, hi in files:
            assert lo == nxt and hi == lo + n - 1, (sdir, files)
            nxt = hi + 1

    env = str(tmp_path / "env")
    monkeypatch.setenv("SPARK_GRAFT_SHARD_MAX_RECORDS", "3")
    write_training_shards(d, env)
    monkeypatch.delenv("SPARK_GRAFT_SHARD_MAX_RECORDS")
    assert rows(spark.read.parquet(f"{env}/shards")) == want
    assert all(n <= 3 for files in file_profile(env).values()
               for _, n, _, _ in files)
