"""The partial-store format (streaming/store.py) on tiny in-memory
frames: declared merges read the same before and after a fold, the
newest batch is never folded, read-or-None, the compaction cadence,
the batch-id lister, the single-writer lock, and a guard that keeps
the ``batch_id=`` spelling and the availableNow starter inside
store.py."""

from __future__ import annotations

import ast
import fcntl
import os
import threading

import pytest

from oanda_stream_processor_spark.streaming import store
from oanda_stream_processor_spark.streaming.compact import (
    compact_bm25_store,
)

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "oanda_stream_processor_spark")


def _table(df):
    return sorted(tuple(r) for r in df.collect())


def _write_batches(spark, root, n=4):
    """Union (tf), SUM (df) and MAX/MIN (blk) partials for batch ids
    0..n-1; batch i holds doc i and doc i + 10."""
    for i in range(n):
        docs = [i, i + 10]
        store.write(spark.createDataFrame(
            [(d, t, d % 3 + 1) for d in docs for t in ("a", f"t{i}")],
            "cand_id long, term string, tf long"), root, store.TF, i)
        store.write(spark.createDataFrame(
            [("a", 2), (f"t{i}", 2)], "term string, df long"),
            root, store.DF, i)
        store.write(spark.createDataFrame(
            [("a", 0, i + 1, 10 - i), ("b", i % 2, i, i)],
            "term string, block_id long, max_tf long, min_dl long"),
            root, store.BLK, i)


def _reads(spark, root):
    return [_table(store.read(spark, root, lay))
            for lay in (store.TF, store.DF, store.BLK)]


def test_fold_preserves_merged_reads_and_keeps_newest(spark, tmp_path):
    root = str(tmp_path / "s")
    _write_batches(spark, root)
    want = _reads(spark, root)
    assert want[1][0] == ("a", 8)                  # SUM over 4 batches
    assert compact_bm25_store(spark, root)["folded"] == [0, 1, 2]
    for lay in (store.TF, store.DF, store.BLK):
        assert set(store.batch_ids(root, lay)) == {0, 3}, lay.name
    assert _reads(spark, root) == want
    # a second fold finds one foldable id besides the newest: no-op
    assert compact_bm25_store(spark, root)["folded"] == [0]
    assert _reads(spark, root) == want


def test_maybe_read_absent_layout_is_none(spark, tmp_path):
    root = str(tmp_path / "s")
    assert store.maybe_read(spark, root, store.BLK) is None
    store.write(spark.createDataFrame([("a", 1)], "term string, df long"),
                root, store.DF, 0)
    assert store.maybe_read(spark, root, store.BLK) is None
    assert _table(store.maybe_read(spark, root, store.DF)) == [("a", 1)]


def test_compact_cadence():
    assert store.compact_cadence(None) == 0
    assert store.compact_cadence(3) == 3
    assert store.compact_cadence(-1) == 0


def test_batch_ids_count_only_batches_holding_data(tmp_path):
    """Where the two former listers disagreed.  compact's os.listdir
    lister counted every ``batch_id=<int>`` directory ({0, 1, 2, 3}
    below); thetagate's file-index lister (used by hist_not_ahead and
    the truth coverage guard) counted only directories holding a data
    file ({0}).  The one lister keeps the guards' answer, so those
    callers answer as before; a fold now skips a dataless directory
    (it folds less, never more)."""
    from oanda_stream_processor_spark.streaming.thetagate import (
        hist_not_ahead,
    )
    from oanda_stream_processor_spark.streaming.truthgate import (
        maybe_truth_state,
    )

    def part(path, name):
        os.makedirs(path, exist_ok=True)
        open(os.path.join(path, name), "w").close()

    lay = tmp_path / "tf"
    part(lay / "batch_id=0", "part-0.parquet")
    os.makedirs(lay / "batch_id=1")                        # empty
    part(lay / "batch_id=2", "_SUCCESS")                   # marker only
    part(lay / "batch_id=3" / "_temporary" / "0", "part-0.parquet")
    part(lay / "batch_id=x", "part-0.parquet")             # not an id
    part(lay / ".compact_tmp", "part-0.parquet")           # staged fold
    assert set(store.batch_ids(str(tmp_path), store.TF)) == {0}
    assert store.batch_ids(str(tmp_path / "absent")) == {}
    # hist_not_ahead: a dataless histogram batch is not "ahead"
    theta = tmp_path / "theta"
    part(theta / "batch_id=0", "part-0.parquet")
    os.makedirs(theta / "batch_id=1")
    assert hist_not_ahead(None, str(tmp_path), str(theta))
    part(theta / "batch_id=1", "part-0.parquet")
    assert not hist_not_ahead(None, str(tmp_path), str(theta))
    # maybe_truth_state: a prox layout without data is no truth store
    os.makedirs(tmp_path / "truth" / "prox" / "batch_id=0")
    assert maybe_truth_state(None, str(tmp_path)) is None
    part(tmp_path / "truth" / "prox" / "batch_id=0", "part-0.parquet")
    assert maybe_truth_state(None, str(tmp_path)) == str(tmp_path / "truth")


def test_parse_round_trips_partial_path():
    p = store.partial_path("/data/s", store.TF, 7)
    assert store.parse(p + "/part-0.parquet") == ("/data/s", "tf", 7)
    assert store.parse("file://" + p + "/part-0.parquet") == (
        "/data/s", "tf", 7)
    assert store.parse("s3://bucket/s/tf/batch_id=7/part-0") is None
    assert store.parse("/data/s/meta/part-0.parquet") is None


def test_writer_lock_is_exclusive_and_reentrant(tmp_path):
    root = str(tmp_path / "s")
    with store.writer_lock(root):
        with store.writer_lock(root):          # the body's own fold
            pass
        err = []

        def other():
            try:
                with store.writer_lock(root):
                    pass
            except RuntimeError as e:
                err.append(str(e))
        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=30)
        assert not t.is_alive()
        assert err and root in err[0]
    with store.writer_lock(root):              # released: free again
        pass


def test_compact_refuses_a_held_truth_store(spark, tmp_path):
    """compact_bm25_store takes the co-located truth/ store's lock
    before folding anything: held elsewhere, it raises and folds
    nothing; released, it folds both stores."""
    root = str(tmp_path / "s")
    truth = os.path.join(root, "truth")
    for i in range(3):
        store.write(spark.createDataFrame(
            [(i, "a", 1)], "cand_id long, term string, tf long"),
            root, store.TF, i)
        store.write(spark.createDataFrame(
            [(0, i + 10, 1, 1)],
            "query_id long, cand_id long, n_terms long, min_dist long"),
            truth, store.PROX, i)
    fd = os.open(os.path.join(truth, ".writer.lock"),
                 os.O_RDWR | os.O_CREAT)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(RuntimeError, match="truth"):
            compact_bm25_store(spark, root)
        assert set(store.batch_ids(root, store.TF)) == {0, 1, 2}
    finally:
        os.close(fd)
    out = compact_bm25_store(spark, root)
    assert out["folded"] == [0, 1] and out["truth"]["folded"] == [0, 1]
    assert set(store.batch_ids(truth, store.PROX)) == {0, 2}


def test_start_folds_inside_the_locked_body(spark, tmp_path):
    """The starter's compact_every hook runs in the batch body, under
    the lock the body already holds, without raising."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.json").write_text(
            f'{{"cand_id": {i}, "term": "a", "tf": 1}}\n')
    root = str(tmp_path / "s")
    stream = (spark.readStream.schema("cand_id long, term string, tf long")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = store.start(
        stream, lambda b, i: store.write(b, root, store.TF, i),
        str(tmp_path / "ckpt"), root=root, compact=compact_bm25_store,
        compact_every=3)
    q.awaitTermination(120)
    assert q.exception() is None
    assert set(store.batch_ids(root, store.TF)) == {0, 2}
    assert _table(store.read(spark, root, store.TF)) == [
        (i, "a", 1) for i in range(3)]


def _docstrings(tree):
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)):
                yield first.value


def test_partition_format_is_spelled_only_in_store():
    """No package module but store.py spells a ``batch_id=`` string
    (docstrings aside) or starts an availableNow trigger in
    streaming/ — the format and the starter stay defined once."""
    bad = []
    for dirpath, _, files in os.walk(PKG):
        for fn in files:
            path = os.path.join(dirpath, fn)
            if not fn.endswith(".py") or path.endswith(
                    os.path.join("streaming", "store.py")):
                continue
            tree = ast.parse(open(path).read())
            docs = {id(d) for d in _docstrings(tree)}
            for node in ast.walk(tree):
                if (isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and "batch_id=" in node.value
                        and id(node) not in docs):
                    bad.append(f"{path}:{node.lineno} batch_id=")
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "trigger"
                        and any(k.arg == "availableNow"
                                for k in node.keywords)
                        and os.sep + "streaming" + os.sep in path):
                    bad.append(f"{path}:{node.lineno} availableNow")
    assert not bad, bad
