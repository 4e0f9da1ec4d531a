"""The partial store: the one on-disk format every incremental gate in
``streaming/`` persists its state in, defined once.

FORMAT: a store is a directory ``<root>``; each micro-batch writes one
parquet directory per layout, ``<root>/<layout>/batch_id=<id>``
(single-layout stores use the root itself, ``<root>/batch_id=<id>``).
A batch overwrites only its own partitions, so an at-least-once
foreachBatch replay of batch N rewrites exactly what its first attempt
wrote (idempotent replay).  Readers merge on read: a plain partitioned
scan of the layout directory, then the layout's declared ``merge``.
``compact.py`` folds old batches into consolidated generations with
the SAME declared merge, so a fold can never disagree with a read.

WHY FOLDING WITH THE READER'S MERGE IS SOUND: every declared merge is
one of
  * UNION  — rows live in exactly one batch (doc-disjoint batches:
    tf, dl, tff, dlf, prox, phr, qpost, qsh, positional postings);
    concatenating fold rows into one generation is literally the
    same multiset the partitioned read unions;
  * SUM    — df, corpus (n_docs, sum_dl), fdf, fsum, fnd, nrel,
    impact, fimpact: the read's groupBy-SUM is associative, so
    pre-summing a fold and re-summing on read is the same integer;
  * MAX/MIN — blk, fblk: same associativity argument per key;
  * ITOP   — the per-batch ideal top-K lists: re-ranking a union to
    TOP_K preserves the containment theorem (truthgate module
    docstring: removing rows only promotes the rest under
    (rel DESC, cand_id ASC), so the global ideal set stays inside
    the union of generation lists exactly as it stayed inside the
    union of batch lists).
Because a fold keeps the batch_id=<id> directory scheme, every reader
works on a compacted store unchanged — compaction changes the file
layout, never the merged relation (pytest: per-prefix parity across a
compact-mid-sequence append run).  Stores that are never folded
(histograms, sketches, ledgers, shard counts) declare their merge the
same way, next to their writer.

SINGLE WRITER: one store has one writer at a time.  The starter's
batch body and every public ``compact_*_store`` hold ``writer_lock``
— an exclusive, non-blocking ``flock`` on ``<root>/.writer.lock``
(dot-prefixed: invisible to Spark's file index, to
``compact.store_file_count`` and to the gate fingerprint) — and a
second writer raises instead of interleaving with the first.

Citation: the reference (433-line tick ETL) has one output edge and no
persisted-store surface; north-star extension.
"""

from __future__ import annotations

import fcntl
import os
import re
import threading
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_PARTITION = re.compile(r"batch_id=(-?\d+)")
_LOCK = ".writer.lock"


def _union(df: DataFrame) -> DataFrame:
    return df


def sum_by(keys: list[str], *cols: str):
    """SUM merge: per ``keys`` (none = one global row), each column
    summed under its own name."""
    def merge(df: DataFrame) -> DataFrame:
        aggs = [F.sum(c).alias(c) for c in cols]
        return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    return merge


def maxmin_by(keys: list[str], mx: str, mn: str):
    """MAX/MIN merge: per ``keys``, the max of ``mx`` and min of ``mn``."""
    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(F.max(mx).alias(mx),
                                     F.min(mn).alias(mn))
    return merge


def _ideal_top(df: DataFrame) -> DataFrame:
    """ITOP merge: each query's top-TOP_K rows by (rel DESC, cand_id
    ASC) — the global ideal list (containment theorem above)."""
    from ..operators.retrieval import TOP_K, _pool_rank
    return (_pool_rank(df, [F.desc("rel"), F.asc("cand_id")], TOP_K)
            .select("query_id", "cand_id", "rel"))


@dataclass(frozen=True)
class Layout:
    """One layout of a store: its directory under the root ('' = the
    root itself), the merge that maps partial rows to merged rows —
    used by the reader AND by the fold — and the reader's output
    columns (empty = as merged)."""
    name: str
    merge: Callable[[DataFrame], DataFrame] = _union
    cols: tuple[str, ...] = ()


ROOT = Layout("")

# bm25gate.write_batch_partials — the anchor (first) layout sets the fold
TF = Layout("tf", cols=("cand_id", "term", "tf"))
DF = Layout("df", sum_by(["term"], "df"))
DL = Layout("dl", cols=("cand_id", "dl"))
CORPUS = Layout("corpus", sum_by([], "n_docs", "sum_dl"))
BLK = Layout("blk", maxmin_by(["term", "block_id"], "max_tf", "min_dl"),
             ("block_id", "term", "max_tf", "min_dl"))
HIST = Layout("", sum_by(["term", "tfc", "dlb"], "n"))
IMPACT = replace(HIST, name="impact")
BM25 = (TF, DF, DL, CORPUS, BLK, IMPACT)

# bm25gate.write_batch_field_partials
TFF = Layout("tff", cols=("cand_id", "term", "field", "tf"))
DLF = Layout("dlf", cols=("cand_id", "field", "dlf"))
FDF = Layout("fdf", sum_by(["term"], "df"))
FSUM = Layout("fsum", sum_by(["field"], "sum_dlf"))
FND = Layout("fnd", sum_by([], "n_docs"))
FBLK = Layout("fblk",
              maxmin_by(["term", "field", "block_id"], "max_tf", "min_dlf"),
              ("block_id", "term", "field", "max_tf", "min_dlf"))
FHIST = Layout("", sum_by(["term", "field", "tfc", "dlbf"], "n"))
FIMPACT = replace(FHIST, name="fimpact")
FIELD = (TFF, DLF, FDF, FSUM, FND, FBLK, FIMPACT)

# truthgate.write_batch_truth_partials
PROX = Layout("prox", cols=("query_id", "cand_id", "n_terms", "min_dist"))
QPOST = Layout("qpost")
QSH = Layout("qsh", cols=("query_id", "qsh"))
PHR = Layout("phr", cols=("query_id", "cand_id"))
NREL = Layout("nrel", sum_by(["query_id"], "n_rel"))
ITOP = Layout("itop", _ideal_top)
TRUTH = (PROX, QPOST, QSH, PHR, NREL, ITOP)

# thetagate.start_theta_stream: the external histogram, at the root
THETA = (HIST,)


def _dir(root: str, layout: Layout) -> str:
    return os.path.join(root, layout.name) if layout.name else root


def partial_path(root: str, layout: Layout, batch_id: int) -> str:
    """The directory one batch's partial of ``layout`` lives in."""
    return os.path.join(_dir(root, layout), f"batch_id={batch_id}")


def write(df: DataFrame, root: str, layout: Layout, batch_id: int) -> None:
    """Persist one batch's partial (overwrite = idempotent replay)."""
    df.write.mode("overwrite").parquet(partial_path(root, layout, batch_id))


def _has_data(path: str) -> bool:
    """Any data file below ``path`` — Spark's file-index rule: names
    starting with '.' or '_' (markers, staging dirs) are not data."""
    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        if any(not f.startswith((".", "_")) for f in files):
            return True
    return False


def batch_ids(root: str, layout: Layout = ROOT) -> dict[int, str]:
    """{batch_id: partition directory} of a layout's batches that hold
    data — the set the merged read scans.  A partition directory with
    no data file (a write that died before its commit) is not a batch.
    Local filesystem, like the writer lock."""
    d = _dir(root, layout)
    if not os.path.isdir(d):
        return {}
    out: dict[int, str] = {}
    for name in os.listdir(d):
        m = _PARTITION.fullmatch(name)
        if m and _has_data(os.path.join(d, name)):
            out[int(m.group(1))] = os.path.join(d, name)
    return out


def parse(path: str) -> tuple[str, str, int] | None:
    """(root, layout, batch_id) of a file under
    ``<root>/<layout>/batch_id=<id>/`` — a local path or ``file:`` URI
    as ``DataFrame.inputFiles()`` lists it; None for anything else
    (remote filesystems, files outside a batch partition)."""
    from urllib.parse import unquote, urlparse
    if path.startswith("file:"):
        path = unquote(urlparse(path).path)
    elif not path.startswith("/"):
        return None
    parts = path.split("/")
    for i in range(len(parts) - 1, 1, -1):
        m = _PARTITION.fullmatch(parts[i])
        if m:
            root = "/".join(parts[:i - 1]) or "/"
            return root, parts[i - 1], int(m.group(1))
    return None


def read(spark: SparkSession, root: str, layout: Layout) -> DataFrame:
    """The merged relation of one layout over all its batches."""
    df = layout.merge(spark.read.parquet(_dir(root, layout)))
    return df.select(*layout.cols) if layout.cols else df


def maybe_read(spark: SparkSession, root: str,
               layout: Layout) -> DataFrame | None:
    """``read``, or None when the store has no such layout (stores
    written before the layout existed).  Probes via the reader
    (PATH_NOT_FOUND / no schema), not a filesystem stat."""
    from pyspark.errors import AnalysisException
    try:
        return read(spark, root, layout)
    except AnalysisException:
        return None


_HELD = threading.local()


@contextmanager
def writer_lock(root: str):
    """Hold ``root``'s single-writer lock: an exclusive, non-blocking
    ``flock`` on ``<root>/.writer.lock``.  Re-entrant within one
    thread (a batch body's own fold); any other holder — another
    stream, thread or process — makes it raise RuntimeError naming
    the store."""
    held = vars(_HELD).setdefault("roots", set())
    key = os.path.realpath(root)
    if key in held:
        yield
        return
    os.makedirs(root, exist_ok=True)
    fd = os.open(os.path.join(root, _LOCK), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(fd)
        raise RuntimeError(
            f"partial store {root} has another writer ({_LOCK} is "
            "held): one store takes one writer at a time") from None
    held.add(key)
    try:
        yield
    finally:
        held.discard(key)
        os.close(fd)


def compact_cadence(compact_every: int | None) -> int:
    """A starter's fold cadence: K > 0 folds every K batches; None or
    K <= 0 never folds."""
    return max(0, int(compact_every or 0))


def start(stream: DataFrame, body: Callable[[DataFrame, int], None],
          checkpoint: str | None = None, *, root: str | None = None,
          compact: Callable[[SparkSession, str], dict] | None = None,
          compact_every: int | None = 0):
    """The one availableNow/foreachBatch starter.  ``body(batch_df,
    batch_id)`` runs once per micro-batch; with ``root`` it runs under
    the store's writer lock, followed every ``compact_every`` batches
    by ``compact(spark, root)`` inside the same lock — the body is the
    store's only writer and batches run serially, so that is the
    between-trigger-cycles window folding needs.  Replay-safe: a fold
    never touches the newest batch (the only one a replay can target),
    and a replayed body's fold finds fewer than two foldable ids."""
    every = compact_cadence(compact_every)

    def each(batch_df: DataFrame, batch_id: int) -> None:
        with writer_lock(root) if root else nullcontext():
            body(batch_df, batch_id)
            if every and (batch_id + 1) % every == 0:
                compact(batch_df.sparkSession, root)

    writer = stream.writeStream.foreachBatch(each)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
