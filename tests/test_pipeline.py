"""run_pipeline as one query: the fan-out to every edge, one source read
per epoch, the replay contract of the file edges, the CLI's edge flags,
and Python workers importing the package from any cwd."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import urllib.request

import pytest
from pyspark.errors import StreamingQueryException

from oanda_stream_processor_spark.proto.wire_decode import iter_frames
from oanda_stream_processor_spark.streaming.pipeline import run_pipeline
from oanda_stream_processor_spark.streaming.sinks import (
    FilePublisher, PartitionedFilePublisherFactory)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _frames(*paths: str) -> list[bytes]:
    return sorted(f for p in paths for f in iter_frames(open(p, "rb").read()))


class _Recorder:
    """Single-socket stand-in; ``fail`` makes its first publish raise."""

    def __init__(self, fail: bool = False):
        self.fail = fail
        self.frames: list[bytes] = []

    def publish(self, payload: bytes) -> None:
        if self.fail:
            raise RuntimeError("injected crash after the file edges")
        self.frames.append(payload)


def _source_rows_read(spark, query_id: str) -> int:
    """Rows the query's foreachBatch executions read from the micro-batch
    (``Scan ExistingRDD``; a cached re-read is an InMemoryTableScan), over
    the paged ``/sql`` listing of Spark's REST API."""
    sc = spark.sparkContext
    url = (f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/sql"
           "?details=true&planDescription=false&length=100&offset=")
    rows, offset = 0, 0
    while True:
        with urllib.request.urlopen(url + str(offset), timeout=60) as r:
            page = json.load(r)
        for ex in page:
            if query_id not in ex["description"]:
                continue
            for node in ex["nodes"]:
                if node["nodeName"] == "Scan ExistingRDD":
                    rows += sum(int(m["value"]) for m in node["metrics"]
                                if m["name"] == "number of output rows")
        if len(page) < 100:
            return rows
        offset += 100


def test_one_query_fans_out_to_four_edges(spark, tick_capture, tmp_path,
                                          capsys):
    out = str(tmp_path / "pq")
    base = str(tmp_path / "part")
    single = str(tmp_path / "single.bin")
    before = {q.id for q in spark.streams.active}
    h = run_pipeline(spark, tick_capture,
                     checkpoint_dir=str(tmp_path / "ckpt"),
                     publisher=FilePublisher(single),
                     publisher_factory=PartitionedFilePublisherFactory(base),
                     verbose=True, parquet_out=out)
    try:
        assert {q.id for q in spark.streams.active} - before == {h.query.id}
        h.process_all_available()
    finally:
        h.stop()
    assert "Batch: 0" in capsys.readouterr().out
    # 3 ticks + 1 heartbeat published; Unknown is kept in the parquet rows
    assert len(_frames(single)) == 4
    assert len(_frames(*glob.glob(base + ".*"))) == 4
    rows = spark.read.parquet(out)
    assert "batch_id" in rows.columns and rows.count() == 5
    # four edges, one read of the epoch's 5 routed rows: the rest hit
    # the cache
    assert _source_rows_read(spark, h.query.id) == 5


def _crash_once(base: str, marker: str):
    """A partitioned factory whose first publisher raises after its frame
    file is written and closed (the marker file makes it once: the
    factory runs in the Python workers)."""
    inner = PartitionedFilePublisherFactory(base)

    def factory(epoch, partition):
        pub = inner(epoch, partition)
        if not os.path.exists(marker):
            open(marker, "w").close()

            def crash(close=pub.close):
                close()
                raise RuntimeError("injected crash after the publish")
            pub.close = crash
        return pub
    return factory


def _run(spark, capture, tmp, publisher, factory=None):
    h = run_pipeline(spark, capture, checkpoint_dir=str(tmp / "ckpt"),
                     publisher=publisher,
                     publisher_factory=factory or
                     PartitionedFilePublisherFactory(str(tmp / "part")),
                     parquet_out=str(tmp / "pq"))
    try:
        h.process_all_available()
    finally:
        h.stop()


def _published(tmp) -> list[bytes]:
    return _frames(*glob.glob(str(tmp / "part") + ".*"))


def _rows(spark, tmp) -> list:
    return sorted((r.batch_id, r.raw)
                  for r in spark.read.parquet(str(tmp / "pq")).collect())


@pytest.mark.parametrize("crash", ["partitioned", "single"])
def test_replayed_epoch_rewrites_the_file_edges(spark, tick_capture,
                                                tmp_path, crash):
    """An epoch that fails inside the partitioned edge after its frames
    are written, or in the single-socket edge after both file edges ran,
    is replayed from the checkpoint on restart: the file edges overwrite
    what the first attempt wrote, the socket gets the epoch once more."""
    clean = tmp_path / "clean"
    recorder = _Recorder()
    _run(spark, tick_capture, clean, recorder)
    frames = _published(clean)
    assert len(frames) == 4

    crashed = tmp_path / "crashed"
    factory = None
    if crash == "partitioned":
        factory = _crash_once(str(crashed / "part"), str(tmp_path / "once"))
    with pytest.raises(StreamingQueryException):
        _run(spark, tick_capture, crashed,
             _Recorder(fail=crash == "single"), factory)
    assert _published(crashed) == frames  # published, then failed
    again = _Recorder()
    _run(spark, tick_capture, crashed, again, factory)
    assert _published(crashed) == frames
    rows = _rows(spark, clean)
    assert len(rows) == 5 and _rows(spark, crashed) == rows
    assert sorted(again.frames) == sorted(recorder.frames)


def test_cli_publish_flags_are_exclusive(monkeypatch, tick_capture):
    from oanda_stream_processor_spark import __main__ as cli
    from oanda_stream_processor_spark import session

    monkeypatch.setattr(session, "get_spark", lambda **_: pytest.fail(
        "a Spark session started"))
    with pytest.raises(SystemExit) as exc:
        cli.main(["--replay", tick_capture, "--publish", "tcp://*:9500",
                  "--publish-file", "out.bin"])
    assert exc.value.code == 2


_WORKER_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from oanda_stream_processor_spark.functions.ticks import (
    derive_tick_columns, nonblank_lines, route)
from oanda_stream_processor_spark.session import get_spark
from oanda_stream_processor_spark.sources.ndjson import read_tick_lines
from oanda_stream_processor_spark.streaming.sinks import (
    PartitionedFilePublisherFactory, publish_batch_partitioned)
spark = get_spark(master="local[1]", shuffle_partitions=1)
df = derive_tick_columns(route(nonblank_lines(read_tick_lines(
    spark, {capture!r}))))
print("published", publish_batch_partitioned(
    df, PartitionedFilePublisherFactory("out")))
spark.stop()
"""


def test_workers_import_the_package_from_any_cwd(tick_capture, tmp_path):
    """The driver finds the package through sys.path, the way the tools
    do; its Python workers start in a cwd without it and no PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = _WORKER_SCRIPT.format(repo=REPO, capture=tick_capture)
    res = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert res.returncode == 0, res.stderr[-2000:]
    assert "published 4" in res.stdout


@pytest.mark.skipif(
    not os.path.isfile(os.path.join(os.environ.get("SPARK_HOME", ""),
                                    "python", "pyspark", "__init__.py")),
    reason="no unzipped pyspark under $SPARK_HOME/python to import from")
def test_workers_import_pyspark_unzipped(spark):
    """Each Python task re-reads the directory of every zip an importer
    covers (importlib.invalidate_caches), so the workers' daemon
    (daemon.py) imports pyspark from $SPARK_HOME/python, and no importer
    covers pyspark.zip or a jar."""
    def imports(batches):
        import zipimport

        import pyarrow as pa
        import pyspark
        for _ in batches:
            pass
        zips = [p for p, imp in sys.path_importer_cache.items()
                if isinstance(imp, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict(
            {"pyspark": [pyspark.__file__], "zips": [zips]})

    row = spark.range(1).coalesce(1).mapInArrow(
        imports, "pyspark string, zips array<string>").first()
    home = os.path.join(os.environ["SPARK_HOME"], "python")
    assert os.path.realpath(row.pyspark) == os.path.realpath(
        os.path.join(home, "pyspark", "__init__.py"))
    assert not [p for p in row.zips
                if "pyspark.zip" in p or p.endswith(".jar") or ".jar/" in p]
