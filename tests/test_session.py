"""Session defaults derived from the host, and the session as the one
owner of query scratch."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError

from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans import medallion
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.session import (
    default_driver_memory,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.streaming.sinks import (
    drain,
    start_parquet_stream,
)

from conftest import SF_SMOKE

REPO = Path(__file__).resolve().parents[1]


def test_driver_memory_is_three_quarters_of_physical_capped_at_16g():
    assert default_driver_memory(15 << 30) == "11520m"
    assert default_driver_memory(4 << 30) == "3072m"
    assert default_driver_memory(1000 << 20) == "750m"
    assert default_driver_memory(64 << 30) == "16384m"


def test_driver_memory_default_fits_the_host():
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert int(default_driver_memory()[:-1]) << 20 < phys


def test_session_uses_override_else_derived_default(spark):
    expected = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing"


def _checkpoint_file_manager(spark, path):
    """The manager Spark's streaming engine resolves for ``path`` from
    the session's Hadoop conf, as it does at query start."""
    jvm = spark._jvm
    manager = getattr(jvm, f"{_CHECKPOINTING}.CheckpointFileManager")
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return manager.create(jvm.org.apache.hadoop.fs.Path(str(path)), hadoop_conf)


def test_checkpoints_use_the_filesystem_based_manager(spark, tmp_path):
    """Local checkpoints go through FileSystem, not FileContext, whose
    local create and rename start child processes without libhadoop."""
    fm = _checkpoint_file_manager(spark, tmp_path)
    assert (
        fm.getClass().getName()
        == f"{_CHECKPOINTING}.FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_file_is_never_overwritten(spark, tmp_path):
    fm = _checkpoint_file_manager(spark, tmp_path)
    path = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    out = fm.createAtomic(path, False)
    out.write(bytearray(b"committed"))
    out.close()
    out = fm.createAtomic(path, False)
    out.write(bytearray(b"replayed"))
    with pytest.raises(Py4JJavaError, match="already exists"):
        out.close()
    assert (tmp_path / "0").read_bytes() == b"committed"


def test_drained_stream_checkpoint_files_keep_crc(spark, tmp_path):
    src = tmp_path / "src"
    spark.range(10).write.parquet(str(src))
    stream = spark.readStream.schema("id BIGINT").parquet(str(src))
    ckpt = tmp_path / "ckpt"
    drain(start_parquet_stream(stream, path=str(tmp_path / "out"), checkpoint=str(ckpt)))
    assert spark.read.parquet(str(tmp_path / "out")).count() == 10
    for log in ("offsets", "commits"):
        # the committed file and its checksum; no temp file left behind
        assert sorted(os.listdir(ckpt / log)) == [".0.crc", "0"]


#: one session: a scratch dir, a drain-helper registry row and the gold
#: materialization; prints every path they made, then stops the session
_OWNER_SCRIPT = """
import json, os, sys
from urllib.parse import urlparse
sys.path.insert(0, sys.argv[1])
from pyspark import SparkFiles
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans import registry
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.plans.medallion import (
    _gold_table,
)
from cryptopulse_real_time_arbitrage_detection_lakehouse_spark.session import (
    get_spark,
    scratch_dir,
)

sf_dir = sys.argv[2]
spark = get_spark("scratch-owner", shuffle_partitions=4)
root = SparkFiles.getRootDirectory()
drained = registry.get("streaming_gold_candles_availablenow").fn(spark, sf_dir)
gold = _gold_table(spark, sf_dir)
assert drained.count() > 0 and gold.count() > 0
files = drained.inputFiles() + gold.inputFiles()
paths = [root, scratch_dir(spark, "cpowner_")]
paths += sorted({os.path.dirname(urlparse(f).path) for f in files})
assert all(p.startswith(root) for p in paths), (root, paths)
spark.stop()
print("PATHS " + json.dumps(paths))
"""


def test_session_stop_removes_every_scratch_path(tmp_path):
    """Scratch dirs, drained sinks and materialized tables all live under
    the session's root and are gone once the session stops; nothing lands
    in the temp dir or outlives the process under the local dir."""
    tmp, local = tmp_path / "tmp", tmp_path / "local"
    tmp.mkdir()
    local.mkdir()
    script = tmp_path / "owner.py"
    script.write_text(_OWNER_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(local), SPARK_DRIVER_MEMORY="1g"
    )
    out = subprocess.run(
        [sys.executable, str(script), str(REPO), SF_SMOKE],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("PATHS ")]
    assert lines, out.stderr[-3000:]
    paths = json.loads(lines[-1][len("PATHS "):])
    assert len(paths) >= 4  # root, scratch dir, drained sink, gold table
    assert [p for p in paths if os.path.exists(p)] == []
    assert glob.glob(str(tmp / "cp*")) == []
    assert glob.glob(str(local / "*" / "userFiles-*")) == []


def test_gold_materializes_once_and_rebuilds_on_new_events(
    spark, tmp_path, monkeypatch
):
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    events = sf_dir / "events.parquet"
    pq.write_table(pq.read_table(f"{SF_SMOKE}/events.parquet"), events)
    builds = []
    gold = medallion._gold

    def counting_gold(spark, sf_dir):
        builds.append(sf_dir)
        return gold(spark, sf_dir)

    monkeypatch.setattr(medallion, "_gold", counting_gold)

    first = medallion._gold_table(spark, str(sf_dir)).inputFiles()
    again = medallion._gold_table(spark, str(sf_dir)).inputFiles()
    assert len(builds) == 1
    assert first and sorted(again) == sorted(first)

    st = os.stat(events)
    os.utime(events, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    rebuilt = medallion._gold_table(spark, str(sf_dir))
    assert len(builds) == 2
    assert set(rebuilt.inputFiles()).isdisjoint(first)
    assert rebuilt.count() == spark.read.parquet(*first).count()
