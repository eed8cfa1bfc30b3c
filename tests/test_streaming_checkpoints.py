"""What a streaming micro-batch costs the driver in checkpoint files.

pip PySpark ships Hadoop without its native library, so the local
FileSystem runs a `chmod` process for each file and directory it creates,
and the default checkpoint manager's rename runs a `readlink` process for
each file it commits. session.get_spark pins the FileSystem-based
checkpoint manager, whose rename runs no `readlink`, and
streaming.run_to_memory starts its bounded replays without checksum
sidecars (fewer files) or a trailing no-data batch.
These tests pin both settings, that the replay confs never outlive the
replay, how many processes a replay spawns, how many micro-batches
each streaming registry entry runs, and that q179's work directory does
not outlive the process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from pandaspark.queries import REGISTRY
from pandaspark.streaming import _REPLAY_CONFS, run_to_memory

from .conftest import SF_DIR, paced_stream

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# q165's build at sf0.001 on 2 shuffle partitions spawns 26 chmod: the
# local FileSystem sets the permission of every checkpoint and state-store
# file it creates (and of its Hadoop .crc), and of every directory the
# sink's metadata log and the state store make. Under the default
# checkpoint manager and with checksum sidecars it spawned 110 (80
# readlink, 30 chmod); the readlinks go with the FileSystem-based manager,
# 4 chmod with the sidecars.
_Q165_CHMOD_MAX = 26


def test_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    jvm = spark._jvm
    companion = getattr(
        jvm.org.apache.spark.sql.execution.streaming.checkpointing, "CheckpointFileManager$"
    )
    manager = getattr(companion, "MODULE$").create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def test_replay_confs_read_their_old_values_after_the_replay(spark, tmp_path):
    """run_to_memory puts the session's confs back after a replay that
    finishes, one whose query fails while it runs, and one that fails at
    start()."""
    src = tmp_path / "src"
    spark.range(10).write.parquet(str(src / "f0"))
    stream = paced_stream(spark, str(src) + "/f*")
    before = {k: spark.conf.get(k) for k in _REPLAY_CONFS}
    assert all(v != _REPLAY_CONFS[k] for k, v in before.items())

    assert run_to_memory(stream, "conf_ok", mode="append").count() == 10
    assert {k: spark.conf.get(k) for k in _REPLAY_CONFS} == before

    failing = stream.select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(Exception, match="boom"):
        run_to_memory(failing, "conf_fail", mode="append")
    assert {k: spark.conf.get(k) for k in _REPLAY_CONFS} == before

    # complete mode needs an aggregation: start() itself raises
    with pytest.raises(Exception, match="(?i)complete"):
        run_to_memory(stream, "conf_bad_mode")
    assert {k: spark.conf.get(k) for k in _REPLAY_CONFS} == before


def test_streaming_entries_run_their_micro_batch_counts(spark, monkeypatch):
    """Each bounded replay reads the events file in one micro-batch and
    runs no trailing no-data batch; q179 streams its four-file change feed
    one file per batch."""
    queries = []
    start = DataStreamWriter.start

    def recording_start(self, *a, **k):
        q = start(self, *a, **k)
        queries.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    want = {
        "q165_stream_tumbling": 1,
        "q166_stream_sessions": 1,
        "q176_stream_static_join": 1,
        "q177_stream_stream_join": 1,
        "q178_stream_dedup": 1,
        "q179_stream_cdc": 4,
    }
    got = {}
    for name in want:
        queries.clear()
        REGISTRY[name].fn(spark, SF_DIR)
        (q,) = queries
        got[name] = len({p["batchId"] for p in q.recentProgress})
    assert got == want


def test_q165_replay_spawns_no_readlink_and_few_chmod(tmp_path):
    """Counts the processes q165's build spawns in a fresh get_spark
    session whose PATH starts with logging wrappers of chmod and
    readlink."""
    bin_dir, log = tmp_path / "bin", tmp_path / "spawns.log"
    bin_dir.mkdir()
    log.touch()
    for prog in ("chmod", "readlink"):
        wrapper = bin_dir / prog
        wrapper.write_text(
            f'#!/bin/sh\necho {prog} >> "{log}"\nexec {shutil.which(prog)} "$@"\n'
        )
        wrapper.chmod(0o755)
    child = f"""
import collections, json, sys
sys.path.insert(0, {_REPO!r})
from pandaspark.queries import REGISTRY
from pandaspark.session import get_spark

spark = get_spark("spawn-count")
spark.sparkContext.setLogLevel("ERROR")
def counts():
    with open({str(log)!r}) as f:
        return collections.Counter(f.read().split())
before = counts()
REGISTRY["q165_stream_tumbling"].fn(spark, {SF_DIR!r}).count()
after = counts()
spark.stop()
print(json.dumps({{p: after[p] - before[p] for p in ("chmod", "readlink")}}))
"""
    env = {
        **os.environ,
        "PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        "SPARK_GRAFT_CPUS": "2",
        "PANDASPARK_SHUFFLE_PARTITIONS": "2",
        "SPARK_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", child],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=240,
        check=True,
    )
    spawns = json.loads(out.stdout.strip().splitlines()[-1])
    assert spawns["readlink"] == 0, spawns
    assert spawns["chmod"] <= _Q165_CHMOD_MAX, spawns


def test_q179_work_directory_goes_at_exit(tmp_path):
    """q179 streams its change feed through a feed, store and checkpoint
    under a temp directory; a fresh process that builds and collects it
    leaves no q179_cdc_* directory in its TMPDIR."""
    child = f"""
import sys
sys.path.insert(0, {_REPO!r})
from pandaspark.queries import REGISTRY
from pandaspark.session import get_spark

spark = get_spark("q179-cleanup")
spark.sparkContext.setLogLevel("ERROR")
assert REGISTRY["q179_stream_cdc"].fn(spark, {SF_DIR!r}).collect()
"""
    env = {
        **os.environ,
        "TMPDIR": str(tmp_path),
        "SPARK_GRAFT_CPUS": "2",
        "PANDASPARK_SHUFFLE_PARTITIONS": "2",
        "SPARK_DRIVER_MEM": "1g",
    }
    subprocess.run(
        [sys.executable, "-c", child],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        timeout=240,
        check=True,
    )
    assert sorted(p.name for p in tmp_path.glob("q179_cdc_*")) == []
