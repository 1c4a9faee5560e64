"""The one streaming harness (streaming/harness.py): a stream that does
not finish is an error and is never left running, every scratch dir is
gone once its process exits, and no other start-and-wait copy is left
in the registry or the CLI. The registry stages its stream inputs
through its one memo store, which ``clear_memos`` empties whole."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from distributed_mapreduce_p2p_spark.streaming import harness
from tests.conftest import REPO, SF_SMALL

PKG = REPO / "distributed_mapreduce_p2p_spark"


def test_registry_stream_timeout_raises_and_stops_the_query(spark,
                                                            monkeypatch):
    """Without the harness this query read a half-written sink (an
    AnalysisException, or a partial answer once a batch had committed)
    and left its stream running into the next query."""
    from pyspark.sql.streaming.query import StreamingQuery

    from distributed_mapreduce_p2p_spark import registry

    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        lambda self, timeout=None: False)
    with pytest.raises(TimeoutError, match="did not finish"):
        registry.QUERIES["stream_static_join"](spark, SF_SMALL)
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle


_EXIT_SCRIPT = textwrap.dedent(
    """
    import json, os, sys, tempfile
    sys.path.insert(0, sys.argv[1])
    from distributed_mapreduce_p2p_spark import registry
    from distributed_mapreduce_p2p_spark.session import get_spark
    spark = get_spark(app_name="harness-exit", cores=2,
                      shuffle_partitions=2)
    made, real = [], tempfile.mkdtemp
    def mkdtemp(*a, **kw):
        made.append(real(*a, **kw))
        return made[-1]
    tempfile.mkdtemp = mkdtemp
    assert registry.QUERIES["streaming_dedup_ttl"](spark, sys.argv[2]).count()
    registry._stage_events(spark, sys.argv[2], ("event_id",))
    assert spark.streams.active == []
    assert made and all(os.path.isdir(d) for d in made)
    print(json.dumps(made))
    """
)


def test_scratch_dirs_are_removed_at_process_exit(tmp_path):
    """The staged input and the per-run checkpoint/output dirs live
    until the process exits (the returned DataFrame reads them
    lazily), and not a moment after."""
    script = tmp_path / "run_one_stream.py"
    script.write_text(_EXIT_SCRIPT)
    # a small heap: this JVM runs beside the suite's own session
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(script), str(REPO), SF_SMALL],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    made = json.loads(proc.stdout.strip().splitlines()[-1])
    # the query's per-run root plus two staged event projections
    assert len(made) == 3
    assert not [d for d in made if os.path.exists(d)]


def test_exit_hook_removes_only_this_process_dirs(tmp_path, monkeypatch):
    mine, inherited = tmp_path / "mine", tmp_path / "inherited"
    mine.mkdir()
    inherited.mkdir()
    monkeypatch.setattr(harness, "_DIRS", [
        (os.getpid(), str(mine)),
        (os.getpid() + 1, str(inherited)),
    ])
    harness._remove_scratch_dirs()
    assert not mine.exists() and inherited.exists()


#: memoized function -> its arguments after (spark, sf_dir)
_MEMOIZED = {
    "_stage_events": (("event_id",),),
    "_stage_corpus_txt": (),
    "_stage_cdc": (),
    "_dedup_cluster_table": (),
    "_bpe_merges": (),
    "_trade_und": (),
    "_trade_edges": (),
}


def test_clear_memos_rebuilds_every_memoized_input(spark):
    """A memo that ``clear_memos`` misses makes a rehearsal rep time a
    memo hit (the undirected trade table was once such a memo)."""
    from distributed_mapreduce_p2p_spark import registry

    def call(name):
        return getattr(registry, name)(spark, SF_SMALL, *_MEMOIZED[name])

    def same(a, b):  # a staged path is rebuilt into a new scratch dir
        return a is b or (isinstance(a, (str, tuple)) and a == b)

    before = {name: call(name) for name in _MEMOIZED}
    assert all(same(call(name), before[name]) for name in _MEMOIZED)
    # defaults are part of the key: the explicit 0.5 is the same entry
    assert registry._dedup_cluster_table(spark, SF_SMALL, 0.5) is (
        before["_dedup_cluster_table"]
    )
    registry.clear_memos()
    stale = [name for name in _MEMOIZED if same(call(name), before[name])]
    assert stale == []


def test_no_hand_rolled_stream_runs_remain():
    registry_src = (PKG / "registry.py").read_text()
    cli_src = (PKG / "__main__.py").read_text()
    assert registry_src.count("awaitTermination") == 0
    assert registry_src.count("tempfile.mkdtemp") == 0
    # every parquet-sink stream runs through registry._event_stream
    assert registry_src.count('writeStream.format("parquet")') == 1
    # and every memo lives in registry._MEMO
    for memo in ("_STAGED_EVENTS", "_CORPUS_TXT_MEMO", "_CLUSTER_MEMO",
                 "_BPE_MERGES_MEMO", "_TRADE_EDGES_MEMO", "_TRADE_UND_MEMO",
                 "_STAGED_CDC"):
        assert memo not in registry_src
    assert cli_src.count("awaitTermination") == 0
    assert "REPLICATE_TIMEOUT_S" not in cli_src
