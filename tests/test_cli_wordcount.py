"""The CLI ``wordcount`` / ``replicate`` surface on a generated corpus.

Needs no reference checkout: the oracle is a pure-Python
``collections.Counter`` over the Go ``FieldsFunc(unicode.IsLetter)``
rule (runs of ``str.isalpha`` characters). The corpus covers the
boundary cases of the reference's space-aligned 100 KiB chunking
(chunks/chunks.go:18-47, mapreduce/worker.go:37-89): a token that
straddles a grid boundary, a token that starts exactly on one, a file
ending in a space, multibyte UTF-8 words (some cut by the grid) and a
file smaller than one chunk.
"""

from __future__ import annotations

import collections
import itertools
import math
import os
import random
import subprocess
import sys

from distributed_mapreduce_p2p_spark import __main__ as cli
from distributed_mapreduce_p2p_spark.sources.io import (
    REFERENCE_CHUNK_BYTES,
    files_split_size,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SPLIT_CONF = "spark.sql.files.maxPartitionBytes"
_WORDS = ["the", "whale", "Ahab", "größe", "naïve", "слово", "日本語",
          "λόγος", "café", "a"]


def _tokens(text: str) -> list[str]:
    return ["".join(g) for alpha, g in itertools.groupby(text, str.isalpha)
            if alpha]


def _block(rng: random.Random, nbytes: int) -> str:
    """Words with punctuation and newlines, space-padded to exactly
    ``nbytes`` UTF-8 bytes (at least one trailing space)."""
    out, size = [], 0
    while True:
        w = rng.choice(_WORDS) + rng.choice(["", "", "", ",", ".\n", "--"])
        if size + len(w.encode()) + 1 > nbytes - 1:
            break
        out.append(w)
        size += len(w.encode()) + 1
    text = " ".join(out)
    return text + " " * (nbytes - len(text.encode()))


def write_corpus(d) -> tuple[list[str], str]:
    """Write the boundary-case corpus under ``d``. Returns the paths and
    the sorted ``word count`` lines the CLI must print."""
    rng = random.Random(7)
    C = REFERENCE_CHUNK_BYTES
    files = {
        # "straddling" spans byte C; "exactstart" begins at byte 2C
        "straddle.txt": _block(rng, C - 4) + "straddling "
        + _block(rng, C - 7) + "exactstart tail words\n",
        # "日本語" starts at byte C-1, so the grid cuts its first
        # character; the file ends in a space
        "utf8.txt": _block(rng, C - 1) + "日本語 " + _block(rng, 2 * C),
        "tiny.txt": "Call me Ishmael. Some years ago--never mind how long\n",
    }
    counts: collections.Counter = collections.Counter()
    paths = []
    for name, text in files.items():
        path = os.path.join(str(d), name)
        with open(path, "w", encoding="utf-8", newline="") as fh:
            fh.write(text)
        counts.update(_tokens(text))
        paths.append(path)
    return paths, "".join(f"{w} {c}\n" for w, c in sorted(counts.items()))


def test_corpus_covers_the_chunk_boundary_cases(tmp_path):
    C = REFERENCE_CHUNK_BYTES
    paths, _ = write_corpus(tmp_path)
    straddle, utf8, tiny = (open(p, "rb").read() for p in paths)
    i = straddle.index(b"straddling")
    assert i < C < i + len(b"straddling")
    assert straddle.index(b"exactstart") == 2 * C
    assert straddle[2 * C - 1:2 * C] == b" "
    assert utf8[C] & 0xC0 == 0x80  # inside a multibyte character
    assert utf8.endswith(b" ") and len(utf8) > 2 * C
    assert len(tiny) < C


def test_cli_wordcount_matches_counter_oracle(spark, tmp_path, monkeypatch,
                                             count_jobs):
    """Both scan paths print the oracle's bytes in 2 Spark jobs (the
    count's shuffle and the collect: the driver sorts the collected
    rows, so no range-partition sample or exchange runs), and the
    chunked path's 100 KiB split size does not outlive the command."""
    paths, expected = write_corpus(tmp_path)
    prev = spark.conf.get(_SPLIT_CONF)
    DataFrame = type(spark.range(1))  # the session's concrete class
    collected, real_collect = [], DataFrame.collect

    def collect(self):
        collected.append(self)
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", collect)
    for flags in ([], ["--chunked"]):
        out = str(tmp_path / f"wc{len(flags)}.txt")
        # --cores 8 keeps the shared test session's shuffle width
        with count_jobs() as n:
            assert cli.main(["--cores", "8", "wordcount", *paths, "-o", out,
                             *flags]) == 0
        with open(out, encoding="utf-8") as fh:
            assert fh.read() == expected, flags
        assert spark.conf.get(_SPLIT_CONF) == prev
        assert n[0] == 2, flags
        qe = collected[-1]._jdf.queryExecution()  # noqa: SLF001
        plan = qe.executedPlan().toString()
        assert "rangepartitioning" not in plan.lower(), plan


def test_chunked_scan_has_one_partition_per_grid_range(spark, tmp_path):
    paths, _ = write_corpus(tmp_path)
    prev = spark.conf.get(_SPLIT_CONF)
    grid = sum(math.ceil(os.path.getsize(p) / REFERENCE_CHUNK_BYTES)
               for p in paths)
    with files_split_size(spark, REFERENCE_CHUNK_BYTES):
        assert cli._read(spark, paths, True).rdd.getNumPartitions() == grid
    assert spark.conf.get(_SPLIT_CONF) == prev


def _node_names(df) -> list[tuple[str, str]]:
    """(node, first argument) for every line of the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    out = []
    for line in plan.splitlines():
        words = line.lstrip(" :|+-").split() + [""]
        out.append((words[0], words[1]))
    return out


def test_chunked_wordcount_plan_has_no_python(spark, tmp_path):
    """The ``--chunked`` scan is a JVM text FileScan: no pandas UDF,
    Python UDF or Python data source anywhere in the plan."""
    paths, _ = write_corpus(tmp_path)
    df = cli._wordcount_df(spark, paths, True)
    with files_split_size(spark, REFERENCE_CHUNK_BYTES):
        df.collect()
    nodes = _node_names(df)
    assert ("FileScan", "text") in nodes, nodes
    python = {"MapInPandas", "MapInArrow", "ArrowEvalPython",
              "BatchEvalPython", "BatchScan"}
    bad = [n for n, _ in nodes
           if n in python or "Python" in n or "Pandas" in n]
    assert bad == [], nodes


def test_cli_chunked_wordcount_from_foreign_cwd(tmp_path):
    """A fresh process in a foreign working directory, ``PYTHONPATH``
    unset, the repo put on ``sys.path`` by path (as ``__spark_entry__``
    does). Python workers would not find the package there, so the
    chunked scan must not need one."""
    paths, expected = write_corpus(tmp_path)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    out = str(tmp_path / "wc.txt")
    code = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from distributed_mapreduce_p2p_spark.__main__ import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", code, "--cores", "2", "wordcount",
         "--chunked", *paths, "-o", out],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    with open(out, encoding="utf-8") as fh:
        assert fh.read() == expected


def test_cli_cores_defaults_to_session_contract(spark, tmp_path,
                                                monkeypatch):
    """Without ``--cores`` the CLI leaves the core count to
    ``get_spark`` ($SPARK_GRAFT_CPUS, else all cores)."""
    from distributed_mapreduce_p2p_spark import session

    seen = []

    def fake_get_spark(app_name, cores):
        seen.append(cores)
        return spark

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    src, out = tmp_path / "in.txt", str(tmp_path / "wc.txt")
    src.write_text("one two two\n")
    assert cli.main(["wordcount", str(src), "-o", out]) == 0
    assert cli.main(["--cores", "3", "wordcount", str(src), "-o", out]) == 0
    assert seen == [None, 3]


def _record_mkdtemp(monkeypatch) -> list[str]:
    import tempfile

    made, real = [], tempfile.mkdtemp

    def mkdtemp(*a, **kw):
        made.append(real(*a, **kw))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    return made


def test_cli_replicate_chunked_converges_and_cleans_up(spark, tmp_path,
                                                       monkeypatch):
    from distributed_mapreduce_p2p_spark.streaming.replication import (
        KeyedParquetSink,
    )

    paths, expected = write_corpus(tmp_path)
    made = _record_mkdtemp(monkeypatch)
    sink = str(tmp_path / "sink")
    assert cli.main(["--cores", "8", "replicate", *paths, "-o", sink,
                     "--chunked"]) == 0
    got = KeyedParquetSink(sink, key="word").read(spark).collect()
    lines = sorted(f"{r.word} {r.cnt}\n" for r in got)
    assert "".join(lines) == expected
    assert made and not any(os.path.exists(d) for d in made)


def test_cli_replicate_timeout_fails_loudly(spark, tmp_path, monkeypatch,
                                            capsys):
    """A stream that does not finish in time is an error (rc != 0), not
    a partial row count, and the staging directory is still removed."""
    from pyspark.sql.streaming.query import StreamingQuery

    paths, _ = write_corpus(tmp_path)
    made = _record_mkdtemp(monkeypatch)
    monkeypatch.setattr(StreamingQuery, "awaitTermination",
                        lambda self, timeout=None: False)
    rc = cli.main(["--cores", "8", "replicate", paths[-1], "-o",
                   str(tmp_path / "sink")])
    assert rc != 0
    assert "did not finish" in capsys.readouterr().err
    assert made and not any(os.path.exists(d) for d in made)
