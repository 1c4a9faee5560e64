"""Run a bounded Structured Streaming query to completion.

The registry's streaming queries, CLI ``replicate`` and bench.py's
replication head-to-head each drain their input under the availableNow
trigger and then read their sink. Two things must never follow:

- a stream that has not finished leaves a partial sink (a wrong
  answer, not an error) and keeps running into whatever the session
  does next;
- the per-run checkpoint and output dirs pile up in the temp dir.

``run_available_now`` fails loudly and never leaves the query
running; ``scratch_dir`` hands out a temp dir that is removed when
the process exits (the caller's DataFrame reads it lazily, so it
cannot be removed any earlier).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

#: Seconds a stream may take to drain its available input.
STREAM_TIMEOUT_S = 300

#: (creating pid, path) of every ``scratch_dir``.
_DIRS: list[tuple[int, str]] = []


def run_available_now(writer, root: str) -> None:
    """Start ``writer`` (a configured ``DataStreamWriter``) with its
    checkpoint under ``root`` and the availableNow trigger, and block
    until it has processed all available input.

    Raises ``TimeoutError`` naming ``root`` if the query is still
    running after ``STREAM_TIMEOUT_S``; the query is stopped on every
    exit path, so none outlives this call."""
    q = (
        writer.option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError(
                f"stream under {root} did not finish within "
                f"{STREAM_TIMEOUT_S} s"
            )
    finally:
        if q.isActive:
            q.stop()


def scratch_dir(prefix: str) -> str:
    """A fresh temp dir, removed (with its contents) at process exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _DIRS.append((os.getpid(), path))
    return path


@atexit.register
def _remove_scratch_dirs() -> None:
    # a forked child inherits the list but not the dirs' ownership
    pid = os.getpid()
    for owner, path in _DIRS:
        if owner == pid:
            shutil.rmtree(path, ignore_errors=True)
