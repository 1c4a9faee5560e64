"""``chunktail`` — stream a growing text file as space-terminated
tokens (PySpark 4 SimpleDataSourceStreamReader).

The reference's replication stream is rows appearing over time: the
leader broadcasts one result line at a cadence and peers converge on
the full set (replication/replication.go:156-213). This source is the
Spark-native analog of its *ingest* side: a producer appends
space-delimited tokens to a file; each microbatch emits the tokens
that have become COMPLETE (delimiter-terminated) since the last
checkpointed offset — the same no-split guarantee as the batch
space-aligned chunk scan, applied to a moving end-of-file.

    spark.dataSource.register(ChunkTailDataSource)
    stream = (spark.readStream.format("chunktail")
              .option("max_bytes_per_batch", 1 << 20)
              .load("/data/feed.txt"))

Schema: (pos long, value string) — ``pos`` is the byte offset where
the token starts (a stable, replayable id; the reference keys its
replicated log the same way, by ordinal id).

Offsets are {"pos": N} where N always sits just after a delimiter
(or 0): exactly-once follows from Spark's offset log + deterministic
re-read (``readBetweenOffsets`` re-scans the same byte range on
replay). A trailing token with no terminating delimiter stays
invisible until the producer appends one — visibility == durability
of the delimiter, so a half-written token can never be emitted.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)

_DEFAULT_BATCH_BYTES = 1 << 20


def _tokens_in_range(
    path: str, start: int, end: int, delim: bytes
) -> list[tuple[int, str]]:
    """Tokens fully contained in [start, end); both bounds sit just
    after a delimiter (or at 0), so the range is self-delimiting.
    Returns a LIST — the engine pickles prefetched batches, so the
    result must be materialized, not a generator."""
    with open(path, "rb") as f:
        f.seek(start)
        buf = f.read(end - start)
    out = []
    pos = start
    for raw in buf.split(delim):
        if raw:
            out.append((pos, raw.decode("utf-8", errors="replace")))
        pos += len(raw) + 1
    return out


class ChunkTailStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("chunktail requires a path: .load('/file.txt')")
        self.path = path
        self.delim = options.get("delimiter", " ").encode("utf-8")
        if len(self.delim) != 1:
            raise ValueError("delimiter must be a single byte")
        self.batch_bytes = int(
            options.get("max_bytes_per_batch", _DEFAULT_BATCH_BYTES)
        )

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _aligned_end(self, start: int) -> int:
        """Largest position <= (size, start+batch_bytes) sitting just
        after a delimiter — the visibility horizon for this batch.

        A token longer than batch_bytes must not livelock the stream:
        if the window holds no delimiter but the file continues past
        it, grow the scan until the next delimiter or EOF (the batch
        chunk scan reads past its split end the same way),
        so the offset is guaranteed to advance whenever a complete
        token exists. Only a genuinely unterminated trailing token
        returns ``start`` — it becomes visible when its delimiter is
        durable, by design."""
        try:
            size = os.path.getsize(self.path)
        except FileNotFoundError:
            return start
        hi = min(size, start + self.batch_bytes)
        if hi <= start:
            return start
        with open(self.path, "rb") as f:
            f.seek(start)
            buf = f.read(hi - start)
            last = buf.rfind(self.delim)
            if last >= 0:
                return start + last + 1
            while hi < size:
                step = f.read(min(self.batch_bytes, size - hi))
                if not step:
                    break
                idx = step.find(self.delim)
                if idx >= 0:
                    return hi + idx + 1
                hi += len(step)
        return start

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        a = int(start["pos"])
        b = self._aligned_end(a)
        end = {"pos": b}
        if b <= a:
            return [], end
        return _tokens_in_range(self.path, a, b, self.delim), end

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        a, b = int(start["pos"]), int(end["pos"])
        if b <= a:
            return []
        return _tokens_in_range(self.path, a, b, self.delim)

    def commit(self, end: dict) -> None:
        pass


class ChunkTailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "chunktail"

    def schema(self) -> str:
        return "pos long, value string"

    def simpleStreamReader(self, schema) -> ChunkTailStreamReader:
        return ChunkTailStreamReader(self.options)
