"""Custom Structured Streaming source — the gRPC substreams role
(SURVEY §2.1 S1) as a Spark 4 Python ``DataSourceStreamReader``.

The reference's source is a remote cursor-tracked stream of per-block
entity-change payloads (ref sinker/sinker.go:203-274; the substreams sink
library keeps the cursor).  The transport here is a growing local JSONL
"wire" file standing in for the gRPC channel — the *contract* is identical:

- offsets are line positions (the cursor); Spark checkpoints them and
  resumes exactly where it stopped (T5),
- each microbatch is the half-open line range [start, end),
- the source is replayable from any committed offset (gRPC reconnect +
  cursor replay in the reference),
- a line without an integer ``block_num`` fails the read, naming the file
  and the line cursor (the reference fails at the payload unmarshal).

A production deployment swaps ``_read_lines`` for a gRPC client; nothing
else changes.

Register + use::

    spark.dataSource.register(EntityChangesDataSource)
    df = (spark.readStream.format("entity_changes")
          .option("path", wire_file).load())
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

WIRE_SCHEMA = StructType(
    [
        StructField("block_num", LongType()),
        StructField("seq", LongType()),
        StructField("value", StringType()),
    ]
)


def _block_of(line: str, path: str, seq: int) -> int:
    """Extract ``block_num`` from a wire line.

    The bundler writes it as the object's last member
    (``..., "block_num": N}`` — types.go:3-9 field order), so a tail slice
    beats a full ``json.loads`` by ~8x in this per-line Python hot path;
    any line not matching the fast shape falls back to real JSON parsing.
    A line without an integer ``block_num`` raises ``ValueError`` naming
    the file and its line cursor (``seq``): the reference fails at the
    unmarshal of a corrupt payload.
    """
    idx = line.rfind('"block_num"')
    if idx != -1:
        tail = line[idx + 11 :].lstrip(" :")
        end = tail.find("}")
        if end != -1:
            try:
                return int(tail[:end].strip())
            except ValueError:
                pass
    try:
        block = json.loads(line)["block_num"]
    except (json.JSONDecodeError, TypeError, KeyError):
        block = None
    if type(block) is not int:
        raise ValueError(
            f"wire line without an integer block_num in {path} at line "
            f"cursor (seq) {seq}: {line[:80]!r}"
        )
    return block


class _LineRange(InputPartition):
    def __init__(
        self,
        path: str,
        start: int,
        end: int,
        byte_start: int = 0,
        byte_end: int | None = None,
    ):
        self.path = path
        self.start = start
        self.end = end
        self.byte_start = byte_start  # seek target for line `start`
        self.byte_end = byte_end  # exclusive byte bound for line `end`


# last member of the wire object (types.go:3-9 field order); RE2-compatible
# (pc.extract_regex requires named groups)
_BLOCK_RE = r'"block_num"\s*:\s*(?P<b>-?\d+)\s*\}\s*$'


class EntityChangesStreamReader(DataSourceStreamReader):
    """Line-cursor stream reader over the wire file.

    Driver side, one chunked scan finds every newline offset with numpy
    (C speed; a per-line Python loop costs seconds per microbatch on a
    354 MB backlog) — the scan is memoized on (mtime, size) so
    ``latestOffset`` and ``partitions`` share it.  Task side, each
    partition reads its exact byte range in one call, splits lines, and
    yields ONE Arrow RecordBatch: ``block_num`` extraction vectorizes
    through Arrow's RE2 (falling back to the Python parser only for
    lines the fast pattern misses), and handing Spark a RecordBatch
    skips the per-row tuple -> Arrow conversion entirely.
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("option 'path' (wire JSONL file) is required")
        # partition granularity: ~50k lines (~10 MB of wire JSONL) per
        # task measured ~2x faster than 10k at sf0.1 (fewer Python
        # data-source worker round trips); still 36 tasks for a 354 MB
        # backlog, so local[32] stays saturated
        self.batch_lines = 50_000
        self._scan_key: tuple | None = None
        self._line_starts = None  # np.ndarray: byte offset of each line
        self._file_size = 0

    def initialOffset(self) -> dict:
        return {"line": 0}

    def _scan(self):
        """Byte offset of every line start (numpy newline scan, memoized
        on the file's (mtime_ns, size))."""
        import numpy as np

        if not os.path.exists(self.path):
            return np.zeros(0, dtype=np.int64), 0
        st = os.stat(self.path)
        key = (st.st_mtime_ns, st.st_size)
        if key == self._scan_key:
            return self._line_starts, self._file_size
        nl_pos = []
        off = 0
        with open(self.path, "rb") as fh:
            while True:
                chunk = fh.read(1 << 23)
                if not chunk:
                    break
                arr = np.frombuffer(chunk, dtype=np.uint8)
                pos = np.flatnonzero(arr == 0x0A)
                if pos.size:
                    nl_pos.append(pos.astype(np.int64) + off)
                off += len(chunk)
        nl = (
            np.concatenate(nl_pos)
            if nl_pos
            else np.zeros(0, dtype=np.int64)
        )
        # line i starts after newline i-1; a trailing fragment without a
        # final newline still counts as a line
        starts = np.concatenate(([0], nl + 1))
        if starts.size and starts[-1] >= off:
            starts = starts[:-1]
        self._scan_key, self._line_starts, self._file_size = key, starts, off
        return starts, off

    def latestOffset(self) -> dict:
        starts, _size = self._scan()
        return {"line": int(starts.size)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        """Chunk [start, end) lines; the memoized offset index gives each
        chunk its exact byte range so tasks seek + bulk-read (naive
        per-task line skipping is O(partitions x file) — quadratic on a
        large backlog)."""
        s, e = start["line"], end["line"]
        if s >= e:
            return [_LineRange(self.path, s, s)]
        starts, size = self._scan()
        e = min(e, int(starts.size))
        out = []
        cur = s
        while cur < e:
            nxt = min(cur + self.batch_lines, e)
            out.append(
                _LineRange(
                    self.path,
                    cur,
                    nxt,
                    int(starts[cur]),
                    int(starts[nxt]) if nxt < starts.size else size,
                )
            )
            cur = nxt
        return out or [_LineRange(self.path, s, s)]

    def read(self, partition: _LineRange):
        if partition.end <= partition.start:
            return
        import pyarrow as pa
        import pyarrow.compute as pc

        with open(partition.path, "rb") as fh:
            fh.seek(partition.byte_start)
            if partition.byte_end is not None:
                data = fh.read(partition.byte_end - partition.byte_start)
            else:
                data = fh.read()
        raw = data.split(b"\n")[: partition.end - partition.start]
        seqs, lines = [], []
        for i, ln in enumerate(raw):
            if ln:
                seqs.append(partition.start + i)
                lines.append(ln)
        if not lines:
            return
        values = pa.array(lines, type=pa.string())
        hits = pc.extract_regex(values, _BLOCK_RE).field("b")
        # no-match is null in some pyarrow versions, "" in others
        missed = pc.or_kleene(pc.is_null(hits), pc.equal(hits, ""))
        if pc.any(missed).as_py():
            # fast pattern missed (reordered members / junk line): exact
            # per-line fallback, which raises on a line with no block
            blocks = pa.array(
                [
                    _block_of(v.decode("utf-8", "replace"), partition.path, s)
                    if (m.is_valid and m.as_py())
                    else int(b.as_py())
                    for b, v, m, s in zip(hits, lines, missed, seqs)
                ],
                type=pa.int64(),
            )
        else:
            blocks = pc.cast(hits, pa.int64())
        yield pa.RecordBatch.from_arrays(
            [blocks, pa.array(seqs, type=pa.int64()), values],
            names=["block_num", "seq", "value"],
        )

    def commit(self, end: dict) -> None:
        # cursor durability is Spark's checkpoint; the reference's sink
        # library does the same with the substreams cursor
        pass


class EntityChangesDataSource(DataSource):
    """``format("entity_changes")`` — streaming source of raw change lines
    with (block_num, seq) extracted, seq = global line cursor (the stable
    per-stream order SURVEY §2.3 requires)."""

    @classmethod
    def name(cls) -> str:
        return "entity_changes"

    def schema(self) -> StructType:
        return WIRE_SCHEMA

    def streamReader(self, schema: StructType) -> EntityChangesStreamReader:
        return EntityChangesStreamReader(self.options)
