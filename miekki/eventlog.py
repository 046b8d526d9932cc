"""Spark event-log reading: the one reader of event-log files.

A log is JSON lines, one listener event per line, either plain or
zstd-compressed (a ``.zstd`` file, Spark 4's default codec). The log
of a live application grows while it is read and its last line may be
only partly flushed, so readers resume from a byte offset.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
from collections.abc import Iterator
from contextlib import contextmanager
from typing import BinaryIO


@contextmanager
def _stream(path: str) -> Iterator[BinaryIO]:
    """The decompressed bytes of the log. A ``.zstd`` file streams
    through the zstd CLI, whose exit code is checked once the stream
    is drained: a truncated or corrupt file raises instead of passing
    for a short log."""
    if not path.endswith(".zstd"):
        with open(path, "rb") as f:
            yield f
        return
    with subprocess.Popen(["zstd", "-d", "-c", path],
                          stdout=subprocess.PIPE) as p:
        yield p.stdout
        p.stdout.close()
        if p.wait() != 0:
            raise RuntimeError(
                f"zstd -d failed on {path} (exit {p.returncode})")


def _skip(f: BinaryIO, n: int) -> None:
    if f.seekable():
        f.seek(n)
        return
    while n > 0:
        chunk = f.read(min(n, 1 << 20))
        if not chunk:
            return
        n -= len(chunk)


def events(path: str, offset: int = 0) -> Iterator[tuple[int, dict]]:
    """``(end, event)`` for each complete line of the event log at
    ``path`` from byte ``offset`` of its decompressed stream on;
    ``end`` is the offset just past the line, where the next read
    resumes. A line that ``offset`` cuts is skipped, and an incomplete
    last line is left for the next read."""
    with _stream(path) as f:
        if offset:
            _skip(f, offset - 1)
            if f.read(1) != b"\n":
                rest = f.readline()
                if not rest.endswith(b"\n"):
                    return
                offset += len(rest)
        for line in f:
            if not line.endswith(b"\n"):
                return
            offset += len(line)
            yield offset, json.loads(line)


class Tail:
    """Follows the event log of a live session, which must log to one
    uncompressed file (``spark.eventLog.rolling.enabled`` and
    ``spark.eventLog.compress`` false). Construction marks the log's
    end; each ``take()`` returns the events logged since the mark and
    moves the mark past them. Stage and job completions are flush
    events, so once the listener bus drains the log holds every job
    that has finished."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        log_dir = self.sc.getConf().get("spark.eventLog.dir")
        app = self.sc.applicationId
        paths = [p for p in glob.glob(
                 os.path.join(log_dir.removeprefix("file:"), "*"))
                 if app in os.path.basename(p)]
        if len(paths) != 1:
            raise FileNotFoundError(
                f"want one event log for {app} in {log_dir}, got {paths}")
        self.path = paths[0]
        self._drain()
        self.offset = os.path.getsize(self.path)

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def take(self) -> list[dict]:
        self._drain()
        out = []
        for self.offset, ev in events(self.path, self.offset):
            out.append(ev)
        return out
