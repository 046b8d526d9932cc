"""miekki.eventlog.events over synthetic event-log files, no Spark:
partly flushed tails, offsets that cut a line, and zstd logs read
through the CLI with its exit code checked."""

import json
import shutil
import subprocess

import pytest

from miekki.eventlog import events

pytestmark = pytest.mark.fast

EVS = [{"Event": "SparkListenerJobStart", "Job ID": i,
        "Properties": {"spark.jobGroup.id": f"g{i}"}} for i in range(5)]
LINES = [json.dumps(e).encode() + b"\n" for e in EVS]

needs_zstd = pytest.mark.skipif(shutil.which("zstd") is None,
                                reason="zstd CLI not installed")


def _write(path, data: bytes):
    path.write_bytes(data)
    return str(path)


def test_incomplete_last_line_waits_for_its_newline(tmp_path):
    p = tmp_path / "app-1"
    head = b"".join(LINES[:2])
    _write(p, head + LINES[2][:10])
    got = list(events(str(p)))
    assert [ev for _, ev in got] == EVS[:2]
    end = got[-1][0]
    assert end == len(head)
    assert list(events(str(p), end)) == []
    _write(p, b"".join(LINES[:3]))
    assert list(events(str(p), end)) == [(len(head) + len(LINES[2]), EVS[2])]


def test_offset_inside_a_line_skips_it(tmp_path):
    p = _write(tmp_path / "app-1", b"".join(LINES))
    start1 = len(LINES[0])
    assert [ev for _, ev in events(p, start1)] == EVS[1:]
    assert [ev for _, ev in events(p, start1 + 3)] == EVS[2:]
    assert [ev for _, ev in events(p, start1 - 1)] == EVS[1:]
    # a cut line that is also the incomplete tail yields nothing
    assert list(events(p, len(b"".join(LINES)) - 2)) == []


@needs_zstd
def test_zstd_log_matches_its_plain_twin(tmp_path):
    plain = _write(tmp_path / "app-1", b"".join(LINES))
    z = str(tmp_path / "app-1.zstd")
    subprocess.run(["zstd", "-q", plain, "-o", z], check=True)
    for offset in (0, 3, len(LINES[0]), len(LINES[0]) + len(LINES[1]) + 7):
        assert list(events(z, offset)) == list(events(plain, offset))


@needs_zstd
def test_truncated_zstd_raises(tmp_path):
    plain = _write(tmp_path / "app-1", b"".join(LINES * 200))
    z = tmp_path / "app-1.zstd"
    subprocess.run(["zstd", "-q", plain, "-o", str(z)], check=True)
    cut = _write(tmp_path / "cut.zstd", z.read_bytes()[:-20])
    with pytest.raises(RuntimeError, match="zstd -d failed"):
        list(events(cut))
