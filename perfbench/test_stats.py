"""Checks of the benchmark's own arithmetic on synthetic inputs.

Run: python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import stats


def test_percentile_interpolates_like_numpy():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert stats.percentile(xs, 0) == 10.0
    assert stats.percentile(xs, 100) == 40.0
    assert stats.percentile(xs, 50) == 25.0
    assert stats.percentile(list(reversed(xs)), 50) == 25.0
    assert stats.percentile(xs, 90) == pytest.approx(37.0)


def test_tail_percentile_needs_ten_samples_beyond():
    # 19 samples: even the median has only 9 beyond it
    assert stats.tail_percentile(list(range(19))) == {"p": None, "value": None, "n": 19}
    # 20 samples: median supported (10 beyond), p90 not (2 beyond)
    t = stats.tail_percentile(list(range(20)))
    assert (t["p"], t["n"]) == (50.0, 20)
    # 100 samples: p90 has exactly 10 beyond, p95 only 5
    t = stats.tail_percentile([float(i) for i in range(100)])
    assert (t["p"], t["n"]) == (90.0, 100)
    assert t["value"] == pytest.approx(89.1)
    # 1000 samples: p99 has 10 beyond, p99.9 only 1
    assert stats.tail_percentile(list(range(1000)))["p"] == 99.0


def test_beyond_counts_by_rank():
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(101, 90) == 10
    assert stats.beyond(110, 90) == 11
    assert stats.beyond(10, 50) == 5


def test_prefix_self_times():
    spans = [("scan", 0.5), ("decode", 2.0), ("pipeline", 2.25), ("encode", 4.0)]
    assert stats.prefix_self_times(spans) == {
        "scan": 0.5, "decode": 1.5, "pipeline": 0.25, "encode": 1.75,
    }
    # a layer cheaper than the noise shows as a negative self time
    assert stats.prefix_self_times([("a", 1.0), ("b", 0.9)])["b"] == pytest.approx(-0.1)


def _log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for name, batch in entries:
            f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 0,
                                "batchId": batch}) + "\n")


def test_source_log_batches_reads_compacted_entries_by_own_batch_id(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # compactInterval 10: 9.compact relists batches 0..9; the plain
    # files of batches 0..8 have been deleted, 10 and 11 are plain
    _log(log / "9.compact", [(f"f{b}", b) for b in range(10)])
    _log(log / "10", [("f10a", 10), ("f10b", 10)])
    _log(log / "11", [("f11", 11)])
    (log / ".11.crc").write_text("junk")
    (log / ".12.tmp").write_text("partial")
    got = stats.source_log_batches(str(log))
    assert got["f3"] == 3  # not 9, the compact file's own number
    assert got["f9"] == 9
    assert got["f10a"] == got["f10b"] == 10
    assert got["f11"] == 11
    assert len(got) == 13


def test_source_log_batches_with_stale_plain_file_next_to_compact(tmp_path):
    log = tmp_path / "log"
    log.mkdir()
    _log(log / "8", [("f8", 8)])
    _log(log / "9.compact", [(f"f{b}", b) for b in range(10)])
    assert stats.source_log_batches(str(log))["f8"] == 8
    assert stats.source_log_batches(str(tmp_path / "absent")) == {}


def test_file_latencies_and_missing_files():
    due = {"a": 10.0, "b": 10.1, "c": 10.2, "d": 10.3}
    file_batch = {"a": 1, "b": 1, "c": 2}  # d never read
    commits = {1: 10.5, 2: 11.0}
    lat, missing = stats.file_latencies(due, file_batch, commits)
    assert lat == pytest.approx([0.5, 0.4, 0.8])
    assert missing == ["d"]
    # read by a batch that never committed: missing too
    lat, missing = stats.file_latencies({"a": 1.0}, {"a": 3}, commits)
    assert (lat, missing) == ([], ["a"])


def test_file_latencies_end_to_end_on_fixture_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    _log(log / "9.compact", [(f"p{b}", b) for b in range(10)])
    _log(log / "10", [("p10", 10), ("p11", 10)])
    due = {f"p{i}": 100.0 + i for i in range(12)}
    commits = {b: 100.0 + b + 0.25 for b in range(10)} | {10: 112.0}
    lat, missing = stats.file_latencies(due, stats.source_log_batches(str(log)), commits)
    assert missing == []
    assert lat[:10] == pytest.approx([0.25] * 10)
    assert lat[10:] == pytest.approx([2.0, 1.0])


def test_backlog_max():
    releases = [0.0, 1.0, 2.0, 3.0]
    # each file committed 0.5 s after release: never more than one waiting
    assert stats.backlog_max(releases, [0.5, 1.5, 2.5, 3.5]) == 1
    # nothing commits until 3.5: four waiting at the last release
    assert stats.backlog_max(releases, [3.5] * 4) == 4
    assert stats.backlog_max(releases, [float("inf")] * 4) == 4


def test_output_errors_order_insensitive_and_byte_exact():
    want = [(None, b"a"), (None, b"b"), (None, b"b")]
    assert stats.output_errors(want, list(reversed(want))) == 0
    assert stats.output_errors(want, [(None, b"a"), (None, b"b")]) == 1  # one missing
    assert stats.output_errors(want, want + [(None, b"c")]) == 1  # one extra
    # one wrong byte: a missing record and an extra one, counted once
    assert stats.output_errors(want, [(None, b"a"), (None, b"b"), (None, b"B")]) == 1
    assert stats.output_errors(want, []) == 3


def test_error_rate():
    assert stats.error_rate(1000, 0) == 0.0
    assert stats.error_rate(1000, 25) == 0.025
    assert stats.error_rate(10, 50) == 1.0  # a dead query fails all it attempted
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)


def test_sink_log_parser(tmp_path):
    from perfbench.streams import sink_files

    log = tmp_path / "_spark_metadata"
    log.mkdir()

    def entry(name, size, action="add"):
        return json.dumps({"path": f"file://{tmp_path}/{name}", "size": size,
                           "isDir": False, "modificationTime": 0,
                           "blockReplication": 1, "blockSize": 1, "action": action})

    (log / "9.compact").write_text("v1\n" + "\n".join(entry(f"p{i}", 10) for i in range(10)))
    (log / "10").write_text("v1\n" + entry("p10", 5) + "\n" + entry("p3", 10, "delete"))
    (log / ".11.tmp").write_text("v1\n" + entry("p11", 5))
    last, files = sink_files(str(tmp_path))
    assert last == 10
    names = sorted(os.path.basename(p) for p, _ in files)
    assert names == sorted([f"p{i}" for i in range(11) if i != 3])
    assert sum(s for _, s in files) == 9 * 10 + 5
