"""Tail-percentile rule and hard-link-aware storage accounting."""

from __future__ import annotations

import os

from perfbench import measure


def test_tail_needs_ten_samples_beyond():
    # 20 samples: p50 leaves exactly 10 beyond it
    assert measure.tail([float(i) for i in range(1, 21)]) == (50.0, 10.0)
    # 30 samples: p65 leaves 10 beyond (rank 20), p70 would leave 9
    assert measure.tail([float(i) for i in range(1, 31)]) == (65.0, 20.0)
    # 1000 samples: p99 leaves 10 beyond, p99.9 only 1
    assert measure.tail([float(i) for i in range(1, 1001)]) == (99.0, 990.0)


def test_tail_below_twenty_samples_is_the_maximum():
    assert measure.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert measure.tail([float(i) for i in range(19)]) == (100.0, 18.0)


def test_percentile_is_nearest_rank_without_float_drift():
    xs = [float(i) for i in range(1, 21)]
    # 0.55 * 20 is 11.000000000000002 in floating point: rank must be 11
    assert measure.percentile(xs, 55.0) == 11.0
    assert measure.percentile(xs, 100.0) == 20.0


def test_tree_bytes_counts_hard_links_once(tmp_path):
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    (a / "data").write_bytes(b"x" * 1000)
    os.link(a / "data", b / "data_link")
    (b / "other").write_bytes(b"y" * 10)
    assert measure.tree_bytes([str(a), str(b)]) == (1010, 2)
    # the same root twice adds nothing
    assert measure.tree_bytes([str(a), str(a)]) == (1000, 1)


def test_files_bytes_accepts_uris_and_dedups_links(tmp_path):
    f = tmp_path / "f.parquet"
    f.write_bytes(b"z" * 64)
    os.link(f, tmp_path / "g.parquet")
    paths = [f"file://{f}", f"file:{tmp_path / 'g.parquet'}", str(f)]
    assert measure.files_bytes(paths) == 64
