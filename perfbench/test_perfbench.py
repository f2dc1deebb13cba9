"""Tests of the benchmark's own parts (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

import hashlib
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402

FIXTURE_APP = "local-1792173826931"
FIXTURES = os.path.join(HERE, "testdata")


def _digest(directory):
    """{relative path: sha256} of every file under ``directory``."""
    out = {}
    for base, _, files in os.walk(directory):
        for name in files:
            path = os.path.join(base, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, directory)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


def _rows(directory):
    return {rel: pq.ParquetFile(os.path.join(directory, rel)).metadata.num_rows
            for rel in _digest(directory)}


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_seed_determines_inputs(tmp_path, name):
    cls = workloads.WORKLOADS[name]
    dirs = {}
    for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = tmp_path / tag
        d.mkdir()
        cls(str(d), seed).prepare()
        dirs[tag] = str(d)
    a, b, c = (_digest(dirs[t]) for t in "abc")
    assert a and a == b, "same seed must give byte-identical inputs"
    assert a.keys() == c.keys()
    assert a != c, "another seed must give other inputs"
    assert _rows(dirs["a"]) == _rows(dirs["c"]), "same sizes across seeds"


def test_diamond_reference_matches_brute_force():
    left, right = inputs.diamonds(3, 2_000, 200)
    d = (np.abs(left["cx"][:, None] - right["cx"][None])
         + np.abs(left["cy"][:, None] - right["cy"][None]))
    reach = left["r"][:, None] + right["r"][None]
    # tie-free: no pair is within 1e-4 of touching
    assert np.abs(d - reach).min() > 1e-4
    brute = (d <= reach).sum(axis=0)
    expected = {int(i): int(n) for i, n in enumerate(brute) if n}
    assert inputs.diamond_matches_per_right(left, right) == expected


def test_polygon_wkb_round_trip():
    xs, ys = inputs.notched_polygons(1, 50)
    x, y, closing = inputs.polygon_coords_from_wkb(
        inputs.polygon_wkb(xs, ys), 12)
    assert (x == xs).all() and (y == ys).all()
    assert (closing == np.stack([xs[:, 0], ys[:, 0]], axis=1)).all()
    with pytest.raises(ValueError):
        inputs.polygon_coords_from_wkb(inputs.polygon_wkb(xs, ys), 11)


def test_notched_polygon_shape():
    xs, ys = inputs.notched_polygons(2, 200)
    area = inputs.ring_area(xs, ys)
    hull = inputs.ring_area(xs[:, ::3], ys[:, ::3])
    kept = inputs.ring_area(xs[:, workloads.GeomRowops.SIMPLIFIED],
                            ys[:, workloads.GeomRowops.SIMPLIFIED])
    assert (area > 0).all(), "rings are counter-clockwise"
    assert (hull > area).all() and (np.abs(kept - area) < 1e-3 * area).all()


@pytest.mark.parametrize("layout", ["single", "rolling"])
def test_eventlog_summary(layout):
    paths = eventlog.log_files(os.path.join(FIXTURES, layout), FIXTURE_APP)
    assert len(paths) == (1 if layout == "single" else 2)
    stats = eventlog.summarize(eventlog.read_events(paths))
    assert set(stats) == {"op1:build", "op1:act"}
    build, act = stats["op1:build"], stats["op1:act"]
    # estimate_cell_size and AQE stages run while the join is built
    assert build.jobs == 8 and build.python_nodes == 0
    assert act.jobs == 3 and act.tasks == 3
    # one Arrow refine node above a broadcast equi-join; two exchanges
    assert act.python_nodes == 1 and act.exchanges == 2
    assert act.join_rows == 3731 and act.py_rows == 3731
    assert act.refine_rows == 1942        # the closed-form match count
    assert act.py_bytes_sent == 823872 and act.py_bytes_received == 616
    assert act.shuffle_write_bytes == act.shuffle_read_bytes == 1953
    assert act.py_total_s == pytest.approx(2.084)
    assert act.task_s == pytest.approx(2.756)


def test_eventlog_layouts_agree():
    single, rolling = (eventlog.summarize(eventlog.read_events(
        eventlog.log_files(os.path.join(FIXTURES, layout), FIXTURE_APP)))
        for layout in ("single", "rolling"))
    assert single == rolling


def test_eventlog_refuses_compressed(tmp_path):
    (tmp_path / "app-1.zstd").write_bytes(b"")
    with pytest.raises(ValueError, match="compress"):
        eventlog.log_files(str(tmp_path), "app-1")
    with pytest.raises(FileNotFoundError):
        eventlog.log_files(str(tmp_path), "app-2")
