"""Benchmark-side tests: seeded inputs are byte-identical, the metric
lists match BENCHMARK.json, and the trace arithmetic is right.

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _dirs, names in sorted(os.walk(root)):
        for n in sorted(names):
            path = os.path.join(dirpath, n)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _inputs(seed: int, root: str) -> str:
    sizes = gen.Sizes(mupr_files=40, bodies=3, units=10, tests=10, values=3, mucr_files=2, mucr_lines=30)
    b = gen.mupr_batch(seed, 3, sizes)
    b.write(os.path.join(root, "batch"))
    reqs = gen.readback_requests(seed, b, 8)
    with open(os.path.join(root, "requests.json"), "w") as fh:
        json.dump([(r.kind, r.keys, r.expected_rows, r.expected_hash) for r in reqs], fh)
    return _tree_digest(root)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    c = _inputs(8, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_batch_expectations():
    sizes = gen.Sizes(mupr_files=5, bodies=2, units=6, tests=5, values=2, mucr_files=2, mucr_lines=50)
    b = gen.mupr_batch(1, 0, sizes)
    assert b.mupr_rows == 5 * 6 * 5 * 2
    mupr = dict(b.mupr_cells())
    assert len(mupr) == b.n_mupr_cells == 5 * 6 * 5
    assert all(len(v) == 2 for v in mupr.values())
    assert 0 < b.mucr_valid_lines < b.mucr_lines == 100
    # MUCR qualifiers are flag + hex(len(counter)) + counter, and no cell
    # of the batch shares a key with another
    assert all(q[0] in "PF" and q[2:].startswith("CNT") for _, q in b.mucr_cells)
    assert len(dict(b.cells())) == len(mupr) + len(b.mucr_cells) == gen.cells_digest(b.cells())[0]
    # trigger rows name every data file exactly once
    names = [ln.split(",")[0] for ln in b.trigger_csv.decode().splitlines()[1:]]
    assert sorted(names) == sorted([*(f.name for f in b.files), *b.mucr])


def test_requests_have_absent_keys_and_hashes_are_order_free():
    sizes = gen.Sizes(mupr_files=48, bodies=2, units=10, tests=5, values=2, mucr_files=0, mucr_lines=0)
    b = gen.mupr_batch(1, 0, sizes)
    reqs = gen.readback_requests(1, b, 20)
    gets = [r for r in reqs if r.kind == "get"]
    scans = [r for r in reqs if r.kind == "scan"]
    absent = int(gen.GET_KEYS * gen.ABSENT_SHARE)
    assert len(gets) == 12
    assert all(len(set(r.keys)) == gen.GET_KEYS and r.expected_rows == gen.GET_KEYS - absent for r in gets)
    # every scan reads the lot of rank SCAN_LOT_RANK by file count
    assert len({r.keys for r in scans}) == 1
    per_lot = sorted((sum(f.lot == i for f in b.files) for i in range(gen.N_LOTS)), reverse=True)
    assert scans[0].expected_rows == per_lot[gen.SCAN_LOT_RANK - 1] * 10 * 5 * 2
    rows = gen.decoded_rows(c for c in b.mupr_cells() if c[0][0].startswith(scans[0].keys))
    assert len(rows) == scans[0].expected_rows
    assert gen.rows_hash(rows) == gen.rows_hash(list(reversed(rows))) == scans[0].expected_hash


def test_lot_split_is_the_same_for_every_seed():
    import numpy as np

    sizes = [sorted(np.unique(gen.file_lots(gen._rng(s), 24), return_counts=True)[1]) for s in range(5)]
    assert all(x == sizes[0] for x in sizes)
    assert sum(sizes[0]) == 24 and sizes[0][-1] > sizes[0][0]


def test_benchmark_json_matches_run_lists():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_tail_percentile():
    assert workloads.tail(list(range(10))) is None
    value, pct = workloads.tail([float(i) for i in range(1, 101)])
    assert pct == 90 and value == 90.0  # ten samples above it
    value, pct = workloads.tail([float(i) for i in range(1, 12)])
    assert pct == 9 and value == 1.0


def test_self_time_subtracts_child_cover():
    spans = [
        {"id": 1, "parent": None, "layer": "bench", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "cellstore", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "layer": "cellstore", "start": 3.0, "end": 6.0},
    ]
    out = tracing.self_times(spans)
    assert out["bench"] == 5.0
    assert out["cellstore"] == 6.0
    assert tracing.union_s([(0, 1), (0.5, 2), (3, 4)]) == 3.0
