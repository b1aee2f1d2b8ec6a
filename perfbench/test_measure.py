"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from decimal import Decimal

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import measure  # noqa: E402
from catalog_queries import result_digest  # noqa: E402
from nightly_etl import expected_rollups  # noqa: E402


@pytest.mark.parametrize(
    "n,q,ok",
    [(20, 0.5, True), (19, 0.5, False), (100, 0.9, True), (99, 0.9, False),
     (200, 0.95, True), (199, 0.95, False), (1000, 0.99, True), (999, 0.99, False)],
)
def test_percentile_needs_ten_samples_beyond(n, q, ok):
    assert measure.enough_samples(n, q) is ok
    got = measure.percentile([float(i) for i in range(n)], q)
    assert (got is not None) is ok


def test_percentile_interpolates():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    assert measure.percentile(xs, 0.5) == pytest.approx(50.5)
    assert measure.percentile(xs, 0.9) == pytest.approx(90.1)


def test_highest_percentile():
    assert measure.highest_percentile(19) is None
    assert measure.highest_percentile(20) == 0.5
    assert measure.highest_percentile(150) == 0.9
    assert measure.highest_percentile(200) == 0.95
    assert measure.highest_percentile(5000) == 0.99


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},  # overlaps span 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # runs past its parent
        {"id": 5, "parent": 2, "start": 1.5, "end": 2.5},
    ]
    got = measure.self_times(spans)
    assert got[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[2] == pytest.approx(2.0 - 1.0)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(1.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert measure.self_times([{"id": 7, "parent": None, "start": 2.0, "end": 2.5}]) == {
        7: pytest.approx(0.5)
    }


_BURN = "import time\nt=time.process_time()\nwhile time.process_time()-t<{s}: pass\n{tail}"


def test_tree_cpu_counts_live_and_reaped_children():
    me = os.getpid()
    before = measure.tree_cpu_seconds(me)
    subprocess.run([sys.executable, "-c", _BURN.format(s=0.4, tail="")], check=True)
    reaped = measure.tree_cpu_seconds(me) - before
    assert reaped >= 0.35  # the reaped child's time moved into our cutime

    live = subprocess.Popen(
        [sys.executable, "-c", _BURN.format(s=0.4, tail="time.sleep(30)")]
    )
    try:
        assert live.pid in measure.tree_pids(me)
        deadline = time.time() + 20
        while measure.tree_cpu_seconds(me) - before < reaped + 0.35:
            assert time.time() < deadline, "live child's CPU never showed"
            time.sleep(0.05)
    finally:
        live.kill()
        live.wait(timeout=10)


def test_tree_pss_counts_shared_pages_once():
    me = os.getpid()
    alone = sum(measure.tree_pss(me).values())
    assert alone > 10 * 2**20
    # a forked child shares nearly all our pages: PSS splits them, so the
    # tree's total barely grows, where summed RSS would almost double
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:
        os.close(w)
        os.read(r, 1)
        os._exit(0)
    try:
        os.close(r)
        with_child = measure.tree_pss(me)
        assert sum(with_child.values()) < 1.25 * alone
        assert sum(with_child.values()) > 0.75 * alone
    finally:
        os.close(w)
        os.waitpid(pid, 0)


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 50]
    after = [200, 0, 100, 1500, 0, 0, 0, 200]
    assert measure.steal_share(before, after) == pytest.approx(150 / 1000)


def test_busy_steal_share_ignores_idle_time():
    before = [100, 0, 50, 800, 0, 0, 0, 50]
    after = [200, 0, 100, 9000, 7, 0, 0, 200]  # idle and iowait do not count
    assert measure.busy_steal_share(before, after) == pytest.approx(150 / 300)


def test_fixed_bytes_denominator():
    tbl = pa.table({
        "i64": pa.array([1, 2, None], pa.int64()),  # 2*8 + 1 null
        "i32": pa.array([1, 2, 3], pa.int32()),  # 3*4
        "f64": pa.array([1.5, 2.5, 3.5]),  # 3*8
        "s": pa.array(["ab", None, "ñ"]),  # (4+2) + 1 + (4+2 utf-8 bytes)
        "v": pa.array([[1.0, 2.0], [], None], pa.list_(pa.float32())),  # (4+8) + 4 + 1
        "d": pa.array([Decimal("1.25"), None, Decimal("3.00")], pa.decimal128(18, 2)),  # 2*16+1
    })
    assert measure.fixed_bytes(tbl) == 17 + 12 + 24 + 13 + 17 + 33


def test_fixed_bytes_ignores_the_physical_layout():
    tbl = pa.table({"k": list(range(100)), "s": [f"x{i}" for i in range(100)]})
    chunked = pa.concat_tables([tbl.slice(0, 30), tbl.slice(30)])
    assert measure.fixed_bytes(chunked) == measure.fixed_bytes(tbl)


def test_dir_bytes(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 10)
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b").write_bytes(b"y" * 5)
    assert measure.dir_bytes(str(tmp_path)) == 15


def test_result_digest_ignores_row_and_column_order():
    a = result_digest([(1, "x"), (2, "y")], ["k", "v"])
    b = result_digest([("y", 2), ("x", 1)], ["v", "k"])
    assert a == b
    assert a != result_digest([(1, "x"), (2, "z")], ["k", "v"])
    assert result_digest([(1.0,)], ["k"]) != result_digest([(1,)], ["k"])


def test_expected_rollups_in_integer_cents():
    txns = [
        ("t1", 1001, "PROD100", "2025-06-29 10:00:00", 2, "1.10", "online", "cash"),
        ("t2", 1002, "PROD101", "2025-06-01 10:00:00", 1, "5.00", "online", "cash"),
        ("t3", 9999, "PROD100", "not-a-date", 3, "9.99", "online", "cash"),
        ("t4", 9999, "PROD999", "2025-06-29 23:59:59", 1, "0.05", "online", "cash"),
    ]
    prods = [("PROD100", "p", "hOME gOODS", "b", "1.00"), ("PROD101", "p", "Books", "b", "1.00")]
    custs = [(1001, "n", "e", "c", "k", "2025-01-01", ""), (1002, "n", "e", "c", "k", "2025-01-01", "B")]
    n, by_cat, by_seg = expected_rollups((txns, prods, custs), "2025-06-10")
    assert n == 3
    assert by_cat == {("Home goods", "2025-06-29"): (220, 1), (None, "2025-06-29"): (5, 1)}
    assert by_seg == {"Unknown": (220, 1), "B": (500, 1), None: (5, 1)}
