"""Self-tests for the benchmark's own machinery.

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import measure  # noqa: E402
from stream_ref import PriceWatchReference  # noqa: E402

# --- tail percentile --------------------------------------------------------


def test_tail_percentile_keeps_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    pct, value = measure.tail_percentile(samples)
    assert (pct, value) == (90.0, 90.0)
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_small_and_unsorted():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0, 11.0, 10.0, 9.0, 8.0, 7.0, 6.0]  # 11 samples
    pct, value = measure.tail_percentile(samples)
    assert value == 1.0 and pct == pytest.approx(100 / 11)
    assert measure.tail_percentile(samples[:10]) is None
    assert measure.tail_percentile([]) is None


def test_tail_falls_back_to_max_below_90th_percentile():
    assert measure.tail([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert measure.tail([float(i) for i in range(1, 100)]) == (100.0, 99.0)
    assert measure.tail([0.5, 2.0, 1.0]) == (100.0, 2.0)


# --- process-tree CPU -------------------------------------------------------


def test_tree_cpu_counts_a_child_started_after_the_first_reading():
    before = measure.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.4: pass"])
    time.sleep(0.2)
    during = measure.tree_cpu_s()  # the child is listed while it runs
    child.wait()
    after = measure.tree_cpu_s()  # and counted in our children's times once reaped
    assert during - before > 0.05
    assert after - before >= 0.35


# --- span self time ---------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    # parent [0, 10]; children overlap [1, 4] and [3, 6], plus [8, 12]
    # which is clipped to [8, 10]: covered 5 + 2.
    assert measure.self_time(0, 10, [(1, 4), (3, 6), (8, 12)]) == pytest.approx(3)
    assert measure.self_time(0, 10, []) == 10
    assert measure.self_time(0, 10, [(11, 12), (-5, -1)]) == 10


def test_spans_self_times_by_parent(tmp_path):
    spans = measure.Spans("r")
    q = spans.add("query", 0.0, 10.0)
    spans.add("registry.build", 0.0, 3.0, q)
    spans.add("catalyst.optimize", 3.0, 3.5, q)
    e = spans.add("executor.action", 3.5, 9.0, q)
    spans.add("stage", 4.0, 5.0, e)
    selfs = spans.self_times()
    assert selfs[q] == pytest.approx(1.0)
    assert selfs[e] == pytest.approx(4.5)
    path = tmp_path / "t.json"
    spans.dump(str(path))
    dumped = json.loads(path.read_text())
    assert dumped["run"] == "r" and dumped["spans"][0]["self_s"] == pytest.approx(1.0)
    assert {s["parent"] for s in dumped["spans"]} == {None, q, e}


# --- generator --------------------------------------------------------------


def _tables(d: Path) -> dict:
    return {t: pq.read_table(d / f"{t}.parquet") for t in gen.TABLES}


def test_snapshot_deterministic_per_seed(tmp_path):
    gen.make_snapshot(tmp_path / "a", 7, 2)
    gen.make_snapshot(tmp_path / "b", 7, 2)
    gen.make_snapshot(tmp_path / "c", 8, 2)
    a, b, c = _tables(tmp_path / "a"), _tables(tmp_path / "b"), _tables(tmp_path / "c")
    for t in gen.TABLES:
        assert a[t].equals(b[t]), t
    assert not a["documents"].equals(c["documents"])
    assert not a["orders"].equals(c["orders"])


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_snapshot_fk_consistent(tmp_path, seed):
    copies = 3
    rows = gen.make_snapshot(tmp_path / "s", seed, copies)
    base_rows = {t: pq.read_metadata(gen.BASE_DIR / f"{t}.parquet").num_rows for t in gen.TABLES}
    for t in gen.TABLES:
        assert rows[t] == base_rows[t] * (copies if t in gen.SHIFTS else 1), t
    # Orphans scale with the copies: shifts never break or create a join.
    base = gen.orphan_counts(gen.BASE_DIR)
    snap = gen.orphan_counts(tmp_path / "s")
    for fk, n in base.items():
        child = fk.split(".")[0]
        assert snap[fk] == n * (copies if child in gen.SHIFTS else 1), fk
    docs = pq.read_table(tmp_path / "s" / "documents.parquet")
    assert docs["doc_id"].to_pylist() == sorted(set(docs["doc_id"].to_pylist()))
    # Permuted text keeps its own length column.
    assert all(len(t) == n for t, n in zip(docs["text"].to_pylist(), docs["n_chars"].to_pylist()))


def test_snapshot_never_rewrites(tmp_path):
    gen.make_snapshot(tmp_path / "s", 1, 1)
    with pytest.raises(FileExistsError):
        gen.make_snapshot(tmp_path / "s", 2, 1)


def test_ticks_deterministic_and_unique_pairs():
    a = gen.tick_rows(5, 3, variants=20, sellers=4)
    assert a == gen.tick_rows(5, 3, variants=20, sellers=4)
    assert a != gen.tick_rows(5, 4, variants=20, sellers=4)
    assert len({(v, s) for v, s, _, _ in a}) == len(a) == 80
    assert {ts for _, _, ts, _ in a} == {gen.TICK_EPOCH_S + 3}


# --- stream reference -------------------------------------------------------


def _feed(ref, prices_by_tick):
    out = []
    for tick, prices in enumerate(prices_by_tick):
        out.append(ref.tick([("v", s, tick, p) for s, p in prices.items()]))
    return out


def test_reference_flags_third_undercut_in_five():
    # Seller "a" undercuts (price <= min + 50) on ticks 0, 2, 4.
    ticks = [
        {"a": 100, "b": 100},
        {"a": 300, "b": 100},
        {"a": 150, "b": 100},
        {"a": 300, "b": 100},
        {"a": 140, "b": 100},
        {"a": 300, "b": 100},
        {"a": 300, "b": 100},
    ]
    out = _feed(PriceWatchReference(), ticks)
    flag_a = [dict((s, f) for _, s, _, _, f in rows)["a"] for rows in out]
    # Ring of 5: ticks 0..4 hold 3 undercuts; at tick 5 the window is
    # 1..5 (2 undercuts); tick 6 is 2..6 (2 undercuts).
    assert flag_a == [False, False, False, False, True, False, False]
    flag_b = [dict((s, f) for _, s, _, _, f in rows)["b"] for rows in out]
    assert flag_b == [False, False, True, True, True, True, True]


def test_reference_zero_price_never_undercuts_nor_sets_minimum():
    out = _feed(PriceWatchReference(), [{"a": 0, "b": 500}] * 4)
    assert [[f for *_, f in rows] for rows in out] == [
        [False, False], [False, False], [False, True], [False, True]]
    out = _feed(PriceWatchReference(), [{"a": 0, "b": 0}] * 4)
    assert not any(f for rows in out for *_, f in rows)


def test_reference_matches_engine_group_function():
    """The reference agrees with the stream's per-group update function,
    driven tick by tick with an in-memory state."""
    pd = pytest.importorskip("pandas")
    watch = pytest.importorskip("kaspi_etl_spark.streaming.watch")

    class State:
        def __init__(self):
            self.value = None

        @property
        def exists(self):
            return self.value is not None

        @property
        def get(self):
            return self.value

        def update(self, v):
            self.value = v

    ref, states, got, want = PriceWatchReference(), {}, [], []
    for tick in range(12):
        rows = gen.tick_rows(9, tick, variants=6, sellers=5)
        want += ref.tick(rows)
        pdf = pd.DataFrame(rows, columns=["variantId", "seller", "ts", "price"])
        for v, group in pdf.groupby("variantId"):
            state = states.setdefault(v, State())
            for out in watch._flag_group((v,), iter([group]), state):
                got += [(r.variantId, r.seller, int(r.ts), int(r.price), bool(r.isPriceBot))
                        for r in out.itertuples()]
    assert sorted(got) == sorted(want)
    assert any(f for *_, f in want) and not all(f for *_, f in want)


# --- launcher ---------------------------------------------------------------


def test_launcher_fails_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "base"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard_warm", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
