"""Unit tests for the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random

import pytest

import checks
import run
import spans
import stats
import wire


# --- percentile rule -------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert stats.tail_percentile(range(19)) is None
    # 20 samples: the median has exactly ten beyond it.
    assert stats.tail_percentile(range(1, 21)) == (50, 10)
    # 100 samples: p90 is the highest with ten beyond, p91 has nine.
    assert stats.tail_percentile(range(1, 101)) == (90, 90)


def test_tail_of_one_wire_cycle_is_p75():
    n = sum(k for _, k in wire.READ_MIX)
    xs = list(range(1, n + 1))
    random.Random(0).shuffle(xs)
    assert stats.tail_percentile(xs) == (75, 30)


def test_summary_reports_count_median_and_tail():
    s = stats.summary([3.0] * 25 + [1.0] * 25)
    assert s["n"] == 50 and s["p50"] == 2.0 and s["tail_pct"] == 80
    assert stats.summary([1.0]) == {"n": 1, "p50": 1.0}


# --- span self time --------------------------------------------------------

def _span(sid, name, start, end, parent, op="op"):
    return [sid, name, start, end, parent, op]


def test_self_time_subtracts_covered_child_intervals():
    recs = [
        _span(0, "root", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a: union 1..6 covers 5 s
        _span(3, "c", 5.5, 5.8, 2),
    ]
    selfs = spans.self_times(recs)
    assert selfs[0] == pytest.approx(5.0)
    assert selfs[1] == pytest.approx(3.0)
    assert selfs[2] == pytest.approx(2.7)
    assert selfs[3] == pytest.approx(0.3)


def test_layer_sum_check_flags_double_counted_children():
    ok = [_span(0, "root", 0.0, 2.0, None), _span(1, "a", 0.5, 1.5, 0)]
    assert spans.layer_sum_check(ok, {"op": 2.0}, 0.002, 0.01) == []
    # Two children covering the same interval sum to more than the wall.
    bad = ok + [_span(2, "b", 0.5, 1.5, 0)]
    miss = spans.layer_sum_check(bad, {"op": 2.0}, 0.002, 0.01)
    assert miss and miss[0]["self_sum_s"] == pytest.approx(3.0)


def test_layer_sum_check_flags_time_no_layer_covers():
    recs = [_span(0, "root", 0.0, 2.0, None), _span(1, "a", 0.0, 1.0, 0),
            _span(2, "b", 1.5, 2.0, 0)]
    # Self times add up to the wall whatever the gap 1.0..1.5 holds...
    assert spans.layer_sum_check(recs, {"op": 2.0}, 0.002, 0.01) == []
    # ...but a root that does no work of its own must leave no gap.
    miss = spans.layer_sum_check(recs, {"op": 2.0}, 0.002, 0.01, frozenset({"root"}))
    assert miss and miss[0]["unattributed_s"] == pytest.approx(0.5)
    closed = recs + [_span(3, "c", 1.0, 1.5, 0)]
    assert spans.layer_sum_check(closed, {"op": 2.0}, 0.002, 0.01, frozenset({"root"})) == []


def test_tracer_parents_other_threads_to_the_driving_span():
    import threading

    tracer = spans.Tracer()
    with tracer.op("q1", "root"):
        with tracer.span("outer"):
            th = threading.Thread(target=lambda: _enter_exit(tracer, "worker"))
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
    by_name = {r[1]: r for r in tracer.spans}
    assert by_name["outer"][4] == by_name["root"][0]
    assert by_name["worker"][4] == by_name["outer"][0]
    assert {r[5] for r in tracer.spans} == {"q1"}


def _enter_exit(tracer, name):
    with tracer.span(name):
        pass


def test_patch_function_replaces_imported_bindings(monkeypatch):
    import types
    import sys

    pkg = types.ModuleType("pbx")
    sub = types.ModuleType("pbx.sub")

    def f(x):
        return x + 1

    pkg.f = f
    sub.f = f
    monkeypatch.setitem(sys.modules, "pbx", pkg)
    monkeypatch.setitem(sys.modules, "pbx.sub", sub)
    tracer = spans.Tracer()
    assert spans.patch_function(tracer, pkg, "f", "layer") == 2
    with tracer.op("o", "root"):
        assert sub.f(1) == 2
    assert [r[1] for r in tracer.spans] == ["root", "layer"]


# --- wire_rw model ---------------------------------------------------------

def test_model_follows_the_statement_kinds():
    m = wire.KvModel(seed=5, n=100)
    staging = [(1, 1, 0.25, "m1"), (9, 2, 0.5, "m9"), (700, 3, 0.75, "m700")]
    st = wire.Stream(5, m, staging)
    assert m.get(3) == wire.preload_row(5, 3) and m.get(100) is None
    st.apply({"put": [(1000, 1, 1.5, "i")]})
    st.apply({"odku": [(3, 9, 2.0, "o"), (1001, 9, 2.0, "o")]})
    st.apply({"update": (4, 0.125)})
    st.apply({"delete": 5})
    st.apply({"merge": (1, 0.5)})  # slice id % 8 == 1: ids 1 and 9, not 700
    assert m.get(1000) == (1, 1.5, "i")
    g3, v3, s3 = wire.preload_row(5, 3)
    assert m.get(3) == (g3, v3 + 2.0, s3)
    assert m.get(1001) == (9, 2.0, "o")
    assert m.get(4)[1] == wire.preload_row(5, 4)[1] + 0.125 and m.get(4)[2] == "u4"
    assert 5 not in m and m.get(5) is None and m.gone == [5]
    assert m.get(1) == (wire.preload_row(5, 1)[0], 0.75, "m1")
    assert m.get(9) == (wire.preload_row(5, 9)[0], 1.0, "m9")
    assert 700 not in m
    keys = [r[0] for r in m.rows()]
    assert keys == sorted(set(range(100)) - {5}) + [1000, 1001]


def test_model_group_aggregates_track_every_write():
    m = wire.KvModel(seed=3, n=300)
    rng = random.Random(4)
    for step in range(200):
        k = m.live_key(rng)
        if step % 3 == 0:
            m.remove(k)
        elif step % 3 == 1:
            m.put(k, (rng.randrange(wire.GROUPS), rng.randrange(800) / 8, "x"))
        else:
            m.put(300 + step, (rng.randrange(wire.GROUPS), 0.375, "n"))
    # Deleted keys written again come back without being listed twice.
    m.put(m.gone[0], (0, 1.0, "back"))
    rows = list(m.rows())
    assert len({r[0] for r in rows}) == len(rows)
    for g in range(wire.GROUPS):
        vs = [r[2] for r in rows if r[1] == g]
        assert m.agg(g) == (len(vs), sum(vs) if vs else None)


def test_live_keys_are_live_and_cover_added_keys():
    m = wire.KvModel(seed=1, n=50)
    rng = random.Random(3)
    for _ in range(30):
        m.remove(m.live_key(rng))
    m.put(5000, (1, 0.5, "x"))
    drawn = {m.live_key(rng) for _ in range(2000)}
    assert drawn == {r[0] for r in m.rows()}


def test_preload_rows_carry_a_200_byte_payload():
    g, v, s = wire.preload_row(7, 12345)
    assert (g, v) == (12345 % wire.GROUPS, ((12345 * 7919 + 7) % 1000) / 8)
    assert s.startswith("s12345-") and 190 <= len(s) <= 210
    assert wire.row_digest("abc") == 0x352441C2  # CRC-32 check value of "abc"


def test_stream_is_seeded_and_cycles_have_fixed_shares():
    def statements(seed):
        m = wire.KvModel(seed, n=1000)
        st = wire.Stream(seed, m, wire.staging_rows(seed))
        out = []
        for kind in st.cycle_kinds():
            stmt = st.make(kind)
            out.append((kind, stmt.get("sql"), stmt.get("params")))
            if kind not in ("point", "agg", "range", "dup"):
                st.apply(stmt)
        return out

    a, b = statements(7), statements(7)
    assert a == b and a != statements(8)
    kinds = [k for k, _, _ in a]
    assert sorted(set(kinds) - {"point", "agg", "range"}) == sorted(wire.WRITE_KINDS)
    assert len(kinds) == len(wire.WRITE_KINDS) + sum(n for _, n in wire.READ_MIX)


def test_check_read_compares_with_the_model():
    m = wire.KvModel(seed=2, n=20)
    g, v, s = m.get(4)
    assert wire.check_read("point", {"key": 4}, (["id"], [[4, g, v, s]]), m) is None
    assert wire.check_read("point", {"key": 4}, (["id"], []), m) is not None
    n, sv = m.agg(3)
    assert wire.check_read("agg", {"grp": 3}, (["n", "sv"], [[str(n), repr(sv)]]), m) is None
    rows = [[str(k), repr(v)] for k, v in m.range_rows(2, 6)]
    assert wire.check_read("range", {"range": (2, 6)}, (["id", "v"], rows), m) is None
    assert wire.check_read("range", {"range": (2, 6)}, (["id", "v"], rows[1:]), m) is not None
    assert wire.check_read("agg", {"grp": 3}, ("err", 1105, "x"), m) is not None


def test_preload_sql_matches_the_model():
    sql = wire.preload_sql(123)
    assert f"range(0, {wire.PRELOAD_ROWS}, 1, {wire.PRELOAD_FILES})" in sql
    # The SQL's v expression, evaluated in Python, is preload_row's.
    i = 4321
    assert ((i * 7919 + 123) % 1000) / 8 == wire.preload_row(123, i)[1]


# --- space amplification ---------------------------------------------------

def test_space_amp_counts_visible_files_only(tmp_path):
    table = tmp_path / "t"
    (table / "sub").mkdir(parents=True)
    (table / "part-0.parquet").write_bytes(b"x" * 300)
    (table / "sub" / "part-1.parquet").write_bytes(b"x" * 100)
    (table / ".part-0.parquet.crc").write_bytes(b"x" * 50)
    (table / "_SUCCESS").write_bytes(b"")
    (table / "_staging").mkdir()
    (table / "_staging" / "part-9.parquet").write_bytes(b"x" * 999)
    compact = tmp_path / "c"
    compact.mkdir()
    (compact / "part-0.parquet").write_bytes(b"x" * 200)
    assert stats.dir_bytes(str(table)) == 400
    assert stats.space_amp(stats.dir_bytes(str(table)), stats.dir_bytes(str(compact))) == 2.0
    with pytest.raises(ValueError):
        stats.space_amp(10, 0)


# --- output canonicalisation -----------------------------------------------

def test_integer_columns_with_nulls_compare_as_integers():
    import pandas as pd

    pdf = pd.DataFrame({"a": [1.0, None, 1700000000000001.0], "b": ["x", "y", "z"]})
    rows = checks.frame_rows(pdf, {"a"})
    want = checks.canon_rows(["a", "b"], [(1, "x"), (None, "y"), (1700000000000001, "z")])
    assert rows == want


# --- untraced reference of a traced run ------------------------------------

def test_untraced_reference_reuses_only_a_matching_sidecar(tmp_path, monkeypatch):
    import argparse
    import subprocess

    args = argparse.Namespace(workload="wire_rw", seed=4, seconds=10.0)
    sidecar = {"env": {"code_digest": "abc", "seed": 4, "seconds": 10.0}, "failed": 0,
               "e2e": {"heavy_s": [2.0, 7], "light_s": [3.0, 40]}}
    (tmp_path / "wire_rw-seed4-trace0.json").write_text(json.dumps(sidecar))
    children = []

    def fake_run(cmd, **kwargs):
        children.append(cmd)
        line = {"correct": True, "attempted": 1, "failed": 0,
                "metrics": {"heavy_s": {"value": 1.0}, "light_s": {"value": 1.5}}}
        return subprocess.CompletedProcess(cmd, 0, stdout=json.dumps(line) + "\n")

    monkeypatch.setattr(subprocess, "run", fake_run)
    ref = run.untraced_reference(args, str(tmp_path), "abc")
    assert (ref["source"], ref["e2e_s"], children) == ("sidecar", 5.0, [])
    # Other code: the sidecar is stale, so the command runs untraced.
    ref = run.untraced_reference(args, str(tmp_path), "def")
    assert (ref["source"], ref["e2e_s"], ref["error"]) == ("child", 2.5, None)
    assert children[0][-2:] == ["--trace", "0"] and "10.0" in children[0]


# --- BENCHMARK.json agrees with the entry point ----------------------------

def test_benchmark_json_matches_run_py():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
