"""Tests of the benchmark's own helpers; no Spark session needed.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import json
import os
import re
import subprocess
import sys
import time
from collections import Counter

import pytest
import requests

from perfbench import checks, loadgen
from perfbench.fake_ch import FakeClickHouse, decode_rows, last_arrival_by_rotation, line_counts
from perfbench.stats import covering_trigger_ends, freshness, median, percentile, progress_end, tree_cpu_s
from perfbench.tracing import NullTracer, Span, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------- seed determinism

def test_trace_rotation_is_a_function_of_the_seed():
    a = loadgen.trace_rotation(7, 3, 200, loadgen.TRACE_T0_US, 20_000_000)
    b = loadgen.trace_rotation(7, 3, 200, loadgen.TRACE_T0_US, 20_000_000)
    c = loadgen.trace_rotation(8, 3, 200, loadgen.TRACE_T0_US, 20_000_000)
    assert a == b
    assert a.text != c.text


def test_trace_lines_are_fdb_shaped_and_match_expected_rows():
    rot = loadgen.trace_rotation(1, 5, 50, loadgen.TRACE_T0_US, 20_000_000)
    lines = rot.text.splitlines()
    assert len(lines) == len(rot.expected) == 50
    for line, (sev, machine, group, ms, typ, ev_id) in zip(lines, rot.expected):
        ev = json.loads(line)
        assert len(ev) == 20
        assert isinstance(ev["Severity"], int) and isinstance(ev["Time"], float)
        assert (ev["Severity"], ev["Machine"], ev["LogGroup"], ev["Type"], ev["ID"]) == (
            sev, machine, group, typ, ev_id,
        )
        sec, frac = re.search(r'"Time": (\d+)\.(\d{6}),', line).groups()
        assert (int(sec) * 1_000_000 + int(frac)) // 1000 == ms
        assert int(ev_id[:4], 16) == 5


def test_backlog_is_deterministic_and_half_gzipped(tmp_path):
    rows_a = loadgen.backlog(3, str(tmp_path / "a"), 4, 20)
    rows_b = loadgen.backlog(3, str(tmp_path / "b"), 4, 20)
    assert rows_a == rows_b and len(rows_a) == 80
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b"))
    assert sum(n.endswith(".gz") for n in names) == 2
    for n in names:
        pa, pb = tmp_path / "a" / n, tmp_path / "b" / n
        opener = gzip.open if n.endswith(".gz") else open
        with opener(pa, "rt") as fa, opener(pb, "rt") as fb:
            assert fa.read() == fb.read()


def test_live_rotations_continue_the_index_space():
    rots = loadgen.live_rotations(2, 3, 10, first_index=24)
    assert [r.index for r in rots] == [24, 25, 26]
    assert loadgen.live_rotations(2, 3, 10, first_index=24) == rots


def test_tables_are_deterministic():
    assert loadgen.events_table(5, 500).equals(loadgen.events_table(5, 500))
    assert not loadgen.events_table(5, 500).equals(loadgen.events_table(6, 500))
    docs = loadgen.documents_table(5, 200)
    assert docs.equals(loadgen.documents_table(5, 200))
    texts = docs.column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact duplicates are planted


# ------------------------------------------- freshness and coverage

def test_freshness_counts_from_the_scheduled_close():
    scheduled = {0: 10.0, 1: 10.5, 2: 11.0}
    delivered = {0: 10.8, 2: 12.25, 9: 50.0}
    assert freshness(scheduled, delivered) == pytest.approx([0.8, 1.25])


def test_covering_trigger_is_found_from_cumulative_rows():
    # 50 rows closed before the window, then three 100-row rotations;
    # the first trigger took the base and rotation 0, the second took
    # rotations 1 and 2, a third saw nothing new.
    progress = [(150, 1.0), (200, 2.0), (0, 3.0)]
    assert covering_trigger_ends([100, 100, 100], progress, base_rows=50) == [1.0, 2.0, 2.0]
    assert covering_trigger_ends([100, 100], [(150, 1.0)], base_rows=50) == [1.0, None]


def test_progress_end_adds_trigger_duration():
    p = {"timestamp": "2024-01-01T00:00:00.500Z", "durationMs": {"triggerExecution": 1500}}
    assert progress_end(p) == pytest.approx(1_704_067_202.0)


def test_percentiles_interpolate_and_empty_reads_zero():
    assert median([4, 1, 3, 2]) == 2.5
    assert percentile([1, 2, 3, 4], 90) == pytest.approx(3.7)
    assert percentile([], 50) == 0.0


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(1, "outer", None, 0.0, 10.0),
        Span(2, "inner", 1, 1.0, 4.0),
        Span(3, "inner", 1, 3.0, 6.0),  # overlaps the first child
        Span(4, "leaf", 3, 4.0, 5.0),
    ]
    t = self_times(spans)
    assert t["outer"] == pytest.approx(5.0)
    assert t["inner"] == pytest.approx(5.0)
    assert t["leaf"] == pytest.approx(1.0)


def test_null_tracer_times_the_call_and_records_nothing():
    tracer = NullTracer()
    with tracer.span("layer") as s:
        time.sleep(0.01)
    assert s.duration >= 0.01
    assert tracer.spans("layer") == [] and tracer.overhead_s == 0.0


def test_tree_cpu_keeps_the_cpu_of_reaped_children():
    before = tree_cpu_s()
    child = subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"],
        check=True,
    )
    assert child.returncode == 0
    assert tree_cpu_s() - before >= 0.25


# --------------------------------------------- fake endpoint counts

def _row(rot: int, i: int) -> bytes:
    return json.dumps(
        {"severity": 10, "machine": "m", "log_group": "default",
         "time": "2024-01-31T00:00:07.545Z", "type": "T", "id": f"{rot:04x}{i:012x}"},
        separators=(",", ":"),
    ).encode()


def test_fake_endpoint_accounts_rows_per_epoch_and_rotation():
    fake = FakeClickHouse().start()
    try:
        body1 = b"\n".join([_row(1, 0), _row(1, 1), _row(2, 0)])
        body2 = b"\n".join([_row(2, 1), _row(2, 1)]) + b"\n"
        requests.post(fake.url, params={"query": "INSERT"}, data=body1, timeout=10).raise_for_status()
        fake.epoch = 1
        requests.post(fake.url, data=body2, timeout=10).raise_for_status()
        assert fake.rows_received() == 5
        assert fake.rows_received(0) == 3 and fake.rows_received(1) == 2
        assert fake.busy_s > 0
        by_rot = last_arrival_by_rotation(fake.snapshot())
        assert {k: n for k, (_, n) in by_rot.items()} == {1: 2, 2: 3}
        assert by_rot[2][0] == fake.snapshot(1)[0].arrived
        counts = line_counts(fake.snapshot(1))
        assert counts == Counter({_row(2, 1): 2})
        rows = decode_rows(fake.snapshot(0))
        assert rows[0] == (10, "m", "default", 1_706_659_207_545, "T", "0001000000000000")
        with pytest.raises(AssertionError, match="unexpected"):
            checks.same_multiset(counts, Counter({_row(2, 1): 1}))
    finally:
        fake.close()


# ----------------------------------------------- BENCHMARK.json shape

def test_benchmark_json_matches_the_workloads():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
