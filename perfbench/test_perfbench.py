"""Self-tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import random
import sys
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, gate, workloads  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import Span, self_time  # noqa: E402


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


@pytest.mark.parametrize("name", sorted(workloads.GENERATORS))
def test_generator_is_byte_identical_for_a_seed(name, tmp_path):
    a = workloads.write_inputs(workloads.build(name, 7), str(tmp_path / "a"))
    b = workloads.write_inputs(workloads.build(name, 7), str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    workloads.write_inputs(workloads.build(name, 8), str(tmp_path / "c"))
    assert _files(tmp_path / "c") != _files(tmp_path / "a")


@pytest.fixture(scope="module")
def frontier():
    wl = workloads.build("frontier", 3)
    exp = gate.expect(wl)
    # an observation equal to the oracle's own crawl
    obs = gate.Observed(
        seen=set(exp.seen),
        fetch=Counter(exp.fetch),
        batches=dict(exp.batches),
        verify_rows=0,
        verify_bad=0,
    )
    return wl, exp, obs


def test_gate_accepts_the_oracle_crawl(frontier):
    wl, exp, obs = frontier
    assert exp.fetch and exp.seen
    assert any(gate.robots_blocked(u, wl.robots) for u in wl.seeds), (
        "the workload should hold robots-disallowed URLs"
    )
    assert gate.problems(wl, exp, obs) == []


@pytest.mark.parametrize("field", ["seq_in_host", "planned_at_s", "batch"])
def test_gate_rejects_a_perturbed_fetch_log_row(frontier, field):
    wl, exp, obs = frontier
    row = sorted(obs.fetch)[0]
    i = {"batch": 0, "seq_in_host": 3, "planned_at_s": 4}[field]
    bad = list(row)
    bad[i] = bad[i] + 1
    fetch = Counter(obs.fetch)
    fetch[row] -= 1
    fetch[tuple(bad)] += 1
    probs = gate.problems(wl, exp, gate.Observed(
        obs.seen, +fetch, obs.batches, 0, 0
    ))
    assert any(p.startswith("fetch_log") for p in probs)


def test_gate_rejects_a_duplicated_fetch_and_a_missing_seen_key(frontier):
    wl, exp, obs = frontier
    fetch = Counter(obs.fetch)
    fetch[sorted(fetch)[0]] += 1
    assert gate.problems(wl, exp, gate.Observed(
        obs.seen, fetch, obs.batches, 0, 0
    ))
    seen = set(obs.seen)
    seen.pop()
    assert gate.problems(wl, exp, gate.Observed(
        seen, obs.fetch, obs.batches, 0, 0
    ))


def test_gate_rejects_verify_failures_and_blocked_fetches(frontier):
    wl, exp, obs = frontier
    assert gate.problems(wl, exp, gate.Observed(
        obs.seen, obs.fetch, obs.batches, 10, 1
    ))
    blocked = next(u for u in wl.seeds if gate.robots_blocked(u, wl.robots))
    fetch = Counter(obs.fetch)
    fetch[(9, blocked, "h", 1, 0.0)] += 1
    assert any("robots-disallowed" in p for p in gate.problems(
        wl, exp, gate.Observed(obs.seen, fetch, obs.batches, 0, 0)
    ))


def test_span_self_time_is_never_negative():
    rng = random.Random(5)
    for _ in range(500):
        p = Span(0, "batch", 10.0, 10.0 + rng.random() * 5, None)
        spans = [p]
        for i in range(rng.randint(0, 6)):
            a = p.start - 1 + rng.random() * 7
            spans.append(Span(i + 1, "x", a, a + rng.random() * 3, 0))
        st = self_time(spans, p)
        assert 0.0 <= st <= p.end - p.start + 1e-12


def test_span_self_time_subtracts_the_union_of_children():
    p = Span(0, "batch", 0.0, 10.0, None)
    kids = [Span(1, "a", 1.0, 3.0, 0), Span(2, "b", 2.0, 4.0, 0),
            Span(3, "c", 9.0, 12.0, 0), Span(4, "d", 5.0, 6.0, 1)]
    assert self_time([p] + kids, p) == pytest.approx(10.0 - 3.0 - 1.0)


def test_event_log_is_summed_per_window(tmp_path):
    def task(finish_ms, cpu_ns, written):
        return {
            "Event": "SparkListenerTaskEnd",
            "Task Info": {"Finish Time": finish_ms},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": 10,
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 2**20,
                "Shuffle Read Metrics": {
                    "Remote Bytes Read": 0, "Local Bytes Read": 2**20,
                },
                "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1_000},
        task(1_500, 2 * 10**9, 2**21),
        {"Event": "SparkListenerJobStart", "Submission Time": 5_000},
        task(5_500, 10**9, 0),
        {"Event": "SparkListenerStageCompleted"},
    ]
    app = tmp_path / "eventlog_v2_local-1"  # what Spark 4 writes by default
    app.mkdir()
    (app / "events_1_local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events)
    )
    (app / "appstatus_local-1").write_text("")
    log = eventlog.load(str(tmp_path))
    w = eventlog.window(log, 0.5, 2.0)
    assert w == {
        "jobs": 1, "executor_cpu_s": 2.0, "gc_s": 0.01,
        "shuffle_write_mb": 2.0, "shuffle_read_mb": 1.0, "spill_mb": 1.0,
    }
    assert eventlog.window(log, 0.0, 10.0)["jobs"] == 2
    assert eventlog.window(log, 6.0, 7.0)["jobs"] == 0


def test_benchmark_json_matches_the_runner():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.GENERATORS)
    for w in spec["workloads"]:
        assert w["why"] == workloads.WHY[w["name"]]
