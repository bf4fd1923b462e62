"""The benchmark's own tests: its statistics, its backlog rule, its metric
names, and that the seed alone decides the generated inputs.

    python -m pytest perfbench/tests -q
"""

import inspect
import json
import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import batch  # noqa: E402
import stream  # noqa: E402
from stats import NAME_RE, backlog_grows, backlog_series, check_name, tail  # noqa: E402


def test_tail_has_ten_samples_beyond_it():
    xs = list(range(1, 101))
    value, pct, n = tail(reversed(xs))
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10
    value, pct, n = tail(range(1, 21))
    assert (value, pct, n) == (10.0, 50.0, 20)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail(range(10))
    assert tail(range(11))[0] == 0.0


def test_steady_sawtooth_backlog_is_not_growing():
    # micro-batches: the backlog climbs while a batch runs, drops at commit
    sawtooth = [k % 5 for k in range(40)]
    assert not backlog_grows(sawtooth)
    assert not backlog_grows([0] * 12)


def test_growing_backlog_is_detected():
    ramp = [k // 2 + k % 3 for k in range(40)]
    assert backlog_grows(ramp)
    # a late rise that stays within the early peak plus slack is not growth
    assert not backlog_grows([3, 0, 3, 0, 3, 0, 4, 4], slack=1)
    with pytest.raises(ValueError):
        backlog_grows([1, 2, 3])


def test_backlog_series_counts_files_due_and_not_committed():
    due = [0.0, 1.0, 2.0]
    done = [1.5, 1.6, 2.5]
    assert backlog_series(due, done, [0.5, 1.2, 1.55, 2.2, 3.0]) == [1, 2, 1, 1, 0]


def test_schedule_rates_follow_the_ladder():
    ticks = stream.schedule(8)
    for stage, mult in enumerate(stream.RATE_STEPS):
        offs = [o for s, o, _ in ticks if s == stage]
        gaps = {round(b - a, 9) for a, b in zip(offs, offs[1:])}
        assert gaps == {round(1 / (stream.NOMINAL_FILES_PER_S * mult), 9)}
    nominal_end = 8 * stream.NOMINAL_SHARE
    assert max(o for s, o, _ in ticks if s == 0) < nominal_end <= min(o for s, o, _ in ticks if s == 1)


@pytest.mark.parametrize("name", ["setup_s", "latency_ms.tail", "stream.generator_late_ms", "a-b_9"])
def test_legal_metric_names(name):
    assert NAME_RE.fullmatch(name)
    assert check_name(name) == name


@pytest.mark.parametrize("name", ["", "latency ms", "a/b", "ms%", ".hidden", "-x", "x" * 65])
def test_illegal_metric_names(name):
    with pytest.raises(ValueError):
        check_name(name)


def test_benchmark_json_names_are_legal_and_unique():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in spec[key]]
    assert len(names) == len(set(names))
    for name in names:
        check_name(name)


def test_seed_changes_daily_batch_inputs():
    a, b = batch.render_day(1, 0), batch.render_day(2, 0)
    assert a == batch.render_day(1, 0)
    assert a != b
    assert a != batch.render_day(1, 1)  # every day is new data
    assert set(a) == set(batch.TABLES)


def test_seed_changes_stream_inputs():
    a, b = stream.pool_templates(1), stream.pool_templates(2)
    assert a == stream.pool_templates(1)
    assert a != b
    f0, f1 = (stream.render_file(a["pin"], k).decode().splitlines() for k in (0, 1))
    keys = [json.loads(json.loads(line)["data"])["index"] for line in f0 + f1]
    assert keys == list(range(2 * stream.RECORDS_PER_FILE))


def test_program_receives_only_generated_inputs():
    """The job under test is handed file locations, never the seed."""
    assert "seed" not in inspect.signature(batch.run_day).parameters
    assert "seed" not in inspect.signature(stream.Dropper).parameters


def test_traced_stream_polls_every_other_slot():
    slots = [stream.polled(100.0, 100.0 + (k + 0.5) * stream.POLL_SLOT_S) for k in range(6)]
    assert slots == [False, True, False, True, False, True]
