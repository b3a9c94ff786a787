"""Tests for the benchmark's own code: the percentile rule, seeded input
determinism, the event-log reader, and BENCHMARK.json's agreement with
the metrics the runner prints.

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import json
import os
import statistics
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, run, stats  # noqa: E402


# -- percentile rule ---------------------------------------------------------

@pytest.mark.parametrize("n", [1, 2, 11, 19, 20])
def test_tail_falls_back_to_median_below_twenty_samples(n):
    xs = [float(i) for i in range(n)]
    assert stats.tail(xs) == (50.0, statistics.median(xs))


@pytest.mark.parametrize("n", [21, 30, 100, 1000])
def test_tail_leaves_exactly_ten_samples_beyond(n):
    xs = [float(i) for i in reversed(range(n))]
    pct, v = stats.tail(xs)
    assert sum(x > v for x in xs) == stats.TAIL_BEYOND
    assert pct == pytest.approx(100.0 * (n - stats.TAIL_BEYOND) / n)


def test_tail_and_median_reject_empty():
    with pytest.raises(ValueError):
        stats.tail([])
    with pytest.raises(ValueError):
        stats.median([])


# -- seeded inputs -------------------------------------------------------------

def _write_inputs(seed, d):
    os.makedirs(d)
    for i, (docs, pairs) in enumerate(inputs.corpus_windows(seed, [40, 60])):
        inputs.write(docs, os.path.join(d, f"docs{i}.parquet"))
        inputs.write(pairs, os.path.join(d, f"pairs{i}.parquet"))
    inc, base = inputs.split_increment(seed, docs, 10)
    inputs.write(inc, os.path.join(d, "increment.parquet"))
    inputs.write(base, os.path.join(d, "base.parquet"))
    hay = inputs.haystack(seed, 300)
    inputs.write(hay, os.path.join(d, "haystack.parquet"))
    texts = hay.column("text").to_pylist()
    with open(os.path.join(d, "needles.json"), "w") as f:
        json.dump(inputs.needles(seed, texts, 5, 2, max_source_len=512), f)
    return sorted(os.listdir(d))


def test_same_seed_writes_byte_identical_inputs(tmp_path):
    names = _write_inputs(7, tmp_path / "a")
    assert _write_inputs(7, tmp_path / "b") == names
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names,
                                               shallow=False)
    assert (mismatch, errors) == ([], [])


def test_seed_changes_corpus_rows_increment_haystack_and_needles(tmp_path):
    names = _write_inputs(7, tmp_path / "a")
    _write_inputs(8, tmp_path / "b")
    _, mismatch, _ = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert sorted(mismatch) == names


@pytest.mark.parametrize("seed", [3, 4])
def test_corpus_windows_hold_fixed_doc_counts_and_both_sides_of_every_pair(seed):
    for docs, pairs in inputs.corpus_windows(seed, [200, 300]):
        urls = set(docs.column("url").to_pylist())
        assert pairs.num_rows > 0
        assert set(pairs.column("a_url").to_pylist()) <= urls
        assert set(pairs.column("b_url").to_pylist()) <= urls
    sizes = [d.num_rows for d, _ in inputs.corpus_windows(seed, [200, 300])]
    assert sizes[0] in (200, 201) and sizes[1] in (300, 301)


def test_needles_differ_from_their_source_by_one_byte():
    texts = inputs.haystack(5, 200).column("text").to_pylist()
    for lookup in inputs.needles(5, texts, 10, 2, max_source_len=512):
        for _, needle, src in lookup:
            assert len(needle) == inputs.NEEDLE_LEN and len(texts[src]) <= 512
            assert needle not in texts[src]
            assert any(sum(a != b for a, b in zip(needle, texts[src][i:i + len(needle)])) == 1
                       for i in range(len(texts[src]) - len(needle) + 1))


# -- event log -----------------------------------------------------------------

def _task(stage, launch, finish, run_ms, **m):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": m.get("gc", 0),
                             "Memory Bytes Spilled": m.get("spill", 0),
                             "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": m.get("read", 0)},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                                       m.get("write", 0)}}}


def _job(job, stages, start, end, desc):
    props = {"spark.job.description": desc} if desc else {}
    return [{"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": start,
             "Stage IDs": stages, "Properties": props},
            {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": end}]


@pytest.fixture
def event_log(tmp_path):
    events = (
        [{"Event": "SparkListenerApplicationStart"}]
        + _job(0, [0, 1], 1000, 3000, "frizbee:signatures")
        + [_task(0, 1000, 2000, 900, write=100), _task(0, 1000, 1500, 400, write=50),
           _task(0, 1000, 1500, 450), _task(1, 2000, 3000, 1000, read=150, gc=20)]
        + _job(1, [2], 2500, 4000, "frizbee:clusters")
        + [_task(2, 2500, 4000, 1400, spill=7)]
        + _job(2, [3], 5000, 6000, "perfbench:fuzzy")
        + [_task(3, 5000, 6000, 990)]
        + _job(3, [4], 6000, 7000, None)
        + [_task(4, 6000, 7000, 1000)]
    )
    d = tmp_path / "events"
    d.mkdir()
    (d / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(d)


def test_files_orders_the_parts_of_a_rolling_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for name in ("events_10_local-1", "appstatus_local-1", "events_2_local-1"):
        (app / name).write_text("")
    assert eventlog.files(str(tmp_path)) == [
        str(app / "events_2_local-1"), str(app / "events_10_local-1")]


def test_files_wants_exactly_one_application(tmp_path):
    with pytest.raises(ValueError):
        eventlog.files(str(tmp_path))


def test_layer_of_maps_pipeline_stages_and_benchmark_labels():
    assert eventlog.layer_of("frizbee:signatures") == "dedup"
    assert eventlog.layer_of("frizbee:clusters") == "components"
    assert eventlog.layer_of("frizbee:documents") == "pipeline"
    assert eventlog.layer_of("perfbench:fuzzy") == "fuzzy"
    assert eventlog.layer_of("perfbench:replay.dedup.verify_pairs") == "replay"
    assert eventlog.layer_of(None) is None
    assert eventlog.layer_of("someone else's job") is None


def test_aggregate_attributes_tasks_to_layers(event_log):
    jobs, tasks = eventlog.read(eventlog.files(event_log))
    agg = eventlog.aggregate(jobs, tasks, eventlog.layer_of, cores=4)
    assert set(agg) == {"dedup", "components", "fuzzy"}  # unlabelled job dropped
    d = agg["dedup"]
    assert d["tasks"] == 4 and d["jobs"] == 1
    assert d["executor_run_s"] == pytest.approx(2.75)
    assert d["gc_s"] == pytest.approx(0.02)
    assert (d["shuffle_write_bytes"], d["shuffle_read_bytes"]) == (150, 150)
    assert d["slot_utilization"] == pytest.approx(2.75 / (4 * 2.0))
    assert d["task_skew"] == pytest.approx(1000 / 500)  # stage 0: max / median
    assert agg["components"]["spill_bytes"] == 7
    assert agg["fuzzy"]["task_skew"] == 0.0  # single-task stage: no skew figure


def test_aggregate_by_description_and_overlapping_job_walls(event_log):
    jobs, tasks = eventlog.read(eventlog.files(event_log))
    agg = eventlog.aggregate(jobs, tasks, lambda d: d and "all", cores=2)
    # jobs at 1-3 s and 2.5-4 s merge; the unlabelled job at 6-7 s is dropped
    assert agg["all"]["wall_s"] == pytest.approx(3.0 + 1.0)
    assert agg["all"]["tasks"] == 6


# -- BENCHMARK.json ------------------------------------------------------------

def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.NAMES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
