"""The benchmark's own tests; Spark-free.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import inputs, report
from perfbench.trace import Span, Tracer, reduce_event_log
from perfbench.workloads import OpRecord

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _flat(rounds):
    return [op for rnd in rounds for op in rnd]


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert inputs.corpus_hash(7, 40) == inputs.corpus_hash(7, 40)
    assert inputs.corpus_hash(7, 40) != inputs.corpus_hash(8, 40)
    a = inputs.ops_hash(_flat(inputs.query_mix_rounds(7, 3)))
    assert a == inputs.ops_hash(_flat(inputs.query_mix_rounds(7, 3)))
    assert a != inputs.ops_hash(_flat(inputs.query_mix_rounds(8, 3)))
    assert inputs.wide_hash(7, 50) == inputs.wide_hash(7, 50)
    assert inputs.wide_hash(7, 50) != inputs.wide_hash(8, 50)
    live = [f"k{i}" for i in range(300)]
    r7 = inputs.ingest_round(7, 0, live)
    assert r7 == inputs.ingest_round(7, 0, live)
    assert r7 != inputs.ingest_round(8, 0, live)


def test_rounds_hold_every_kind_once():
    for rnd in inputs.query_mix_rounds(3, 4):
        assert sorted(op.kind for op in rnd) == sorted(inputs.QUERY_MIX_KINDS)


def test_every_wide_doc_holds_every_hot_term():
    pdf = inputs.gen_wide_pdf(3, 200)
    assert list(pdf["doc_id"]) == list(range(200))
    for text in pdf["content"]:
        assert set(inputs.HOT_TERMS) <= set(text.split())
    assert (inputs.WIDE_DOCS + 127) // 128 >= 256  # the θ-pruning threshold


def test_ingest_round_keys_are_distinct_live_keys():
    live = [f"k{i}" for i in range(300)]
    r = inputs.ingest_round(5, 1, live)
    picked = r.replace + r.delete
    assert len(set(picked)) == len(picked) == inputs.INGEST_UPDATE_DOCS // 2 + inputs.INGEST_DELETES
    assert set(picked) <= set(live)


def test_p90_refused_below_100_samples():
    with pytest.raises(report.TooFewSamples):
        report.percentile(list(range(99)), 90)
    assert report.percentile(list(range(100)), 90) == pytest.approx(89.1)
    assert report.percentile([3.0], 50) == 3.0


def _records(workload: str) -> list[OpRecord]:
    kinds = (list(inputs.QUERY_MIX_KINDS) if workload == "query_mix" else
             ["update", "tiered_merge", "delete", "open", "read", "read", "merge_segments", "open",
              "read", "read"])
    recs = [OpRecord(0, "term_cold", 0.5, 1.0, phase="warmup")]
    recs += [OpRecord(i + 1, k, 0.1 * (i + 1), 0.2, phase="measure") for i, k in enumerate(kinds)]
    return recs


def _e2e(workload: str) -> dict:
    setup = {"setup_s": 12.5, "build_view_s": 4.0, "build_index_s": 6.0}
    props = {"index_bytes": 1_000_000, "docs": 1000, "text_bytes": 2_000_000}
    peak_rss = {"tree": 3 * 2**30, "python": 2**30, "python_pss": 2**29, "jvm": 2 * 2**30}
    return report.end_to_end(_records(workload), setup, props, peak_rss, workload)


@pytest.mark.parametrize("workload", ["query_mix", "ingest"])
def test_output_lists_every_end_to_end_metric_with_unit(workload):
    e2e = _e2e(workload)
    for name, (unit, _) in report.END_TO_END.items():
        assert e2e[name]["unit"] == unit and e2e[name]["samples"] >= 1
    assert e2e["latency_p90_ms"]["value"] is None and "refused" in e2e["latency_p90_ms"]
    line = report.contract_line(True, 14, 0, e2e, trace=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    extra = {"build_docs_per_s", "error_rate"} | (
        {"update_docs_per_s", "update_p50_ms", "merge_s"} if workload == "ingest" else set())
    assert extra <= set(e2e)


def test_metric_names_and_spec_match():
    names = (list(report.END_TO_END) + list(report.PER_LAYER) + list(report.WORKLOAD_EXTRA)
             + [m["name"] for key in ("end_to_end", "per_layer") for m in SPEC[key]]
             + [w["name"] for w in SPEC["workloads"]])
    for name in names:
        assert report.NAME_RE.fullmatch(name), name
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == report.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == ["query_mix", "ingest"]


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.spans = [Span("op.term", 0.0, 1.0, None, 3), Span("search.executor.plan", 0.1, 0.4, 0, 3),
                Span("search.executor.collect", 0.4, 0.9, 0, 3)]
    st = tr.self_times()
    assert st[(3, "op.term")] == pytest.approx(0.2)
    assert st[(3, "search.executor.plan")] == pytest.approx(0.3)
    assert report.layer_of("search.executor.plan") == "search.executor"
    assert report.layer_of("solr_api.collect.stats") == "solr_api"
    assert report.layer_of("op.term") == "perfbench"


def test_event_log_reduced_per_job_group(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [4, 5],
         "Properties": {"spark.jobGroup.id": "op1/search.executor.collect"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5, "Task Metrics": {
            "Executor Run Time": 30, "Executor CPU Time": 10_000_000,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Metrics": {"Executor Run Time": 5}},
    ]
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    sums = reduce_event_log(tmp_path)
    assert list(sums) == ["op1/search.executor.collect"]
    g = sums["op1/search.executor.collect"]
    assert (g["task_run_ms"], g["task_cpu_ms"], g["task_noncpu_ms"]) == (30, 10.0, 20.0)
    assert (g["input_bytes"], g["shuffle_write_bytes"]) == (100, 7)


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "results", "__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""
