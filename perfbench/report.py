"""Metric definitions and the reducer from op records and spans to the
end-to-end and per-layer metrics."""

from __future__ import annotations

import math
import re
import statistics
import time

import numpy as np

from perfbench import inputs

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

#: end-to-end metrics (untraced run), every workload: name → (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "qps": ("ops/s", "higher"),
    "latency_gmean_ms": ("ms", "lower"),
    "cpu_ms_per_op": ("ms", "lower"),
    "peak_pss_python_mb": ("MB", "lower"),
    "index_bytes_per_text_byte": ("ratio", "lower"),
}

#: per-layer metrics (traced run), every workload: name → unit
PER_LAYER = {
    "search.query.parse_ms": "ms",
    "search.executor.plan_ms": "ms",
    "search.executor.collect_ms": "ms",
    "search.executor.eager_jobs": "count",
    "search.executor.stats_memo_misses": "count",
    "codec.decode_postings_per_s": "1/s",
    "codec.decode_positions_per_s": "1/s",
    "codec.encode_postings_per_s": "1/s",
    "analysis.tokens_per_s": "1/s",
    "index.core.blocks": "count",
    "index.core.block_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.task_noncpu_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.jvm_peak_rss_mb": "MB",
    "trace.bookkeeping_ms": "ms",
}

#: unbounded metrics a workload reports beyond the contract line
#: (name → unit); shown in the report line with their sample counts
WORKLOAD_EXTRA = {
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
    "index_bytes_per_doc": "bytes",
    "error_rate": "ratio",
    "build_docs_per_s": "docs/s",
    "update_docs_per_s": "docs/s",
    "update_p50_ms": "ms",
    "merge_s": "s",
}


class TooFewSamples(ValueError):
    pass


def percentile(values, pct: float) -> float:
    """The ``pct`` percentile; above the median it is refused unless at
    least ten samples lie beyond it (p90 needs n ≥ 100)."""
    n = len(values)
    if n == 0:
        raise TooFewSamples("no samples")
    if pct > 50 and n * (100 - pct) / 100 < 10:
        raise TooFewSamples(f"p{pct:g} needs {math.ceil(1000 / (100 - pct))} samples, got {n}")
    return float(np.percentile(np.asarray(values, dtype=np.float64), pct))


def _metric(value, unit, n=None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["samples"] = n
    return out


def end_to_end(records, setup: dict, props: dict, peak_rss: dict, workload: str) -> dict:
    """Every END_TO_END metric plus the workload's extras, each with unit
    and sample count.  Ops are the measured phase; ingest's latency is
    its reads, as the ops whose latency a reader waits on.

    A round holds one op of each kind, so its latencies come from a dozen
    different distributions: the median jumps between kinds from seed to
    seed, while the geometric mean weighs every kind alike and stays
    put.  ``peak_rss`` maps ``tree``, ``python``, ``python_pss`` and
    ``jvm`` to the sampler's peaks in bytes; the JVM's peak RSS follows
    G1's heap sizing and swings by a third from run to run, so the bounded
    memory metric is the Python processes' peak PSS, and the tree's RSS
    peak is reported beside it (the JVM's own peak is a per-layer
    metric)."""
    measured = [r for r in records if r.phase == "measure"]
    lat_ops = [r for r in measured if r.kind == "read"] if workload == "ingest" else measured
    lat_ms = [r.latency_s * 1e3 for r in lat_ops]
    busy = sum(r.latency_s for r in measured)
    out = {
        "setup_s": _metric(setup["setup_s"], "s", 1),
        "qps": _metric(len(measured) / busy, "ops/s", len(measured)),
        "latency_gmean_ms": _metric(statistics.geometric_mean(lat_ms), "ms", len(lat_ms)),
        "cpu_ms_per_op": _metric(1e3 * sum(r.cpu_s for r in measured) / len(measured), "ms",
                                 len(measured)),
        "peak_pss_python_mb": _metric(peak_rss["python_pss"] / 2**20, "MB", 1),
        "index_bytes_per_text_byte": _metric(props["index_bytes"] / props["text_bytes"], "ratio", 1),
        "latency_p50_ms": _metric(statistics.median(lat_ms), "ms", len(lat_ms)),
        "peak_rss_mb": _metric(peak_rss["tree"] / 2**20, "MB", 1),
        "index_bytes_per_doc": _metric(props["index_bytes"] / props["docs"], "bytes", 1),
    }
    try:
        out["latency_p90_ms"] = _metric(percentile(lat_ms, 90), "ms", len(lat_ms))
    except TooFewSamples as exc:
        out["latency_p90_ms"] = {"value": None, "unit": "ms", "samples": len(lat_ms),
                                 "refused": str(exc)}
    attempted = [r for r in records if r.phase != "setup"]
    out["error_rate"] = _metric(sum(r.error is not None for r in attempted) / len(attempted),
                                "ratio", len(attempted))
    if workload == "ingest":
        upd = [r for r in measured if r.kind == "update"]
        merges = [r for r in measured if r.kind in ("tiered_merge", "merge_segments")]
        out["build_docs_per_s"] = _metric(inputs.INGEST_DOCS / setup["build_index_s"], "docs/s", 1)
        out["update_docs_per_s"] = _metric(
            inputs.INGEST_UPDATE_DOCS * len(upd) / sum(r.latency_s for r in upd), "docs/s", len(upd))
        out["update_p50_ms"] = _metric(statistics.median(r.latency_s * 1e3 for r in upd), "ms",
                                       len(upd))
        out["merge_s"] = _metric(sum(r.latency_s for r in merges), "s", len(merges))
    else:
        out["build_docs_per_s"] = _metric(props["docs"] / setup["build_view_s"], "docs/s", 1)
    return out


# ------------------------------------------------------------ per layer --

def _rate(fn, units_per_call: int, min_s: float = 0.3) -> float:
    calls, t0 = 0, time.perf_counter()
    while True:
        fn()
        calls += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return calls * units_per_call / dt


def codec_rates(sample: list) -> dict:
    """Driver-side codec throughput over a fixed sample of the workload's
    own blocks: public decode/encode functions, no Spark."""
    from lucene_solr_spark import codec

    decoded = []
    for d_vb, t_vb, n_b, p_vb in sample:
        tfs = codec.decode_tfs(t_vb)
        decoded.append((codec.decode_doc_ids(d_vb), tfs, codec.decode_norm_bytes(n_b),
                        codec.decode_positions(p_vb, tfs)))
    n_post = sum(d.size for d, *_ in decoded)
    n_pos = sum(p.size for *_, p in decoded)

    def dec_postings():
        for d_vb, t_vb, _, _ in sample:
            codec.decode_doc_ids(d_vb)
            codec.decode_tfs(t_vb)

    def dec_positions():
        for (_, t_vb, _, p_vb), (_, tfs, _, _) in zip(sample, decoded):
            codec.decode_positions(p_vb, tfs)

    def enc():
        for d, t, nb, p in decoded:
            codec.encode_posting_blocks(d, t, nb, p)

    return {"codec.decode_postings_per_s": _rate(dec_postings, n_post),
            "codec.decode_positions_per_s": _rate(dec_positions, n_pos),
            "codec.encode_postings_per_s": _rate(enc, n_post),
            "codec.sample_blocks": len(sample)}


def analysis_rate(chain, texts: list[str]) -> float:
    import pandas as pd

    series = pd.Series(texts)
    n_tokens = int(chain.tokenize(series).map(len).sum())
    return _rate(lambda: chain.tokenize(series), n_tokens)


def per_layer(records, tracer, task_sums: dict, props: dict, codec: dict,
              tokens_per_s: float, peak_rss: dict, workload: str) -> tuple[dict, dict]:
    """(contract metrics, workload detail).  Per-op values are means over
    the measured ops of the kind named; ``*_p50_ms`` are medians."""
    measured = [r for r in records if r.phase == "measure"]
    ids = {r.op_id for r in measured}
    self_s = tracer.self_times()
    search = [r for r in measured if r.kind in inputs.SEARCH_SHAPES or r.kind == "read"]

    def span_ms(name, recs):
        return 1e3 * sum(self_s.get((r.op_id, name), 0.0) for r in recs) / max(len(recs), 1)

    def counts(key, recs):
        return sum(tracer.op_counts.get(r.op_id, {}).get(key, 0) for r in recs) / max(len(recs), 1)

    def task(key):
        total = sum(v[key] for g, v in task_sums.items() if tracer.group_of_op.get(g) in ids)
        return total / len(measured)

    eager = [tracer.op_counts.get(r.op_id, {}).get("jobs_by_span", {})
             .get("search.executor.plan", 0) for r in search]
    memo = [r.memo_misses for r in search if r.memo_misses is not None]
    contract = {
        "search.query.parse_ms": span_ms("search.query.parse", search),
        "search.executor.plan_ms": span_ms("search.executor.plan", search),
        "search.executor.collect_ms": span_ms("search.executor.collect", search),
        "search.executor.eager_jobs": statistics.mean(eager) if eager else 0.0,
        "search.executor.stats_memo_misses": statistics.mean(memo) if memo else 0.0,
        "codec.decode_postings_per_s": codec["codec.decode_postings_per_s"],
        "codec.decode_positions_per_s": codec["codec.decode_positions_per_s"],
        "codec.encode_postings_per_s": codec["codec.encode_postings_per_s"],
        "analysis.tokens_per_s": tokens_per_s,
        "index.core.blocks": props["index_blocks"],
        "index.core.block_bytes": props.get("block_bytes", props["index_bytes"]),
        "spark.jobs": counts("jobs", measured),
        "spark.stages": counts("stages", measured),
        "spark.tasks": counts("tasks", measured),
        "spark.task_run_ms": task("task_run_ms"),
        "spark.task_cpu_ms": task("task_cpu_ms"),
        "spark.task_noncpu_ms": task("task_noncpu_ms"),
        "spark.input_bytes": task("input_bytes"),
        "spark.shuffle_write_bytes": task("shuffle_write_bytes"),
        "spark.jvm_peak_rss_mb": peak_rss["jvm"] / 2**20,
        "trace.bookkeeping_ms": 1e3 * tracer.bookkeeping_s / max(len(records), 1),
    }
    detail = {"spark.spill_bytes": task("spill_bytes"), "codec.sample_blocks": codec["codec.sample_blocks"]}
    kinds = sorted({r.kind for r in measured})
    for kind in kinds:
        recs = [r for r in measured if r.kind == kind]
        lat = statistics.median(r.latency_s * 1e3 for r in recs)
        if kind in inputs.SEARCH_SHAPES:
            detail[f"search.executor.{kind}_p50_ms"] = lat
        elif kind.startswith("select_"):
            detail[f"solr_api.{kind[len('select_'):]}_p50_ms"] = lat
    sel = [r for r in measured if r.kind.startswith("select_") and r.kind != "select_sharded"]
    sharded = [r for r in measured if r.kind == "select_sharded"]
    if sharded:
        detail["search.distributed.request_ms"] = span_ms("search.distributed.request", sharded)
    if sel:
        detail["solr_api.request_ms"] = span_ms("solr_api.request", sel)
        comps = sorted({name for (_, name) in self_s if name.startswith("solr_api.collect.")})
        for name in comps:
            detail[name.replace("solr_api.collect.", "solr_api.collect_ms.")] = span_ms(name, sel)
    if workload == "ingest":
        by = {k: [r for r in measured if r.kind == k]
              for k in ("open", "update", "delete", "tiered_merge", "merge_segments")}
        n_upd = inputs.INGEST_UPDATE_DOCS * len(by["update"])
        n_del = inputs.INGEST_DELETES * len(by["delete"])
        merge_written = sum(r.bytes_written for r in by["tiered_merge"] + by["merge_segments"])
        detail.update({
            "index.builder.build_index_s": props["build_index_s"],
            "index.builder.bytes_written": props["build_bytes"],
            "index.builder.open_index_ms": span_ms("index.builder.open_index", by["open"]),
            "index.builder.segments_per_read": props["segments_per_read"],
            "index.deletes.update_documents_ms": statistics.mean(r.latency_s * 1e3 for r in by["update"]),
            "index.deletes.delete_docs_ms": statistics.mean(r.latency_s * 1e3 for r in by["delete"]),
            "index.deletes.bytes_written_per_doc": sum(r.bytes_written for r in by["update"] + by["delete"])
            / max(n_upd + n_del, 1),
            "index.merge.tiered_merge_ms": 1e3 * sum(r.latency_s for r in by["tiered_merge"])
            / max(props["tiered_merge_passes"], 1),
            "index.merge.passes": props["tiered_merge_passes"],
            "index.merge.merge_segments_ms": statistics.mean(
                r.latency_s * 1e3 for r in by["merge_segments"]),
            "index.merge.bytes_rewritten": merge_written,
            "index.merge.write_amplification": props["bytes_written_per_user_byte"],
        })
    else:
        detail["index.core.build_view_s"] = props["build_view_s"]
    return contract, detail


def per_kind(records) -> dict:
    """Measured ops by kind: count, median latency, mean CPU."""
    out = {}
    for kind in sorted({r.kind for r in records if r.phase == "measure"}):
        recs = [r for r in records if r.phase == "measure" and r.kind == kind]
        out[kind] = {"n": len(recs),
                     "p50_ms": statistics.median(r.latency_s * 1e3 for r in recs),
                     "cpu_ms": 1e3 * statistics.mean(r.cpu_s for r in recs)}
    return out


def layer_of(span_name: str) -> str:
    """Package module of a span (``search.executor.plan`` →
    ``search.executor``); ``op.*`` root spans are the benchmark's own
    time between calls."""
    parts = span_name.split(".")
    if parts[0] == "op":
        return "perfbench"
    return ".".join(parts[:2]) if parts[0] in ("search", "index") else parts[0]


def layer_self_times(records, tracer) -> dict:
    """Layer → self milliseconds per measured op."""
    ids = {r.op_id for r in records if r.phase == "measure"}
    out: dict[str, float] = {}
    for (op_id, name), s in tracer.self_times().items():
        if op_id in ids:
            layer = layer_of(name)
            out[layer] = out.get(layer, 0.0) + 1e3 * s / len(ids)
    return dict(sorted(out.items()))


def contract_line(correct: bool, attempted: int, failed: int, metrics: dict, trace: bool) -> dict:
    """The last stdout line: exactly the metrics BENCHMARK.json lists for
    this mode, each a finite number with its unit."""
    spec = PER_LAYER if trace else {k: u for k, (u, _) in END_TO_END.items()}
    out = {}
    for name, unit in spec.items():
        value = metrics[name]["value"] if isinstance(metrics[name], dict) else metrics[name]
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"{name} is not finite: {value}")
        out[name] = {"value": value, "unit": unit}
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": out}
