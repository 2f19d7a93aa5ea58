"""The benchmark's workloads: seeded inputs in, timed closed-loop ops,
answers checked against independent references after the clock stops.

One client, closed loop: the driver issues an op and waits for its
answer before the next.  Every engine call goes through the package's
public functions; spans around them come from this file."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from perfbench import inputs
from perfbench.trace import RssSampler, Tracer, tree_cpu_s

f32 = np.float32


@dataclass
class OpRecord:
    op_id: int
    kind: str
    latency_s: float
    cpu_s: float
    answer: object = None
    error: str | None = None
    memo_misses: int | None = None
    bytes_written: int = 0
    phase: str = "measure"


@dataclass
class RunState:
    """What a workload leaves for the reducer and the checks."""

    spark: object
    tracer: Tracer
    work: Path
    records: list[OpRecord] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)
    setup: dict = field(default_factory=dict)
    props: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    codec_sample: list = field(default_factory=list)
    text_sample: list = field(default_factory=list)
    chain: object = None
    rss: RssSampler | None = None
    _next_id: int = 0

    def end_measure(self) -> None:
        """Stop RSS sampling before the reference checks allocate."""
        if self.rss is not None and self.rss.running:
            self.rss.__exit__(None, None, None)

    def timed(self, kind: str, fn, phase: str = "measure", memo_of=None,
              layer: str | None = None) -> OpRecord:
        """Run one op; exceptions are recorded as failed ops, not raised.
        ``layer`` names the span of a single-call op."""
        op_id = self._next_id
        self._next_id += 1
        pid = os.getpid()
        memo0 = len(memo_of.stats_memo) if memo_of is not None else None
        cpu0 = tree_cpu_s(pid)
        rec = OpRecord(op_id, kind, 0.0, 0.0, phase=phase)
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op_id, kind):
                if layer is None:
                    rec.answer = fn()
                else:
                    with self.tracer.span(layer):
                        rec.answer = fn()
        except Exception as exc:  # the loop must go on: count the failure
            rec.error = f"{type(exc).__name__}: {exc}"
        rec.latency_s = time.perf_counter() - t0
        rec.cpu_s = tree_cpu_s(pid) - cpu0
        if memo_of is not None:
            rec.memo_misses = len(memo_of.stats_memo) - memo0
        self.records.append(rec)
        return rec


# ---------------------------------------------------------------- ops ----

def _rows(frame) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(f32(r["score"]))) for r in frame.collect()]


def search_op(st: RunState, view, op: inputs.Op, k: int = 10):
    """parse → plan (search/span_search until the lazy frame returns) →
    collect, each in its own span."""
    from lucene_solr_spark.search import parse_query, search
    from lucene_solr_spark.search.spans import SpanNear, SpanTerm, span_search

    tr = st.tracer
    if op.kind == "span_near":
        a, b = op.args["terms"]
        q = SpanNear(SpanTerm(a), SpanTerm(b), slop=op.args["slop"])
        with tr.span("search.executor.plan"):
            frame = span_search(view, q, k=k)
    else:
        with tr.span("search.query.parse"):
            q = parse_query(op.args["q"])
        with tr.span("search.executor.plan"):
            frame = search(view, q, k=k)
    with tr.span("search.executor.collect"):
        return _rows(frame)


def _collect_out(st: RunState, out: dict) -> dict:
    got = {}
    for key in sorted(out):
        val = out[key]
        if hasattr(val, "collect"):
            with st.tracer.span(f"solr_api.collect.{key.split(':', 1)[0]}"):
                got[key] = [r.asDict() for r in val.collect()]
        else:
            got[key] = val
    return got


def select_op(st: RunState, target, dv, op: inputs.Op):
    from lucene_solr_spark.solr_api import solr_request

    params = dict(op.args["params"])
    pages = op.args.get("pages")
    if pages is None:
        # a list of views dispatches to solr_request_sharded
        span = "search.distributed.request" if isinstance(target, list) else "solr_api.request"
        with st.tracer.span(span):
            out = solr_request(target, params, docvalues=dv)
        return _collect_out(st, out)
    walked, mark = [], "*"
    for _ in range(pages):
        with st.tracer.span("solr_api.request"):
            out = solr_request(target, {**params, "cursorMark": mark}, docvalues=dv)
        got = _collect_out(st, out)
        walked.append(got)
        mark = got["nextCursorMark"]
    return walked


# ---------------------------------------------------------- query_mix ----

def run_query_mix(st: RunState, seed: int, seconds: float, t_start: float) -> None:
    from pyspark.sql import functions as F

    from lucene_solr_spark.corpus import gen_corpus_df
    from lucene_solr_spark.index import build_index_view

    spark, tr = st.spark, st.tracer
    n = inputs.QUERY_MIX_DOCS
    with tr.op(-1, "setup"):
        with tr.span("corpus.gen_corpus_df"):
            corpus = (gen_corpus_df(spark, n, seed=seed)
                      .withColumn("doc_id", F.monotonically_increasing_id())
                      .withColumn("n_chars", F.length("content"))
                      .persist())
        t0 = time.perf_counter()
        with tr.span("index.core.build_index_view"):
            idx = build_index_view(corpus, "doc_id", "content")
        st.setup["build_view_s"] = time.perf_counter() - t0
        # the same docs split in two shards (doc_id parity) for
        # solr_request over a list of views
        with tr.span("index.core.build_index_view"):
            shards = [build_index_view(corpus.filter(F.col("doc_id") % 2 == r), "doc_id", "content")
                      for r in (0, 1)]
        with tr.span("corpus.gen_wide"):
            wide_pdf = inputs.gen_wide_pdf(seed)
            wide_corpus = spark.createDataFrame(wide_pdf).persist()
        with tr.span("index.core.build_index_view"):
            wide = build_index_view(wide_corpus, "doc_id", "content")
        dv = corpus.select("doc_id", "lang", "repo", "n_chars")

    def run(op, phase):
        if op.kind in inputs.SEARCH_SHAPES:
            view = wide if op.kind == "term_hot" else idx
            return st.timed(op.kind, lambda: search_op(st, view, op), phase, memo_of=view)
        target = shards if op.kind == "select_sharded" else idx
        return st.timed(op.kind, lambda: select_op(st, target, dv, op), phase)

    warm = [(op, run(op, "warmup")) for op in inputs.warmup_ops()]
    st.setup["setup_s"] = time.perf_counter() - t_start

    done = list(warm)
    t_measure = time.perf_counter()
    rounds = inputs.query_mix_rounds(seed, n_rounds=64)
    for rnd in rounds:
        done += [(op, run(op, "measure")) for op in rnd]
        if time.perf_counter() - t_measure >= seconds:
            break
    st.end_measure()
    st.props["rounds"] = sum(1 for _, r in done if r.phase == "measure") // len(inputs.QUERY_MIX_KINDS)

    # ---- after the clock: properties, references, checks -------------
    pdf = corpus.select("doc_id", "content", "lang", "n_chars").toPandas()
    blocks = idx.postings.agg(
        F.count(F.lit(1)).alias("blocks"),
        F.sum(F.length("doc_ids_vb") + F.length("tfs_vb") + F.length("norms_b")
              + F.length("positions_vb")).alias("bytes")).collect()[0]
    corpus_bytes = int(pdf["content"].str.len().sum())
    st.props.update(index_blocks=int(blocks["blocks"]), index_bytes=int(blocks["bytes"]),
                    docs=len(pdf), corpus_bytes=corpus_bytes, text_bytes=corpus_bytes,
                    index_bytes_per_corpus_byte=int(blocks["bytes"]) / corpus_bytes)
    st.props.update(_term_properties({"term_hot": wide, "term_cold": idx},
                                     [op for op, r in done if r.phase == "measure"]))
    st.props["wide_docs"] = len(wide_pdf)
    if tr.enabled:
        st.codec_sample = _block_sample(idx.postings)
        st.text_sample = list(pdf["content"].iloc[:500])
        st.chain = idx.query_chain
    corpus.unpersist()
    wide_corpus.unpersist()
    st.errors += check_query_mix(done, pdf, wide_pdf)


def _term_properties(views: dict, ops) -> dict:
    """Share of term queries over the θ-pruning threshold and share of
    repeated query terms (a repeat finds its stats in the view's memo).
    ``views``: term-query kind → the view it ran on."""
    from lucene_solr_spark.search.executor import _PRUNE_MIN_BLOCKS

    terms = [(op.kind, op.args["q"]) for op in ops if op.kind in views]
    df = {(k, t): (views[k].stats_memo.get(t) or (0, 0))[0] for k, t in terms}
    seen, repeats, total = set(), 0, 0
    for op in ops:
        for t in _op_terms(op):
            total += 1
            repeats += t in seen
            seen.add(t)
    return {
        "term_queries_over_prune_threshold": (
            sum((df[kt] + 127) // 128 >= _PRUNE_MIN_BLOCKS for kt in terms) / max(len(terms), 1)),
        "prune_threshold_docs": _PRUNE_MIN_BLOCKS * 128,
        "repeated_query_term_share": repeats / max(total, 1),
    }


def _op_terms(op: inputs.Op) -> list[str]:
    if "terms" in op.args:
        return list(op.args["terms"])
    text = op.args["q"] if "q" in op.args else op.args["params"]["q"]
    return [w for w in text.replace('"', " ").replace("(", " ").replace(")", " ").split()
            if w not in ("AND", "OR") and not w.startswith("~")]


def _block_sample(postings, n: int = 2000) -> list:
    cols = ("doc_ids_vb", "tfs_vb", "norms_b", "positions_vb")
    rows = postings.select("term", "first_doc", *cols).orderBy("term", "first_doc").limit(n).collect()
    return [tuple(bytes(r[c]) for c in cols) for r in rows]


# --------------------------------------------------- query_mix checks ----

def reference_search(ml, op: inputs.Op, k: int = 10) -> list[tuple[int, float]]:
    """MiniLucene's top-k for a search op, in the engine's answer form."""
    from lucene_solr_spark.search import parse_query
    from lucene_solr_spark.search.spans import SpanNear, SpanTerm

    if op.kind == "span_near":
        a, b = op.args["terms"]
        q = SpanNear(SpanTerm(a), SpanTerm(b), slop=op.args["slop"])
    else:
        q = parse_query(op.args["q"])
    return [(int(d), float(s)) for d, s in ml.search(q, k=k)]


class Reference:
    """MiniLucene over the generated rows plus pandas docvalues, and
    MiniLucene over the wide corpus for hot-term queries."""

    def __init__(self, pdf, wide_pdf):
        from lucene_solr_spark.oracle import MiniLucene

        self.pdf = pdf.set_index("doc_id", drop=False)
        self.ml = MiniLucene([(int(d), t) for d, t in zip(pdf["doc_id"], pdf["content"])])
        self.wide = MiniLucene([(int(d), t) for d, t in zip(wide_pdf["doc_id"], wide_pdf["content"])])
        self._ranked: dict[str, list] = {}

    def search(self, op: inputs.Op, k: int = 10) -> list[tuple[int, float]]:
        return reference_search(self.wide if op.kind == "term_hot" else self.ml, op, k)

    def ranked(self, q: str) -> list[tuple[int, float]]:
        """Every match of ``q`` in (score desc, doc asc) order."""
        if q not in self._ranked:
            from lucene_solr_spark.search import parse_query

            self._ranked[q] = [(int(d), float(s)) for d, s in
                               self.ml.search(parse_query(q), k=len(self.pdf))]
        return self._ranked[q]

    def fq_ids(self, fq: str) -> set[int]:
        lo, hi = inputs.FQ_BOUNDS[fq]
        m = self.pdf["n_chars"]
        keep = (m >= (lo if lo is not None else -math.inf)) & (m <= (hi if hi is not None else math.inf))
        return set(int(d) for d in self.pdf.index[keep])


def _facet_counts(rows: list[dict], field: str) -> dict:
    return {r[field]: int(r["count"]) for r in rows}


def _check_stats(got: list[dict], values: np.ndarray) -> list[str]:
    if len(got) != 1:
        return [f"stats: {len(got)} rows"]
    g = got[0]
    want = {"min": values.min(), "max": values.max(), "sum": values.sum(),
            "count": values.size, "mean": values.mean(),
            "stddev": values.std(ddof=1) if values.size > 1 else 0.0,
            "sumOfSquares": (values.astype(np.float64) ** 2).sum()}
    errs = [f"stats.{k}: {g[k]} != {v}" for k, v in want.items()
            if k in g and not math.isclose(float(g[k]), float(v), rel_tol=1e-9, abs_tol=1e-9)]
    missing = {"min", "max", "sum", "count"} - set(g)
    return errs + ([f"stats: missing {sorted(missing)}"] if missing else [])


def check_select(ref: Reference, op: inputs.Op, got) -> list[str]:
    p = op.args["params"]
    q = p["q"]
    ranked = ref.ranked(q)
    if op.kind == "select_cursor":
        pages = [[(int(r["doc_id"]), float(f32(r["score"]))) for r in g["response"]] for g in got]
        flat = [x for page in pages for x in page]
        errs = [] if flat == ranked[:len(flat)] and len(flat) == min(len(ranked), 10 * len(pages)) \
            else ["cursor walk differs from the reference ranking"]
        if len({d for d, _ in flat}) != len(flat):
            errs.append("cursor pages overlap")
        return errs
    page = [(int(r["doc_id"]), float(f32(r["score"]))) for r in got["response"]]
    if op.kind == "select_page":
        s = p["start"]
        return [] if page == ranked[s:s + 10] else ["deep page differs from the reference"]
    dom_ids = ref.fq_ids(p["fq"])
    in_dom = [x for x in ranked if x[0] in dom_ids]
    errs = [] if page == in_dom[:10] else [f"{op.kind}: page differs from q∩fq top-k"]
    dom = ref.pdf.loc[sorted(d for d, _ in in_dom)]
    if "facet_field:lang" in got:
        want = dom["lang"].value_counts().to_dict()
        if _facet_counts(got["facet_field:lang"], "lang") != {k: int(v) for k, v in want.items()}:
            errs.append(f"{op.kind}: facet.field counts differ")
    if "facet_query" in got:
        fqt = p["facet.query"]
        want = len(set(dom.index) & set(ref.ml.postings.get(fqt, {})))
        if [int(r["count"]) for r in got["facet_query"]] != [want]:
            errs.append("facet.query count differs")
    if "json_facet:langs" in got:
        want = {lang: (int(len(g)), int(g["n_chars"].sum())) for lang, g in dom.groupby("lang")}
        have = {r["lang"]: (int(r["count"]), int(r["chars"])) for r in got["json_facet:langs"]}
        if have != want:
            errs.append("json.facet buckets differ")
    if "stats:n_chars" in got:
        errs += _check_stats(got["stats:n_chars"], dom["n_chars"].to_numpy(dtype=np.int64))
    if "grouped" in got:
        best = {}
        for d, s in in_dom:
            best.setdefault(ref.pdf.at[d, "lang"], (d, s))
        have = {(r["lang"], int(r["doc_id"]), float(f32(r["score"]))) for r in got["grouped"]}
        if have != {(lang, d, s) for lang, (d, s) in best.items()}:
            errs.append("group heads differ")
    return errs


def check_query_mix(done: list, pdf, wide_pdf) -> list[str]:
    """Rank and float32-score identity against MiniLucene for the first
    answer of every distinct request (every shape, every seed); every
    repeat must equal its first answer; /select pages equal the top-k of
    q within the fq domain and components equal pandas over the
    generated rows; the sharded request's page equals the unsharded
    reference page."""
    ref = Reference(pdf, wide_pdf)
    errors: list[str] = []
    first: dict[str, object] = {}
    for op, rec in done:
        if rec.error is not None:
            errors.append(f"op {rec.op_id} {op.kind}: {rec.error}")
            continue
        key = op.key()
        if key in first:
            if rec.answer != first[key]:
                rec.error = "repeat differs from first answer"
        else:
            first[key] = rec.answer
            if op.kind in inputs.SEARCH_SHAPES:
                if rec.answer != ref.search(op):
                    rec.error = "differs from MiniLucene"
            else:
                errs = check_select(ref, op, rec.answer)
                if errs:
                    rec.error = "; ".join(errs)
        if rec.error is not None:
            errors.append(f"op {rec.op_id} {op.kind}: {rec.error}")
    return errors


# ------------------------------------------------------------- ingest ----

def _dir_files(path: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _, files in os.walk(path):
        for name in files:
            p = os.path.join(root, name)
            try:
                s = os.stat(p)
            except OSError:
                continue
            out[p] = (s.st_size, s.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def _live_count(spark, path) -> int:
    from lucene_solr_spark.index import open_index

    view = open_index(spark, path)
    ids = view.norms.select("doc_id")
    if view.tombstones is not None:
        ids = ids.join(view.tombstones, "doc_id", "left_anti")
    return ids.count()


def run_ingest(st: RunState, seed: int, seconds: float, t_start: float) -> None:
    from pyspark.sql import functions as F

    from lucene_solr_spark.corpus import gen_corpus_pdf
    from lucene_solr_spark.index import (build_index, check_index, delete_docs, merge_segments,
                                         open_index, tiered_merge, update_documents)
    from lucene_solr_spark.oracle import MiniLucene

    spark, tr = st.spark, st.tracer
    path = st.work / "index"
    with tr.op(-1, "setup"):
        with tr.span("corpus.gen_corpus_pdf"):
            initial = gen_corpus_pdf(inputs.INGEST_DOCS, seed=seed)
            initial["key"] = [f"s{seed}-{i}" for i in range(len(initial))]
            corpus = spark.createDataFrame(initial)
        t0 = time.perf_counter()
        with tr.span("index.builder.build_index"):
            build_index(spark, corpus, path, key_cols=["key"],
                        segment_docs=inputs.INGEST_SEGMENT_DOCS)
        st.setup["build_index_s"] = time.perf_counter() - t0
        st.setup["build_bytes"] = sum(sz for sz, _ in _dir_files(path).values())
    live = sorted(initial["key"])
    user_bytes = int(initial["content"].str.len().sum())
    warm = open_index(spark, path)
    st.timed("read", lambda: search_op(st, warm, inputs.Op("term_hot", {"q": inputs.rank_term(0)})),
             "warmup")
    st.setup["setup_s"] = time.perf_counter() - t_start

    written = st.setup["build_bytes"]
    segments_per_read: list[int] = []
    tiered_passes = 0

    def step(kind, fn, layer=None, memo_of=None):
        nonlocal written
        before = _dir_files(path)
        rec = st.timed(kind, fn, memo_of=memo_of, layer=layer)
        rec.bytes_written = _written(before, _dir_files(path))
        written += rec.bytes_written
        return rec

    def commit_check(what):
        n = _live_count(spark, path)
        if n != len(live):
            st.errors.append(f"after {what}: index has {n} live docs, ledger {len(live)}")

    def reads(rnd):
        view = step("open", lambda: open_index(spark, path), "index.builder.open_index").answer
        if view is None:
            return []
        m = _manifest(path)
        segments_per_read.append(1 if m.get("merged") else len(m["segments"]))
        return [(op, step("read", lambda op=op: search_op(st, view, op), memo_of=view))
                for op in rnd.reads]

    t_measure = time.perf_counter()
    rnd_no = 0
    while True:
        rnd = inputs.ingest_round(seed, rnd_no, live)
        batch = gen_corpus_pdf(rnd.n_new + len(rnd.replace), seed=rnd.content_seed)
        batch["key"] = list(rnd.replace) + [f"u{seed}-{rnd_no}-{i}" for i in range(rnd.n_new)]
        user_bytes += int(batch["content"].str.len().sum())
        frame = spark.createDataFrame(batch)
        step("update", lambda: update_documents(spark, path, frame, key_cols=["key"]),
             "index.deletes.update_documents")
        live = sorted(set(live) | set(batch["key"]))
        commit_check("update_documents")
        n_segments = len(_manifest(path)["segments"])
        step("tiered_merge",
             lambda: tiered_merge(spark, path, merge_factor=inputs.INGEST_MERGE_FACTOR),
             "index.merge.tiered_merge")
        merged_away = n_segments - len(_manifest(path)["segments"])
        tiered_passes += merged_away // (inputs.INGEST_MERGE_FACTOR - 1)
        commit_check("tiered_merge")
        ids = (spark.read.parquet(str(path / "docs.parquet"))
               .filter(F.col("key").isin(list(rnd.delete))).select("doc_id"))
        step("delete", lambda: delete_docs(spark, path, ids), "index.deletes.delete_docs")
        live = sorted(set(live) - set(rnd.delete))
        commit_check("delete_docs")
        reads(rnd)
        step("merge_segments", lambda: merge_segments(spark, path), "index.merge.merge_segments")
        commit_check("merge_segments")
        final_reads = reads(rnd)
        rnd_no += 1
        if time.perf_counter() - t_measure >= seconds:
            break
    st.end_measure()
    st.props["rounds"] = rnd_no
    st.props["tiered_merge_passes"] = tiered_passes

    # ---- after the clock: properties, references, checks -------------
    final = open_index(spark, path)
    violations = check_index(final, expect_disjoint_ranges=False)
    if violations:
        st.errors.append(f"check_index: {violations}")
    docs = spark.read.parquet(str(path / "docs.parquet")).select("doc_id", "content").toPandas()
    st.props.update(
        docs=len(live), index_bytes=sum(sz for sz, _ in _dir_files(path).values()),
        text_bytes=int(docs["content"].str.len().sum()),
        user_bytes=user_bytes, bytes_written=written,
        bytes_written_per_user_byte=written / user_bytes,
        segments_per_read=statistics.mean(segments_per_read))
    if len(docs) != len(live):
        st.errors.append(f"merged store holds {len(docs)} docs, ledger {len(live)}")
    ml = MiniLucene([(int(d), t) for d, t in zip(docs["doc_id"], docs["content"])])
    for op, rec in final_reads:
        if rec.error is None and rec.answer != reference_search(ml, op):
            rec.error = "final merged index differs from MiniLucene over the live docs"
    st.errors += [f"op {r.op_id} {r.kind}: {r.error}" for r in st.records if r.error is not None]
    if tr.enabled:
        blocks = final.postings.agg(
            F.count(F.lit(1)).alias("blocks"),
            F.sum(F.length("doc_ids_vb") + F.length("tfs_vb") + F.length("norms_b")
                  + F.length("positions_vb")).alias("bytes")).collect()[0]
        st.props.update(index_blocks=int(blocks["blocks"]), block_bytes=int(blocks["bytes"]))
        st.codec_sample = _block_sample(final.postings)
        st.text_sample = list(docs["content"].iloc[:500])
        st.chain = final.query_chain


def _manifest(path: Path) -> dict:
    from lucene_solr_spark.index import read_manifest

    return read_manifest(path) or {}


WORKLOADS = {"query_mix": run_query_mix, "ingest": run_ingest}


def cleanup(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
