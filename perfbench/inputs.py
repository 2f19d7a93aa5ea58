"""Seeded inputs: corpus sizes, query pools and the op schedule of each
workload.  Spark-free, so the same seed is checkable to give the same
inputs without starting a session.

Query terms are drawn by document-frequency rank with Zipf skew.  The
rank order is the corpus generator's own (``corpus.KEYWORDS`` in Zipf
order, then identifiers ``id0, id1, ...`` in Zipf order), so drawing
needs no look at the built index."""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field

import numpy as np

from lucene_solr_spark.corpus import KEYWORDS, gen_corpus_pdf

#: query_mix: docs in the in-memory index (also split into two shards)
QUERY_MIX_DOCS = 2000
#: query_mix: short docs in the second in-memory index, the one hot-term
#: queries run on; every doc holds every HOT_TERMS term, so each has
#: df = WIDE_DOCS >= 256 blocks of 128 and takes the θ-pruned term path
WIDE_DOCS = 34_000
#: ingest: initial persistent build, its segment size, docs per update
#: (half new keys, half replaced keys) and deletes per round.  The
#: initial segment and the update's segment fill one merge tier
#: (INGEST_MERGE_FACTOR segments of 100-999 docs), so every round runs a
#: tiered_merge pass
INGEST_DOCS = 300
INGEST_SEGMENT_DOCS = 300
INGEST_UPDATE_DOCS = 100
INGEST_DELETES = 10
INGEST_MERGE_FACTOR = 2

#: search shapes and /select kinds, one of each per query_mix round
SEARCH_SHAPES = ("term_hot", "term_cold", "and", "or", "nested", "prefix", "phrase",
                 "sloppy", "span_near")
SELECT_KINDS = ("select_facets", "select_group", "select_page", "select_cursor",
                "select_sharded")
QUERY_MIX_KINDS = SEARCH_SHAPES + SELECT_KINDS

#: fq pool (docvalues range filters on n_chars, drawn with repeats) →
#: inclusive (low, high) bounds, None for an open end
FQ_BOUNDS = {"{!frange l=200 u=4000}n_chars": (200, 4000),
             "{!frange l=500}n_chars": (500, None),
             "{!frange u=1500}n_chars": (None, 1500)}
FQ_POOL = tuple(FQ_BOUNDS)

_RANKS = 3000          # df ranks a query term is drawn from
_ZIPF_S = 1.1
_POSITIONAL_LO = 8     # lowest keyword rank a positional op draws

#: terms in every doc of the wide corpus: the hottest keywords
HOT_TERMS = KEYWORDS[:4]
_WIDE_IDENTS = 500     # filler identifiers id0..id499 of the wide corpus


def rank_term(rank: int) -> str:
    """The term at a df rank of the generated corpus."""
    return KEYWORDS[rank] if rank < len(KEYWORDS) else f"id{rank - len(KEYWORDS)}"


@dataclass(frozen=True)
class Op:
    """One closed-loop operation: ``kind`` names the code path, ``args``
    its inputs (query text, terms, Solr params)."""

    kind: str
    args: dict = field(default_factory=dict)

    def key(self) -> str:
        """Identity of the request: equal keys must get equal answers."""
        return json.dumps([self.kind, self.args], sort_keys=True)


class TermDraw:
    """Zipf-skewed draws over df ranks (repeats are intended: they hit
    the view's term-stats memo)."""

    def __init__(self, rng: np.random.Generator):
        p = 1.0 / np.power(np.arange(1, _RANKS + 1, dtype=np.float64), _ZIPF_S)
        self._p = p / p.sum()
        self._rng = rng

    def rank(self, lo: int = 0, hi: int = _RANKS) -> int:
        p = self._p[lo:hi] / self._p[lo:hi].sum()
        return lo + int(self._rng.choice(hi - lo, p=p))

    def term(self, lo: int = 0, hi: int = _RANKS) -> str:
        return rank_term(self.rank(lo, hi))

    def keyword(self) -> str:
        return self.term(0, len(KEYWORDS))

    def pair(self, lo: int = 0, hi: int = _RANKS) -> tuple[str, str]:
        a = self.term(lo, hi)
        b = self.term(lo, hi)
        while b == a:
            b = self.term(lo, hi)
        return a, b


def _search_op(kind: str, draw: TermDraw) -> Op:
    """Each shape draws from one df band, so its cost is alike across
    seeds: HOT_TERMS for hot terms, keywords (ranks 0-59, in 15-100% of
    docs) for boolean clauses, identifiers for cold terms and prefixes."""
    kw = len(KEYWORDS)
    if kind == "term_hot":
        return Op(kind, {"q": draw.term(0, len(HOT_TERMS))})
    if kind == "term_cold":
        return Op(kind, {"q": draw.term(kw)})
    if kind in ("and", "or"):
        a, b = draw.pair(0, kw)
        return Op(kind, {"q": f"{a} {kind.upper()} {b}"})
    if kind == "nested":
        a, b = draw.pair(0, kw)
        return Op(kind, {"q": f"({a} AND {b}) OR {draw.term(kw)}"})
    if kind == "prefix":
        # a three-digit identifier: id123* expands to 111 terms (id123,
        # id1230-id1239, id12300-id12399), far below the 1024-clause cap
        j = draw.rank(kw + 100, kw + 1000) - kw
        return Op(kind, {"q": f"id{j}*"})
    if kind in ("phrase", "sloppy", "span_near"):
        # mid-frequency keywords (in ~15-60% of docs): a pair with one of
        # the hottest keywords makes a positional op's cost swing 2x from
        # seed to seed, and these ops sit at the median of a round
        a, b = draw.pair(_POSITIONAL_LO, kw)
        if kind == "span_near":
            return Op(kind, {"terms": [a, b], "slop": 4})
        slop = "~3" if kind == "sloppy" else ""
        return Op(kind, {"q": f'"{a} {b}"{slop}'})
    raise ValueError(f"unknown search shape {kind!r}")


def _select_op(kind: str, draw: TermDraw, rng: np.random.Generator) -> Op:
    q = draw.keyword()
    fq = FQ_POOL[int(rng.integers(len(FQ_POOL)))]
    if kind == "select_facets":
        return Op(kind, {"params": {
            "q": q, "fq": fq, "rows": 10,
            "facet.field": "lang", "facet.query": draw.keyword(),
            "json.facet": {"langs": {"type": "terms", "field": "lang",
                                     "facet": {"chars": "sum(n_chars)"}}},
            "stats": "true", "stats.field": "n_chars"}})
    if kind == "select_group":
        return Op(kind, {"params": {"q": q, "fq": fq, "rows": 10,
                                    "group": "true", "group.field": "lang"}})
    if kind == "select_page":
        return Op(kind, {"params": {"q": q, "rows": 10,
                                    "start": int(rng.integers(50, 300))}})
    if kind == "select_cursor":
        return Op(kind, {"params": {"q": q, "rows": 10}, "pages": 2})
    if kind == "select_sharded":
        # the scatter-gather page: exact global stats, per-shard top-k
        # within the fq domain, one merge; sharded stats or facet.field
        # would add 2-5 s per op
        return Op(kind, {"params": {"q": q, "fq": fq, "rows": 10}})
    raise ValueError(f"unknown select kind {kind!r}")


def query_mix_rounds(seed: int, n_rounds: int) -> list[list[Op]]:
    """``n_rounds`` rounds; each holds every search shape and /select kind
    once, in a seeded order, so every run has the same op mix."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    draw = TermDraw(rng)
    rounds = []
    for _ in range(n_rounds):
        ops = [_search_op(k, draw) if k in SEARCH_SHAPES else _select_op(k, draw, rng)
               for k in QUERY_MIX_KINDS]
        rounds.append([ops[i] for i in rng.permutation(len(ops))])
    return rounds


def warmup_ops() -> list[Op]:
    """Warm-up (inside set-up): starts the Python workers and compiles
    the common operators.  Uses a term outside the drawn rank range so
    the measured ops still meet a cold term-stats memo."""
    return [Op("term_cold", {"q": rank_term(_RANKS + 7)})]


@dataclass(frozen=True)
class IngestRound:
    """One write round: ``replace`` existing keys get new content,
    ``new`` rows get fresh keys, ``delete`` keys are deleted after the
    update commits.  ``reads`` run after each commit."""

    content_seed: int
    n_new: int
    replace: tuple[str, ...]
    delete: tuple[str, ...]
    reads: tuple[Op, ...]


def ingest_round(seed: int, rnd: int, live: list[str], reads_per_commit: int = 2) -> IngestRound:
    """Round ``rnd`` against the ``live`` key list (the benchmark's
    ledger): replaced and deleted keys are distinct live keys."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 2, rnd]))
    draw = TermDraw(rng)
    n_rep = INGEST_UPDATE_DOCS // 2
    picked = rng.choice(len(live), size=n_rep + INGEST_DELETES, replace=False)
    keys = [live[i] for i in sorted(picked)]
    order = rng.permutation(len(keys))
    replace = tuple(keys[i] for i in order[:n_rep])
    delete = tuple(keys[i] for i in order[n_rep:])
    reads = tuple(_search_op("term_hot" if i % 2 == 0 else "and", draw)
                  for i in range(reads_per_commit))
    return IngestRound(content_seed=seed * 1000 + rnd + 1,
                       n_new=INGEST_UPDATE_DOCS - n_rep,
                       replace=replace, delete=delete, reads=reads)


def gen_wide_pdf(seed: int, n_docs: int = WIDE_DOCS):
    """The wide corpus: ``doc_id`` 0..n-1 and a short ``content`` holding
    every HOT_TERMS term once plus 0-12 seeded extra tokens (a hot term
    with probability 0.3, else a filler identifier), so hot-term tf and
    doc length, and with them the BM25 scores, vary from doc to doc."""
    import pandas as pd

    rng = np.random.default_rng(np.random.SeedSequence([seed, 3]))
    n_extra = rng.integers(0, 13, size=n_docs)
    hot = rng.random((n_docs, 12)) < 0.3
    hot_tok = rng.integers(0, len(HOT_TERMS), size=(n_docs, 12))
    ident = rng.integers(0, _WIDE_IDENTS, size=(n_docs, 12))
    head = " ".join(HOT_TERMS)
    content = []
    for i in range(n_docs):
        extra = [HOT_TERMS[hot_tok[i, j]] if hot[i, j] else f"id{ident[i, j]}"
                 for j in range(n_extra[i])]
        content.append(" ".join([head, *extra]))
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "content": content})


def corpus_hash(seed: int, n_docs: int) -> str:
    """sha256 over the generated rows (the generator is row-deterministic,
    so the Spark and pandas paths give the same rows)."""
    h = hashlib.sha256()
    pdf = gen_corpus_pdf(n_docs, seed=seed)
    for row in pdf.itertuples(index=False):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def wide_hash(seed: int, n_docs: int) -> str:
    pdf = gen_wide_pdf(seed, n_docs)
    return hashlib.sha256("\x1e".join(pdf["content"]).encode()).hexdigest()


def ops_hash(ops) -> str:
    return hashlib.sha256("\n".join(o.key() for o in ops).encode()).hexdigest()
