"""Seeded benchmark inputs: the corpus on disk and the query logs.

Everything here is a pure function of the ``--seed`` argument.  The corpus
rows come from the engine's own generator rule (``sources.corpus._gen_row``),
so the documents have the shape the engine is built for: a Zipf stream over a
5,000-term vocabulary plus one ``uid{i}doc`` token per document.  Queries
take their shapes from the engine's reference query set (FIXTURES.md §2,
``sources.corpus.reference_queries``) and their terms from the same
vocabulary with the same Zipf weights.

Rows are generated and analysed in a small spawn pool (one process per core)
that exists only while it works: generation before the session starts,
oracle analysis after the timed phase, so neither overlaps a measurement.
"""

from __future__ import annotations

import multiprocessing
import os
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from clinical_trial_searchengine_spark.functions.analysis import (
    analyze_batch,
    tokenize_text,
)
from clinical_trial_searchengine_spark.sources.corpus import (
    _VOCAB,
    _ZIPF_P,
    _gen_row,
    reference_queries,
)

# 8k documents.  Each run starts its own JVM and pays a first build of
# ~18 s; at this size a run still fits three timed builds and ~60 queries
# and ends within a minute on 4 cores.
N_DOCS = 8_000
PARTS = 8  # parquet files per corpus directory, as bench.py writes them
SWEEP_DOCS = 200  # traced runs only: extra rows for the one-off append

# serve log: request j sends a new text when j % 20 is in SERVE_NEW_AT and
# repeats an earlier one otherwise, so 85% of any stretch of the log are
# repeats whatever the seed or the length of the timed phase (drawing each
# request's kind at random moved the share a phase saw between 0.67 and
# 0.87, and its latency with it).  85% is an assumption: no trace of this
# engine's traffic exists, and the workload only asks that most requests
# repeat; the measured share is printed with each run.
SERVE_NEW_AT = frozenset({0, 7, 14})


@dataclass(frozen=True)
class Part:
    """A contiguous range of generator rows written to one parquet file."""

    path: str
    start: int
    stop: int


def _starmap(fn, args: list, cores: int) -> list:
    """``fn`` over ``args`` in a spawn pool that is joined before return."""
    pool = multiprocessing.get_context("spawn").Pool(min(cores, len(args)))
    try:
        return pool.starmap(fn, args)
    finally:
        pool.close()
        pool.join()


def _write_part(seed: int, part: Part) -> int:
    rows = [_gen_row(seed, i) for i in range(part.start, part.stop)]
    pdf = pd.DataFrame(rows)
    pdf.to_parquet(part.path, index=False)
    return sum(len(c.encode("utf-8")) for c in pdf["content"])


def plan_parts(tmp: str, name: str, start: int, stop: int, n_files: int):
    """Split rows [start, stop) into ``n_files`` parquet parts under
    ``tmp/name``."""
    d = os.path.join(tmp, name)
    os.makedirs(d, exist_ok=True)
    bounds = np.linspace(start, stop, n_files + 1).astype(int)
    return [
        Part(os.path.join(d, f"part-{j:03d}.parquet"), int(a), int(b))
        for j, (a, b) in enumerate(zip(bounds[:-1], bounds[1:]))
        if b > a
    ]


def write_parts(seed: int, parts: list[Part], cores: int) -> dict[Part, int]:
    """Generate and write every part; returns content bytes per part."""
    sizes = _starmap(_write_part, [(seed, p) for p in parts], cores)
    return dict(zip(parts, sizes))


@dataclass
class Analysis:
    """Per-row analyzer output keyed by generator row: (repo, path, commit),
    doc length, and the postings of the query terms the run issued."""

    keys: dict[int, tuple[str, str, str]]
    lens: dict[int, int]
    postings: dict[str, list[tuple[int, int]]]

    def add(self, other: "Analysis") -> None:
        self.keys.update(other.keys)
        self.lens.update(other.lens)
        for term, plist in other.postings.items():
            self.postings.setdefault(term, []).extend(plist)


def analyze_frame(pdf: pd.DataFrame, start: int,
                  terms: frozenset) -> Analysis:
    """The oracle's analyzer (``analyze_batch``) over rows start.. of
    ``pdf``."""
    pairs, lens = analyze_batch(pdf["content"], "standard")
    postings: dict[str, list[tuple[int, int]]] = {}
    for off, row in enumerate(pairs):
        for term, tf in row:
            if term in terms:
                postings.setdefault(term, []).append((start + off, tf))
    keys = zip(pdf["repo"], pdf["path"], pdf["commit"])
    return Analysis(
        {start + off: key for off, key in enumerate(keys)},
        {start + off: dl for off, dl in enumerate(lens)},
        postings,
    )


def _analyze_part(part: Part, terms: frozenset) -> Analysis:
    pdf = pd.read_parquet(part.path, columns=["repo", "path", "commit",
                                              "content"])
    return analyze_frame(pdf, part.start, terms)


def analyze_parts(parts: list[Part], terms: set[str],
                  cores: int) -> Analysis:
    frozen = frozenset(terms)
    ana = Analysis({}, {}, {})
    for out in _starmap(_analyze_part, [(p, frozen) for p in parts], cores):
        ana.add(out)
    return ana


# ---------------------------------------------------------------------------
# Query logs
# ---------------------------------------------------------------------------


def query_key(text: str, k: int) -> tuple:
    """What the engine's plan cache keys a query on: analyzed term counts
    and k.  Two texts with the same key are the same query to the engine."""
    return tuple(sorted(Counter(tokenize_text(text, "standard")).items())), k


# (text, k) of the 20 reference queries: the j-th generated query has the
# shape of reference query j % 20, so 1 in 20 asks for k=100, 1 in 20 is a
# unique-hit uid token, 1 in 20 has only terms no document has, ...
REFERENCE = [(q["text"], q["k"]) for q in reference_queries()]
_IN_VOCAB = frozenset(_VOCAB)
_UID = re.compile(r"uid\d+doc")


class QueryMaker:
    """Draws queries whose analyzed form never repeats within one maker.

    The j-th query copies the shape of reference query j % 20: its k, its
    number of tokens and which of them repeat, and the class of each
    token — a corpus term, a unique-hit ``uid`` token, or a term no
    document has.  The seed picks new tokens of the same classes: corpus
    terms by the corpus's Zipf weights (distinct where the reference's are
    distinct), uid tokens uniformly, absent terms fresh per query.  The
    benchmark builds in standard mode, which neither stems nor drops
    stopwords, so the reference's stopwords are terms no document has and
    its same-Porter-root words are three distinct corpus terms."""

    def __init__(self, seed: int, stream: int, n_docs: int):
        self.rng = np.random.default_rng([seed, stream])
        self.n_docs = n_docs
        self.seen: set[tuple] = set()
        self.j = 0

    def _text(self, template: str) -> str:
        tokens = tokenize_text(template, "standard")
        distinct = list(dict.fromkeys(tokens))
        n_terms = sum(t in _IN_VOCAB for t in distinct)
        terms = iter(_VOCAB[i] for i in self.rng.choice(
            len(_VOCAB), n_terms, replace=False, p=_ZIPF_P))
        new = {}
        for i, t in enumerate(distinct):
            if t in _IN_VOCAB:
                new[t] = next(terms)
            elif _UID.fullmatch(t):
                new[t] = f"uid{int(self.rng.integers(self.n_docs))}doc"
            else:
                new[t] = f"zq{self.j}n{i}"
        return " ".join(new[t] for t in tokens)

    def new(self) -> tuple[str, int]:
        template, k = REFERENCE[self.j % len(REFERENCE)]
        while True:
            text = self._text(template)
            key = query_key(text, k)
            if key not in self.seen:
                self.seen.add(key)
                self.j += 1
                return text, k


def distinct_log(seed: int, stream: int, n: int,
                 n_docs: int) -> list[tuple[str, int]]:
    maker = QueryMaker(seed, stream, n_docs)
    return [maker.new() for _ in range(n)]


def serve_log(seed: int, n: int, n_docs: int, n_warmup: int):
    """(requests, warm-up texts).  Request j is a new text when j % 20 is
    in SERVE_NEW_AT; else it repeats an earlier text, picked uniformly.
    Warm-up texts come from the same maker, so their analyzed form is in
    no request."""
    maker = QueryMaker(seed, 1, n_docs)
    warmup = [maker.new() for _ in range(n_warmup)]
    distinct: list[tuple[str, int]] = []
    log: list[tuple[str, int]] = []
    for j in range(n):
        if j % 20 not in SERVE_NEW_AT:
            log.append(distinct[int(maker.rng.integers(len(distinct)))])
        else:
            q = maker.new()
            distinct.append(q)
            log.append(q)
    return log, warmup


def repeat_share(requests: list[tuple[str, int]]) -> float:
    """Share of requests whose analyzed query was already issued."""
    seen: set[tuple] = set()
    repeats = 0
    for text, k in requests:
        key = query_key(text, k)
        repeats += key in seen
        seen.add(key)
    return repeats / len(requests) if requests else 0.0


def query_terms(requests) -> set[str]:
    return {t for text, _k in requests for t in tokenize_text(text,
                                                               "standard")}
