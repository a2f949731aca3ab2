"""Answer checks against the BM25 oracle in ``tests/oracle.py``.

The oracle class is loaded from the repository's test file, never copied.
Its constructor analyzes the whole corpus in one process, which costs more
than a run can spare, so :func:`oracle_for` fills the same fields from the
pool analysis of ``inputs.analyze_parts`` (same ``analyze_batch``, same
(repo, path, commit) doc_id order, postings pruned to the issued query
terms).  The search and scoring methods are the oracle's own, and
:func:`self_test` proves the two constructions give identical answers.

Two comparisons:

* single generation (every timed answer): exact doc_ids, and scores
  within 1e-9;
* several generations (after ``add_documents``): doc_ids are assigned per
  generation and ties break on them (see ``IndexHandle``), so answers are
  compared by (repo, path, commit) key and score — the returned scores
  must equal the oracle's top-k scores, and each returned doc's score must
  equal the oracle's score for its key.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pandas as pd

from inputs import Analysis

TOL = 1e-9


def load_oracle_class(root: str):
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("ftbench_bm25_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.BM25Oracle


def oracle_for(oracle_cls, ana: Analysis, rows) -> object:
    """An oracle over the generator rows ``rows``, built as
    ``BM25Oracle.__init__`` builds it (doc_id = rank by (repo, path,
    commit); postings ascending by doc_id)."""
    order = sorted(rows, key=ana.keys.__getitem__)
    doc_of = {i: d for d, i in enumerate(order)}
    o = oracle_cls.__new__(oracle_cls)
    o.mode, o.k1, o.b = "standard", 1.2, 0.75
    o.corpus = pd.DataFrame(
        [ana.keys[i] for i in order], columns=["repo", "path", "commit"]
    )
    o.doc_len = [ana.lens[i] for i in order]
    o.N = len(order)
    o.avgdl = (sum(o.doc_len) / o.N) if o.N else 1.0
    o.postings = {}
    for term, plist in ana.postings.items():
        mine = sorted((doc_of[i], tf) for i, tf in plist if i in doc_of)
        if mine:
            o.postings[term] = mine
    return o


def same_ranked(got, exp) -> bool:
    """Exact doc_ids in order, scores within TOL."""
    return len(got) == len(exp) and all(
        gd == ed and abs(gs - es) <= TOL
        for (gd, gs), (ed, es) in zip(got, exp)
    )


def same_by_key(got, exp, all_scores, key_of_doc,
                oracle_doc_of_key) -> bool:
    """Multi-generation comparison: top-k scores equal position by
    position, and each returned doc's score is the oracle's score for its
    (repo, path, commit) key."""
    if len(got) != len(exp):
        return False
    if any(abs(gs - es) > TOL for (_, gs), (_, es) in zip(got, exp)):
        return False
    keys = [key_of_doc.get(d) for d, _ in got]
    if len(set(keys)) != len(keys):
        return False
    for key, (_, gs) in zip(keys, got):
        od = oracle_doc_of_key.get(key)
        if od is None or abs(all_scores.get(od, float("nan")) - gs) > TOL:
            return False
    return True


class Checker:
    """Collects failures; ``ok`` is False once any check fails."""

    def __init__(self):
        self.checked = 0
        self.failures: list[str] = []

    @property
    def ok(self) -> bool:
        return not self.failures

    def _fail(self, what: str) -> None:
        if len(self.failures) < 20:
            self.failures.append(what)
        else:
            self.failures[-1] = f"... and more ({what})"

    def single_gen(self, oracle, answers, label: str) -> None:
        """``answers``: {(text, k): [ranked list, ...]} — every recorded
        answer for that query must equal the oracle's."""
        for (text, k), variants in answers.items():
            exp = oracle.search(text, k)
            self.checked += len(variants)
            if not all(same_ranked(got, exp) for got in variants):
                self._fail(f"{label}: {text!r} k={k}")

    def multi_gen(self, oracle, answers, key_of_doc, label: str) -> None:
        """``answers``: {(text, k): [ranked list, ...]}; ``key_of_doc``
        maps the engine's doc_ids to (repo, path, commit)."""
        doc_of_key = {
            tuple(r): d for d, r in enumerate(
                oracle.corpus[["repo", "path", "commit"]].itertuples(
                    index=False, name=None))
        }
        for (text, k), variants in answers.items():
            exp = oracle.search(text, k)
            all_scores = oracle.score_all(text)
            self.checked += len(variants)
            if not all(same_by_key(got, exp, all_scores, key_of_doc,
                                   doc_of_key) for got in variants):
                self._fail(f"{label}: {text!r} k={k}")

    def expect(self, cond: bool, what: str) -> None:
        self.checked += 1
        if not cond:
            self._fail(what)


def self_test(oracle_cls, ana: Analysis, pdf: pd.DataFrame,
              queries) -> list[str]:
    """Prove the checker sound on a small corpus; returns failures.

    1. ``oracle_for`` answers exactly as ``BM25Oracle(pdf)`` does.
    2. A correct answer passes both comparisons.
    3. One swapped doc, or one score off by 1e-6, fails both.
    4. The same answer under another doc_id assignment — tie order then
       follows the new ids, as in a multi-generation index — passes the
       key comparison and fails the raw doc_id one.  ``pdf`` must hold a
       tie in some query's top-k (the caller adds a duplicate document).
    """
    errors: list[str] = []
    full = oracle_cls(pdf)
    mine = oracle_for(oracle_cls, ana, range(len(pdf)))
    for text, k in queries:
        if full.search(text, k) != mine.search(text, k):
            errors.append(f"oracle_for differs from BM25Oracle on {text!r}")
    key_of = {d: full.key_of(d) for d in range(full.N)}

    def passes(got, exp, text, ids_key):
        single = Checker()
        single.single_gen(full, {(text, len(exp)): [got]}, "t")
        multi = Checker()
        multi.multi_gen(full, {(text, len(exp)): [got]}, ids_key, "t")
        return single.ok, multi.ok

    perm = np.arange(full.N)[::-1]  # reversed ids flip every tie
    permuted_key = {int(perm[d]): key for d, key in key_of.items()}
    tie_seen = False
    for text, k in queries:
        exp = full.search(text, k)
        if len(exp) < 2:
            continue
        if passes(exp, exp, text, key_of) != (True, True):
            errors.append(f"correct answer rejected: {text!r}")
        top = {d for d, _ in exp}
        outside = [d for d, s in full.score_all(text).items()
                   if d not in top and abs(s - exp[0][1]) > 1e-6]
        if outside:
            swapped = [(outside[0], exp[0][1])] + exp[1:]
            if passes(swapped, exp, text, key_of) != (False, False):
                errors.append(f"swapped doc accepted: {text!r}")
        off = exp[:-1] + [(exp[-1][0], exp[-1][1] + 1e-6)]
        if passes(off, exp, text, key_of) != (False, False):
            errors.append(f"score off by 1e-6 accepted: {text!r}")
        # re-rank the full result under the permuted ids, engine-style
        rescored = sorted(
            ((int(perm[d]), s) for d, s in full.score_all(text).items()),
            key=lambda e: (-e[1], e[0]),
        )[:k]
        tie_seen |= [d for d, _ in rescored] != [
            int(perm[d]) for d, _ in exp
        ]
        if passes(rescored, exp, text, permuted_key) != (False, True):
            errors.append(f"multi-generation answer misjudged: {text!r}")
    if not tie_seen:
        errors.append("self-test never saw a tie reorder")
    return errors
