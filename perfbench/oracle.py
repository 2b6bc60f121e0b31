"""Pure-Python oracle for every output the benchmark checks.

It restates the engine's declared semantics from scratch, over the
benchmark's own logical corpus state (``doc_id -> text``):

- tokens: ``lower()`` split on whitespace, empty strings and the
  stopwords ``the``/``a`` dropped;
- DF: number of documents containing a word;
- per-document top-30 terms: tf descending, ties by word ascending;
- BM25: ``idf = ln(N / (df + 1))`` over all N documents, k1 = 1.2,
  b = 0.75, ``avgdl`` over documents with at least one token, the
  per-document score rounded to 6 places, ties by ascending ``doc_id``;
- curation: the quality keep-score gate, benchmark 3-gram overlap and
  first-arrival exact-Jaccard near-duplicate dropping.

Nothing here imports Spark or the engine.
"""

from __future__ import annotations

import math
import re
from collections import Counter, defaultdict

STOPWORDS = ("the", "a")
K1, B = 1.2, 0.75
TOP_K_TERMS = 30
SHINGLE_N = 3
SCORE_TOL = 1e-5  # one unit in the 6th rounded place, with slack
MIN_KEEP, JACCARD, MIN_OVERLAP = 0.2, 0.8, 3  # CorpusCurator's defaults
_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_PUNCT = re.compile(r"[^A-Za-z0-9_ \t\n\x0b\f\r]")


def tokens(text: str) -> list[str]:
    return [w for w in _WS.split(text.lower()) if w and w not in STOPWORDS]


def document_frequencies(docs: dict[int, str]) -> Counter:
    df: Counter = Counter()
    for text in docs.values():
        df.update(set(tokens(text)))
    return df


def top_terms(text: str) -> list[tuple[str, int]]:
    """``[(word, tf)]``, tf descending then word ascending, first 30."""
    tf = Counter(tokens(text))
    return sorted(tf.items(), key=lambda wc: (-wc[1], wc[0]))[:TOP_K_TERMS]


class Bm25:
    """BM25 over one frozen corpus state; builds postings once."""

    def __init__(self, docs: dict[int, str]):
        self.n_docs = len(docs)
        self.postings: dict[str, list[tuple[int, int]]] = defaultdict(list)
        self.dl: dict[int, int] = {}
        for doc_id, text in docs.items():
            tf = Counter(tokens(text))
            if not tf:
                continue
            self.dl[doc_id] = sum(tf.values())
            for w, c in tf.items():
                self.postings[w].append((doc_id, c))
        self.avgdl = sum(self.dl.values()) / len(self.dl) if self.dl else 0.0

    def scores(self, terms: tuple[str, ...]) -> dict[int, float]:
        acc: dict[int, float] = defaultdict(float)
        for w in dict.fromkeys(terms):
            plist = self.postings.get(w, ())
            if not plist:
                continue
            idf = math.log(self.n_docs / (len(plist) + 1))
            for doc_id, tf in plist:
                norm = tf + K1 * (1 - B + B * self.dl[doc_id] / self.avgdl)
                acc[doc_id] += idf * tf * (K1 + 1) / norm
        return {d: round(s, 6) for d, s in acc.items()}

    def topk(self, terms: tuple[str, ...], k: int) -> list[tuple[int, float]]:
        s = self.scores(terms)
        return sorted(s.items(), key=lambda ds: (-ds[1], ds[0]))[:k]


def query_terms(query: str) -> tuple[str, ...]:
    return tuple(tokens(query))


def topk_matches(
    got: list[tuple[int, float]], oracle: Bm25, terms: tuple[str, ...], k: int
) -> bool:
    """Whether an engine top-k ``[(doc_id, score)]`` in rank order is a
    correct answer.  Scores may differ from the oracle in the last
    rounded digit (summation order), so a near-tie at the k boundary or
    between neighbours may legitimately swap: every returned document
    must carry its oracle score, scores must be the oracle's k best and
    in non-increasing order."""
    full = oracle.scores(terms)
    want = sorted(full.values(), reverse=True)[:k]
    if len(got) != len(want):
        return False
    seen = set()
    for (doc_id, score), best in zip(got, want):
        if doc_id in seen or doc_id not in full:
            return False
        seen.add(doc_id)
        if abs(full[doc_id] - score) > SCORE_TOL or abs(score - best) > SCORE_TOL:
            return False
    return all(a[1] >= b[1] - SCORE_TOL for a, b in zip(got, got[1:]))


# -- curation ----------------------------------------------------------------


def keep_score(text: str) -> float:
    """The engine's quality keep-score (length, stopword and punctuation
    density) for one document."""
    words = [w for w in _WS.split(text.lower()) if w]
    n_tokens, n_chars = len(words), len(text)
    if n_tokens < 5:
        return 0.0
    n_stop = sum(w in STOPWORDS for w in words)
    if round(n_stop / n_tokens, 6) > 0.5:
        return 0.2
    punct = round(len(_PUNCT.findall(text)) / n_chars, 6) if n_chars else 0.0
    return round(min(1.0, n_tokens / 100.0) * (1.0 - punct), 6)


def shingles(text: str) -> set[str]:
    ws = _WS.split(text.lower())
    return {" ".join(ws[i:i + SHINGLE_N]) for i in range(len(ws) - SHINGLE_N + 1)}


class Curator:
    """Stateful twin of ``CorpusCurator``: first-arrival near-duplicate
    dropping against every document ever offered (dropped ones
    included), plus the quality and contamination gates."""

    def __init__(self, benchmark: dict[int, str]):
        self.eval_grams = set().union(*(shingles(t) for t in benchmark.values()))
        self.sh: dict[int, set[str]] = {}
        self.by_gram: dict[str, list[int]] = defaultdict(list)

    def _near_pairs(self, batch: dict[int, set[str]]) -> list[tuple[int, int]]:
        pairs = set()
        for d, grams in batch.items():
            shared: Counter = Counter()
            for g in grams:
                shared.update(o for o in self.by_gram.get(g, ()) if o != d)
            for o, inter in shared.items():
                other = self.sh[o]
                if round(inter / (len(grams) + len(other) - inter), 6) >= JACCARD:
                    pairs.add((min(d, o), max(d, o)))
        return sorted(pairs)

    def curate(self, docs: dict[int, str]) -> tuple[set[int], dict]:
        """Survivor ids of one batch, plus the batch's ``verified`` pair
        count and ``losers``."""
        batch = {d: shingles(t) for d, t in docs.items()}
        for d, grams in batch.items():
            self.sh[d] = grams
            for g in grams:
                self.by_gram[g].append(d)
        pairs = self._near_pairs(batch)
        losers = set()
        for d1, d2 in pairs:
            new1, new2 = d1 in batch, d2 in batch
            if new1 and new2:
                losers.add(d2)
            elif new1 or new2:
                losers.add(d1 if new1 else d2)
        survivors = {
            d for d, text in docs.items()
            if keep_score(text) >= MIN_KEEP
            and len(batch[d] & self.eval_grams) < MIN_OVERLAP
            and d not in losers
        }
        return survivors, {"verified": len(pairs), "losers": losers}
