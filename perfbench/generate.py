"""Seeded input generator: every byte the engine sees comes from here.

All draws go through one ``numpy.random.Generator`` per workload, so the
same ``--seed`` gives byte-identical corpora, query mixes, write streams
and curation batches.  Text is ASCII, space-separated and lowercase, so
the engine's regex tokenizer and the pure-Python oracle split it the
same way.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle

# Main vocabulary syllables: no 'q' (reserved for the benchmark-set
# vocabulary, so decontamination overlap only comes from injected
# passages) and consonant+vowel pairs never spell a stopword.
_CONS = "bcdfghjklmnprstvwxz"
_VOWELS = "aeiou"
_SYL = [c + v for c in _CONS for v in _VOWELS]

ZIPF_S = 1.07
HEAD_WORDS = 64  # head queries draw from this many most frequent words
# curation batch mix: near-duplicates, contaminated, too short; the rest organic
DUP_FRAC, CONTAM_FRAC, SHORT_FRAC = 0.10, 0.05, 0.10
NEW_ID_BASE = 1_000_000  # ids of written and curated documents, disjoint from the corpus
BENCH_DOCS = 200  # documents in the benchmark set curation protects


def word(i: int, prefix: str = "") -> str:
    """Deterministic pronounceable word for vocabulary index ``i``."""
    n, out = i, []
    for _ in range(3):
        n, r = divmod(n, len(_SYL))
        out.append(_SYL[r])
    while n:
        n, r = divmod(n, len(_SYL))
        out.append(_SYL[r])
    return prefix + "".join(out)


@dataclass
class Zipf:
    """A Zipf(s = 1.07) vocabulary of ``size`` words; rank 0 is the most common."""

    size: int = 50_000
    words: list[str] = field(init=False)
    cdf: np.ndarray = field(init=False)

    def __post_init__(self):
        p = 1.0 / np.arange(1, self.size + 1, dtype=np.float64) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.words = [word(i) for i in range(self.size)]

    def draw(self, rng: np.random.Generator, n: int) -> list[str]:
        ranks = np.searchsorted(self.cdf, rng.random(n), side="right")
        ranks = np.minimum(ranks, self.size - 1)
        return [self.words[r] for r in ranks]


def doc_lengths(rng: np.random.Generator, n: int, median: int) -> np.ndarray:
    """Lognormal document lengths (tokens), clipped to [24, 8 * median]."""
    raw = rng.lognormal(np.log(median), 0.5, n)
    return np.clip(raw.round(), 24, 8 * median).astype(int)


def corpus(
    rng: np.random.Generator,
    vocab: Zipf,
    n_docs: int,
    id_base: int = 0,
    median_len: int = 120,
) -> dict[int, str]:
    """``doc_id -> text`` for ``n_docs`` Zipf documents with ids from
    ``id_base``.  About one token in twenty is a stopword, so the
    stopword filter has work."""
    out = {}
    for j, n in enumerate(doc_lengths(rng, n_docs, median_len)):
        toks = vocab.draw(rng, int(n))
        stops = rng.random(len(toks)) < 0.05
        toks = [("the" if k % 2 else "a") if s else t
                for k, (t, s) in enumerate(zip(toks, stops))]
        out[id_base + j] = " ".join(toks)
    return out


def write_documents(docs: dict[int, str], directory: str, n_files: int) -> str:
    """Write ``docs`` as ``<directory>/documents.parquet/`` in ``n_files``
    part files (the layout ``sources.tables.load_documents`` reads, split
    like a real multi-file corpus); returns ``directory``."""
    out = os.path.join(directory, "documents.parquet")
    os.makedirs(out, exist_ok=True)
    ids = sorted(docs)
    for k in range(n_files):
        part = ids[k::n_files]
        table = pa.table(
            {
                "doc_id": pa.array(part, pa.int64()),
                "text": pa.array([docs[i] for i in part], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(out, f"part-{k:05d}.parquet"))
    return directory


def query_mix(rng: np.random.Generator, docs: dict[int, str], n: int) -> list[tuple[str, str]]:
    """``[(kind, query)]``: half ``head`` queries over the 64 most
    frequent words (long, salted postings), half ``tail`` queries over
    words with document frequency 1-3 (tiny postings).  Term counts cycle
    1-4 per class, so any run's first few queries of each class hold every
    length; terms are distinct within a query."""
    df = oracle.document_frequencies(docs)
    by_df = sorted(df, key=lambda w: (-df[w], w))
    heads = by_df[:HEAD_WORDS]
    tails = sorted(w for w, d in df.items() if d <= 3)
    out = []
    for i in range(n):
        kind = "head" if i % 2 == 0 else "tail"
        pool = heads if kind == "head" else tails
        m = (i // 2) % 4 + 1
        picks = rng.choice(len(pool), size=m, replace=False)
        out.append((kind, " ".join(pool[int(p)] for p in picks)))
    return out


@dataclass
class WriteRound:
    adds: dict[int, str]
    upserts: dict[int, str]
    deletes: list[int]


def write_stream(
    rng: np.random.Generator,
    vocab: Zipf,
    live: dict[int, str],
    rounds: int,
    n_add: int,
    n_upsert: int,
    n_delete: int,
) -> list[WriteRound]:
    """Rounds of adds (fresh ids), upserts (replace live ids) and deletes
    (remove live ids).  Upsert and delete victims are disjoint within a
    round and never re-target an id deleted earlier."""
    alive = set(live)
    out = []
    for r in range(rounds):
        adds = corpus(rng, vocab, n_add, id_base=NEW_ID_BASE + r * n_add)
        pool = sorted(alive)
        picks = rng.choice(len(pool), size=n_upsert + n_delete, replace=False)
        victims = [pool[int(p)] for p in picks]
        ups = corpus(rng, vocab, n_upsert)
        upserts = dict(zip(victims[:n_upsert], ups.values()))
        deletes = sorted(victims[n_upsert:])
        alive |= set(adds)
        alive -= set(deletes)
        out.append(WriteRound(adds, upserts, deletes))
    return out


@dataclass
class CurateBatch:
    docs: dict[int, str]
    near_dups: dict[int, int]  # injected dup id -> source doc id
    contaminated: list[int]  # ids carrying a benchmark passage
    low_quality: list[int]  # ids generated too short for the keep gate


def benchmark_set(rng: np.random.Generator) -> dict[int, str]:
    """The evaluation set curation protects: its own 'q'-prefixed
    vocabulary, so no organic document shares a shingle with it."""
    bench_vocab = Zipf(size=5_000)
    bench_vocab.words = [word(i, prefix="q") for i in range(bench_vocab.size)]
    return corpus(rng, bench_vocab, BENCH_DOCS, median_len=60)


def curate_batches(
    rng: np.random.Generator,
    vocab: Zipf,
    bench: dict[int, str],
    n_batches: int,
    batch_size: int,
) -> list[CurateBatch]:
    """Batches of organic documents plus a recorded ledger of injected
    near-duplicates (of any earlier document, this batch's included:
    one token in 60 replaced, Jaccard ~0.9), benchmark-contaminated
    documents (a 12-token benchmark passage spliced in) and short
    documents (8-15 tokens, below the quality gate)."""
    bench_texts = [bench[i] for i in sorted(bench)]
    earlier: list[tuple[int, list[str]]] = []
    out = []
    next_id = NEW_ID_BASE
    for _ in range(n_batches):
        docs, dups, contam, short = {}, {}, [], []
        for _ in range(batch_size):
            doc_id, next_id = next_id, next_id + 1
            u = rng.random()
            if earlier and u < DUP_FRAC:
                src_id, src = earlier[int(rng.integers(len(earlier)))]
                toks = list(src)
                for pos in rng.choice(len(toks), size=max(1, len(toks) // 60),
                                      replace=False):
                    toks[int(pos)] = vocab.draw(rng, 1)[0]
                dups[doc_id] = src_id
            elif u < DUP_FRAC + CONTAM_FRAC:
                toks = corpus(rng, vocab, 1)[0].split(" ")
                passage = bench_texts[int(rng.integers(len(bench_texts)))].split(" ")
                start = int(rng.integers(0, max(1, len(passage) - 12)))
                at = int(rng.integers(0, len(toks)))
                toks[at:at] = passage[start:start + 12]
                contam.append(doc_id)
            elif u < DUP_FRAC + CONTAM_FRAC + SHORT_FRAC:
                toks = vocab.draw(rng, int(rng.integers(8, 16)))
                short.append(doc_id)
            else:
                toks = corpus(rng, vocab, 1)[0].split(" ")
            docs[doc_id] = " ".join(toks)
            if len(toks) >= 60:
                earlier.append((doc_id, toks))
        out.append(CurateBatch(docs, dups, contam, short))
    return out
