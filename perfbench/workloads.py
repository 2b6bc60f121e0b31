"""The benchmark's workloads, each driven through the engine's public API.

``corpus_build`` is the offline side: curate incoming batches, then
rebuild the BM25 statistics and the serving index over the corpus plus
the survivors.  ``serve_ingest`` is the online side: one closed-loop
client querying a warm index, then writes beside cold reads and a
compaction.

The untraced pass (``--trace 0``) calls the API exactly as a user would
and gives the end-to-end numbers.  The traced pass (``--trace 1``)
runs the same operations with each layer call in a span and its output
materialised at the span boundary, which gives per-layer numbers; some
operations also run once untraced right before their traced twin, and
the difference is the tracing overhead.

Every operation's output is checked against :mod:`perfbench.oracle`
outside the timed region; an operation that raises or returns a wrong
answer counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import generate as gen
from perfbench import oracle
from perfbench.tracing import NullTracer

NULL = NullTracer()

N_BUCKETS = 16  # index buckets: postings files stay ~tens of KB at this corpus size
TOP_K = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def class_p50(samples: dict, key: str) -> float:
    """Mean of the head-query and tail-query medians: the two classes'
    latencies differ, so a pooled median of a 50/50 mix would sit in the
    gap between them and jump with one sample."""
    meds = [median(samples[k]) for k in (f"{key}_head", f"{key}_tail") if samples.get(k)]
    return sum(meds) / len(meds) if meds else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """``(percentile, value)``: the highest percentile with at least ten
    samples beyond it, capped at p90; ``(0, 0)`` below 11 samples (the
    warm-search phase always takes ``MIN_WARM_SEARCHES``)."""
    n = len(xs)
    if n < 11:
        return 0.0, 0.0
    i = min(n - 11, int(0.9 * n) - 1)
    return 100.0 * (i + 1) / n, sorted(xs)[i]


def du(path: str) -> tuple[int, int]:
    """``(files, bytes)`` of the data files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def topk_rows(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in sorted(rows, key=lambda r: r["rk"])]


def _subtree(tr, span) -> list:
    ids, out = {span.id}, [span]
    for s in tr.spans[span.id + 1:]:
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def _self(tr, name: str) -> float:
    return median([s.self_s for s in tr.named(name)])


def _dur(tr, name: str) -> float:
    return median([s.dur for s in tr.named(name)])


def _rows(tr, name: str) -> float:
    return median([s.counts.get("rows", 0) for s in tr.named(name)])


def _tree(tr, name: str) -> float:
    """Median over ``name`` spans of Spark jobs summed over the subtree."""
    return median([sum(c.jobs for c in _subtree(tr, s)) for s in tr.named(name)])


class Workload:
    """Base: seeded inputs, op accounting and samples."""

    name = ""
    why = ""

    def __init__(self, seed: int, seconds: float, work: str, cpus: int):
        self.rng = np.random.default_rng(seed)
        self.seconds = seconds
        self.work = work
        self.cpus = cpus
        self.vocab = gen.Zipf()
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.untraced_twin_s = 0.0  # ops run both ways in the traced pass
        self.traced_twin_s = 0.0

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def run_op(self, fn, *args):
        """Run one timed operation; returns ``(seconds, result)``, or
        ``(None, None)`` when it raised (counted as failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception:  # noqa: BLE001 — a failed op is a result, not a crash
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None, None
        return time.perf_counter() - t0, out

    def verdict(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong result: {what}", file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def load(self, spark, directory: str):
        from flink_bm25_spark.sources.tables import load_documents

        return load_documents(spark, directory)

    # hooks: generate (pure Python), prepare (engine work every pass
    # starts from, untimed), reset (restore that state, untimed), setup
    # (timed, repeated), measure, e2e, layers

    def prepare(self, spark) -> None:
        pass

    def reset(self) -> None:
        pass


# ---------------------------------------------------------------------------


class CorpusBuild(Workload):
    """Curate incoming batches (``CorpusCurator``), then the paper's batch
    job over corpus + survivors: ``BM25Engine.fit`` + ``save`` + top-30
    ``doc_vectors`` (the reference's tf5/idf sinks), and the serving
    index with its forward section (``bm25_index_save(forward=True)``)."""

    name = "corpus_build"
    why = ("offline: curate batches with a dup/contamination ledger, then BM25"
           " precompute, engine search and index build; the index read path is idle")
    N_DOCS = 3000
    BATCHES, BATCH_SIZE = 2, 300

    def generate(self):
        docs = gen.corpus(self.rng, self.vocab, self.N_DOCS)
        self.corpus_dir = gen.write_documents(docs, self.path("in", "corpus"), self.cpus)
        bench = gen.benchmark_set(self.rng)
        self.bench_dir = gen.write_documents(bench, self.path("in", "bench"), self.cpus)
        self.batches = gen.curate_batches(self.rng, self.vocab, bench, self.BATCHES,
                                          self.BATCH_SIZE)
        self.batch_dirs = [gen.write_documents(b.docs, self.path("in", f"batch{i}"), self.cpus)
                           for i, b in enumerate(self.batches)]
        cur = oracle.Curator(bench)
        self.want = [cur.curate(b.docs)[0] for b in self.batches]
        final = dict(docs)
        for b, keep in zip(self.batches, self.want):
            final.update({d: b.docs[d] for d in keep})
        self.docs = final
        self.input_bytes = sum(len(t.encode()) for t in final.values())
        self.df = oracle.document_frequencies(final)
        self.bm = oracle.Bm25(final)
        self.engine_queries = gen.query_mix(self.rng, final, 4)
        self.checks = [oracle.query_terms(self.engine_queries[0][1])]
        ids = sorted(final)
        self.sample_ids = sorted(int(ids[i]) for i in self.rng.choice(len(ids), 24, replace=False))
        self.hot_cap = max(32, len(final) // 16)

    def setup(self, spark, tr):
        from flink_bm25_spark.api import CorpusCurator

        with tr.span("api.curator_fit"):
            self.cur = CorpusCurator.fit(self.load(spark, self.bench_dir))
            # fit is lazy; a curator that screens many batches keeps its
            # benchmark grams cached, so building them is set-up work
            self.cur.eval_grams = self.cur.eval_grams.persist()
            self.cur.eval_grams.count()
        self.store = self.archive = None

    # -- curation ------------------------------------------------------------

    def _survivors_path(self, i: int) -> str:
        return self.path("out", "survivors", str(i))

    def _curate(self, spark, i):
        kept = self.cur.curate_batch(self.load(spark, self.batch_dirs[i]))
        kept.select("doc_id", "text").write.mode("overwrite").parquet(self._survivors_path(i))

    def _traced_curate(self, spark, tr, i):
        """``CorpusCurator.curate_batch`` composed from its layer calls."""
        from flink_bm25_spark.operators.decontam import overlap_counts
        from flink_bm25_spark.operators.dedup import (
            first_arrival_losers,
            lsh_candidate_pairs,
            minhash_dedup_pairs_incremental,
            minhash_signatures_wide,
            shingles,
        )
        from flink_bm25_spark.operators.text_analysis import quality_scores
        from pyspark.sql import functions as F

        cur = self.cur
        with tr.span("api.curate_batch"):
            with tr.span("sources.scan"):
                docs = tr.materialise(self.load(spark, self.batch_dirs[i]))
            with tr.span("text_analysis.quality"):
                qual = tr.materialise(quality_scores(docs).select("doc_id", "keep_score"))
            with tr.span("decontam.overlap"):
                over = tr.materialise(overlap_counts(docs, cur.eval_grams, n=cur.decontam_n))
            with tr.span("dedup.signatures"):
                sigs = tr.materialise(minhash_signatures_wide(shingles(docs)))
            with tr.span("dedup.candidates"):
                every = sigs if self.store is None else self.store.unionByName(sigs)
                new = sigs.select(F.col("doc_id").alias("_n"))
                tr.materialise(lsh_candidate_pairs(every).join(
                    new, (F.col("d1") == F.col("_n")) | (F.col("d2") == F.col("_n")),
                    "left_semi"))
            with tr.span("dedup.pairs"):
                archive = self.archive if self.archive is not None else docs.where(F.lit(False))
                pairs = tr.materialise(minhash_dedup_pairs_incremental(
                    archive, docs, old_sigs_wide=self.store, threshold=cur.jaccard_threshold))
            with tr.span("dedup.losers"):
                losers = tr.materialise(first_arrival_losers(pairs, docs.select("doc_id")))
            kept = (
                docs.join(qual.where(F.col("keep_score") >= cur.min_keep_score).select("doc_id"),
                          "doc_id")
                .join(over.where(F.col("n_overlap") >= cur.min_overlap).select("doc_id"),
                      "doc_id", "left_anti")
                .join(losers, "doc_id", "left_anti")
            )
            with tr.span("sinks.survivors"):
                kept.select("doc_id", "text").write.mode("overwrite").parquet(
                    self._survivors_path(i))
        self.store = sigs if self.store is None else self.store.unionByName(sigs)
        self.archive = docs if self.archive is None else self.archive.unionByName(docs)

    def _check_curate(self, spark, i, b):
        got = {int(r["doc_id"]) for r in
               spark.read.parquet(self._survivors_path(i)).select("doc_id").collect()}
        self.verdict(got == self.want[i], f"curate batch {i}")
        dropped = [d for d in b.near_dups if d not in got]
        self.sample("recall", len(dropped) / len(b.near_dups) if b.near_dups else 1.0)

    # -- build ---------------------------------------------------------------

    def _input(self, spark):
        docs = self.load(spark, self.corpus_dir)
        for i in range(self.BATCHES):
            docs = docs.unionByName(spark.read.parquet(self._survivors_path(i)))
        return docs

    def _precompute(self, spark):
        from flink_bm25_spark.api import BM25Engine
        from flink_bm25_spark.operators.sinks import write_tf_parquet

        eng = BM25Engine.fit(self._input(spark))
        eng.save(self.path("out", "stats"))
        write_tf_parquet(eng.doc_vectors(k=30), self.path("out", "vectors"))
        return eng

    def _index(self, spark):
        from flink_bm25_spark.operators.serving import bm25_index_save

        bm25_index_save(self._input(spark), self.path("out", "index"),
                        n_buckets=N_BUCKETS, hot_df_cap=self.hot_cap, forward=True)

    def _build(self, spark):
        """Precompute, query the fitted engine, build the index."""
        t_pre, eng = self.run_op(self._precompute, spark)
        if eng is not None:
            self._engine_searches(spark, eng, NULL)
        t_idx, _ = self.run_op(self._index, spark)
        spark.catalog.clearCache()
        return t_pre, t_idx

    def _engine_searches(self, spark, eng, tr):
        """``BM25Engine.search`` over the just-fitted statistics (the
        non-index ``operators.bm25`` path), checked."""
        from flink_bm25_spark.operators.bm25 import bm25_rank

        for kind, q in self.engine_queries:
            terms = oracle.query_terms(q)
            if tr.enabled:
                st = eng.stats

                def fn():
                    with tr.span("api.engine_search"), tr.span("bm25.rank"):
                        return bm25_rank(st.tf, st.idf_stats, st.dlen, terms,
                                         k=TOP_K, k1=eng.k1, b=eng.b).collect()
            else:
                def fn():
                    return eng.search(q, TOP_K).collect()
            with tr.op("engine"):
                dt, rows = self.run_op(fn)
            if dt is not None:
                self.verdict(oracle.topk_matches(topk_rows(rows), self.bm, terms, TOP_K),
                             f"engine search {q!r}")
                self.sample(f"engine_{kind}", dt)

    def _traced_build(self, spark, tr):
        from flink_bm25_spark.api import BM25Engine
        from flink_bm25_spark.operators.df_idf import document_frequencies
        from flink_bm25_spark.operators.pipeline import CorpusStats
        from flink_bm25_spark.operators.serving import bm25_index_save, bm25_index_save_forward
        from flink_bm25_spark.operators.sinks import tf_vectors, write_tf_parquet
        from flink_bm25_spark.operators.tf import doc_lengths, term_frequencies, topk_terms
        from flink_bm25_spark.operators.tokenize import filter_stopwords, tokenize

        with tr.span("api.fit"), tr.span("pipeline.fit"):
            with tr.span("sources.scan"):
                docs = tr.materialise(self._input(spark))
            with tr.span("tokenize"):
                toks = tr.materialise(filter_stopwords(tokenize(docs)))
            with tr.span("tf"):
                tf = tr.materialise(term_frequencies(toks))
            with tr.span("tf.dlen"):
                dlen = tr.materialise(doc_lengths(tf))
            with tr.span("df_idf"):
                dfs = tr.materialise(document_frequencies(tf))
            eng = BM25Engine(CorpusStats(docs, toks, tf, dlen, dfs))
        with tr.span("api.save"):
            eng.save(self.path("out", "stats"))
        with tr.span("tf.topk"):
            tr.materialise(topk_terms(tf, 30))
        with tr.span("sinks.tf_vectors"):
            write_tf_parquet(tf_vectors(eng.stats.tf, k=30), self.path("out", "vectors"))
        self._engine_searches(spark, eng, tr)
        with tr.span("api.index_create"):
            with tr.span("serving.save"):
                bm25_index_save(docs, self.path("out", "index"),
                                n_buckets=N_BUCKETS, hot_df_cap=self.hot_cap)
            with tr.span("serving.forward"):
                bm25_index_save_forward(docs, self.path("out", "index"), tf=tf)
        tr.release()
        spark.catalog.clearCache()

    def _check_build(self, spark):
        from flink_bm25_spark.operators.serving import bm25_topk_from_index
        from pyspark.sql import functions as F

        got = {r["word"]: int(r["df"]) for r in
               spark.read.parquet(self.path("out", "stats", "df")).collect()}
        self.verdict(got == dict(self.df), "document frequencies")
        vec = {int(r["doc_id"]): [(e["w"], int(e["c"])) for e in r["tf"]] for r in
               spark.read.parquet(self.path("out", "vectors"))
               .where(F.col("doc_id").isin(self.sample_ids)).collect()}
        self.verdict(vec == {i: oracle.top_terms(self.docs[i]) for i in self.sample_ids},
                     "top-30 term vectors")
        for terms in self.checks:
            rows = bm25_topk_from_index(spark, self.path("out", "index"), terms, k=TOP_K).collect()
            self.verdict(oracle.topk_matches(topk_rows(rows), self.bm, terms, TOP_K),
                         f"index search {terms}")

    def measure(self, spark, tr):
        """Curate every batch, then rebuild until ``seconds`` have passed
        since the first build (at least once: one build takes longer than
        the benchmark's ``run_seconds`` on 4 cores, so ``op_p50_ms`` is a
        single build until builds get faster)."""
        for i, b in enumerate(self.batches):
            if tr.enabled:
                with tr.op("curate"):
                    dt, _ = self.run_op(self._traced_curate, spark, tr, i)
                tr.release()
            else:
                dt, _ = self.run_op(self._curate, spark, i)
            if dt is not None:
                self.sample("curate", dt)
                self._check_curate(spark, i, b)
        if tr.enabled:
            with tr.op("build"):
                dt, _ = self.run_op(self._traced_build, spark, tr)
            # the untraced twin of the traced build's precompute spans
            # runs second, so no first-run compile cost lands on it
            twin, _ = self.run_op(self._precompute, spark)
            spark.catalog.clearCache()
            if twin is not None and dt is not None:
                self.untraced_twin_s += twin
                self.traced_twin_s += sum(
                    s.dur for s in tr.spans
                    if s.name in ("api.fit", "api.save", "tf.topk", "sinks.tf_vectors"))
        else:
            n, end = 0, time.perf_counter() + self.seconds
            while n < 1 or time.perf_counter() < end:
                n += 1
                t_pre, t_idx = self._build(spark)
                if None not in (t_pre, t_idx):
                    self.sample("precompute", t_pre)
                    self.sample("index", t_idx)
                    self.sample("build", t_pre + t_idx)
        self._check_build(spark)

    def e2e(self):
        s = self.samples
        b, pre, idx = (median(s.get(k, [])) for k in ("build", "precompute", "index"))
        cur = s.get("curate", [])
        offered = self.BATCH_SIZE * len(cur)
        n = len(self.docs)
        _, idx_bytes = du(self.path("out", "index"))
        report = {
            "build_docs_per_s": (n / pre if pre else 0.0, "docs/s"),
            "index_docs_per_s": (n / idx if idx else 0.0, "docs/s"),
            "index_bytes_per_input_byte": (idx_bytes / self.input_bytes, "ratio"),
            "builds": (len(s.get("build", [])), "count"),
            "curate_docs_per_s": (offered / sum(cur) if cur else 0.0, "docs/s"),
            "curate_batch_p50_ms": (1000.0 * median(cur), "ms"),
            "engine_search_p50_ms": (1000.0 * class_p50(s, "engine"), "ms"),
            "kept_frac": (sum(map(len, self.want)) / (self.BATCH_SIZE * self.BATCHES), "ratio"),
        }
        return 1000.0 * b, report["curate_docs_per_s"][0], report

    def layers(self, tr):
        tok = tr.named("tokenize")
        files, size = du(self.path("out", "index"))
        _, sink_bytes = du(self.path("out", "vectors"))
        cands = sum(s.counts.get("rows", 0) for s in tr.named("dedup.candidates"))
        ver = sum(s.counts.get("rows", 0) for s in tr.named("dedup.pairs"))
        build_scans = [s.self_s for s in tr.named("sources.scan")
                       if tr.spans[s.parent].name == "pipeline.fit"]
        return {
            "sources.scan_s": median(build_scans),
            "tokenize.s": _self(tr, "tokenize"),
            "tokenize.tokens_per_s": median([s.counts["rows"] / s.self_s for s in tok if s.self_s]),
            "tf.s": _self(tr, "tf"),
            "tf.rows": _rows(tr, "tf"),
            "tf.topk_s": _self(tr, "tf.topk"),
            "df_idf.s": _self(tr, "df_idf"),
            "df_idf.words": _rows(tr, "df_idf"),
            "pipeline.fit_s": _dur(tr, "pipeline.fit"),
            "sinks.tf_vectors_s": _self(tr, "sinks.tf_vectors"),
            "sinks.bytes": float(sink_bytes),
            "serving.save_s": _self(tr, "serving.save"),
            "serving.forward_s": _self(tr, "serving.forward"),
            "serving.files": float(files),
            "serving.bytes": float(size),
            "api.curate_batch_s": _dur(tr, "api.curate_batch"),
            "dedup.signatures_s": _self(tr, "dedup.signatures"),
            "dedup.pairs_s": _self(tr, "dedup.pairs"),
            "dedup.candidate_pairs": float(cands),
            "dedup.verified_pairs": float(ver),
            "dedup.verify_yield": ver / cands if cands else 0.0,
            "text_analysis.quality_s": _self(tr, "text_analysis.quality"),
            "decontam.overlap_s": _self(tr, "decontam.overlap"),
            "dedup.recall_vs_ledger": median(self.samples.get("recall", [])),
            "bm25.rank_ms": 1000.0 * _self(tr, "bm25.rank"),
            "spark.jobs_per_rank": _tree(tr, "api.engine_search"),
        }


# ---------------------------------------------------------------------------


class ServeIngest(Workload):
    """One closed-loop client against a warm index — single searches
    (half Zipf-head, half tail terms) and an eval set through
    ``search_batch`` — then rounds of add / upsert / delete with a cold
    search after each round, one compaction and a checked search after
    it."""

    name = "serve_ingest"
    why = ("online: warm searches (Zipf head and tail terms) and batch eval, then"
           " writes beside cold reads and a compaction; the build path is idle")
    N_DOCS = 3000
    SHARES = (("search", 0.75), ("batch", 0.25))
    # untraced warm searches at least, so search_p90_ms always has ten
    # samples beyond it (it is the p50 at this count, p90 from 100 on)
    MIN_WARM_SEARCHES = 20
    # searches on the base index before any set-up: the JIT keeps
    # speeding searches up for their first dozen or so (0.95 -> 0.5 s on
    # 4 cores), which would otherwise land in the measured ones
    WARMUP_SEARCHES = 6
    ROUNDS = 2
    N_ADD, N_UPSERT, N_DELETE = 150, 60, 40
    COLD_PER_ROUND = 1
    AFTER = 1  # searches after compaction

    def generate(self):
        docs = gen.corpus(self.rng, self.vocab, self.N_DOCS)
        self.corpus_dir = gen.write_documents(docs, self.path("in", "corpus"), self.cpus)
        self.bm = oracle.Bm25(docs)
        self.queries = gen.query_mix(self.rng, docs, 400)
        self.eval_set = [(i, list(oracle.query_terms(q)))
                         for i, (_, q) in enumerate(gen.query_mix(self.rng, docs, 16))]
        self.stream = gen.write_stream(self.rng, self.vocab, docs, self.ROUNDS, self.N_ADD,
                                       self.N_UPSERT, self.N_DELETE)
        state = dict(docs)
        self.states = []
        for r in self.stream:
            state.update(r.adds)
            state.update(r.upserts)
            for d in r.deletes:
                del state[d]
            self.states.append(oracle.Bm25(state))
        self.final_bytes = sum(len(t.encode()) for t in state.values())
        self.hot_cap = max(32, self.N_DOCS // 16)

    def prepare(self, spark):
        from flink_bm25_spark.api import Bm25Index
        from flink_bm25_spark.operators.serving import bm25_index_save

        bm25_index_save(self.load(spark, self.corpus_dir), self.path("base_index"),
                        n_buckets=N_BUCKETS, hot_df_cap=self.hot_cap, forward=True)
        idx = Bm25Index(spark, self.path("base_index")).warm()
        for _, q in self.queries[-self.WARMUP_SEARCHES:]:
            idx.search(q, TOP_K).collect()
        idx.cool()

    def reset(self):
        shutil.rmtree(self.path("index"), ignore_errors=True)
        shutil.copytree(self.path("base_index"), self.path("index"))

    def setup(self, spark, tr):
        from flink_bm25_spark.api import Bm25Index

        with tr.span("api.warm"):
            self.idx = Bm25Index(spark, self.path("index")).warm()

    # -- reads -----------------------------------------------------------------

    def _search(self, spark, tr, q, cold):
        if not tr.enabled:
            return self.idx.search(q, TOP_K).collect()
        if cold:
            from flink_bm25_spark.operators.serving import bm25_topk_from_index

            with tr.span("api.search_cold"), tr.span("serving.topk_cold"):
                return bm25_topk_from_index(spark, self.path("index"), oracle.query_terms(q),
                                            k=TOP_K).collect()
        kind = "head" if q in self._heads else "tail"
        with tr.span(f"api.search_warm_{kind}"):
            return self.idx.search(q, TOP_K).collect()

    def _batch(self, spark, tr):
        if not tr.enabled:
            return self.idx.search_batch(self.eval_set, TOP_K).collect()
        from flink_bm25_spark.operators.serving import bm25_batch_topk_from_index

        with tr.span("api.search_batch"), tr.span("serving.batch_topk"):
            return bm25_batch_topk_from_index(spark, self.path("index"), self.eval_set,
                                              k=TOP_K).collect()

    def _read(self, spark, tr, phase, bm, q=None):
        """One read op, checked; in the traced pass it first runs once
        untraced (its twin) so the difference is tracing overhead."""
        fn = self._batch if phase == "batch" else self._search
        args = (spark, tr) if phase == "batch" else (spark, tr, q, phase != "search")
        if tr.enabled:
            # alternate which runs first, so warm-up favours neither
            self._flip = not self._flip
            if self._flip:
                twin, _ = self.run_op(fn, spark, NULL, *args[2:])
            with tr.op(phase):
                dt, rows = self.run_op(fn, *args)
            if not self._flip:
                twin, _ = self.run_op(fn, spark, NULL, *args[2:])
            if twin is not None and dt is not None:
                self.untraced_twin_s += twin
                self.traced_twin_s += dt
        else:
            dt, rows = self.run_op(fn, *args)
        if dt is None:
            return
        if phase == "batch":
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(int(r["query_id"]), []).append(r)
            self.verdict(all(oracle.topk_matches(topk_rows(by_q.get(i, [])), bm, tuple(t), TOP_K)
                             for i, t in self.eval_set), "search_batch")
        else:
            self.verdict(oracle.topk_matches(topk_rows(rows), bm, oracle.query_terms(q), TOP_K),
                         f"{phase} {q!r}")
            phase = f"{phase}_{'head' if q in self._heads else 'tail'}"
        self.sample(phase, dt)

    # -- writes ----------------------------------------------------------------

    def _write(self, spark, tr, kind, payload):
        from flink_bm25_spark.operators import serving

        if not tr.enabled:
            getattr(self.idx, kind)(payload)
            return
        with tr.span(f"api.{kind}"):
            self.idx.cool()
            if kind == "delete":
                with tr.span("serving.delete"):
                    serving.bm25_index_delete(spark, self.path("index"), payload)
                return
            from flink_bm25_spark.operators.tokenize import tokenize

            # the write's own tokenize, materialised here and handed in
            with tr.span("tokenize"):
                toks = tr.materialise(tokenize(payload))
            fn = serving.bm25_index_add if kind == "add" else serving.bm25_index_upsert
            with tr.span(f"serving.{kind}"):
                fn(payload, self.path("index"), tokenizer=lambda _docs: toks)
        tr.release()

    def _compact(self, spark, tr):
        if not tr.enabled:
            self.idx.compact()
            return
        from flink_bm25_spark.operators.serving import bm25_index_compact

        with tr.span("api.compact"), tr.span("serving.compact"):
            self.idx.cool()
            bm25_index_compact(spark, self.path("index"))

    def _gauges(self, spark, tr):
        from flink_bm25_spark.operators.serving import bm25_index_stats

        with tr.span("serving.stats"):
            rows = bm25_index_stats(spark, self.path("index")).collect()
        self.gauges.append((sum(r["n_files"] for r in rows),
                            max((r["n_tombstoned"] for r in rows), default=0)))

    def measure(self, spark, tr):
        self._heads = {q for k, q in self.queries if k == "head"}
        self._flip = False
        budget = self.seconds / 2 if tr.enabled else self.seconds
        # one checked, unsampled search first: it compiles the warm plan
        dt, rows = self.run_op(self._search, spark, NULL, self.queries[-1][1], False)
        if dt is not None:
            self.verdict(oracle.topk_matches(topk_rows(rows), self.bm,
                                             oracle.query_terms(self.queries[-1][1]), TOP_K),
                         "first search")
        qi = 0
        # the traced pass needs one head and one tail search only
        least = {"search": 2 if tr.enabled else self.MIN_WARM_SEARCHES, "batch": 1}
        for phase, share in self.SHARES:
            end = time.perf_counter() + share * budget
            n = 0
            while n < least[phase] or time.perf_counter() < end:
                n += 1
                if phase == "batch":
                    self._read(spark, tr, phase, self.bm)
                else:
                    self._read(spark, tr, phase, self.bm, self.queries[qi % len(self.queries)][1])
                    qi += 1
        written, write_s = 0, 0.0
        self.gauges = []
        frame = lambda docs: spark.createDataFrame(sorted(docs.items()),  # noqa: E731
                                                   "doc_id long, text string")
        for r, rnd in enumerate(self.stream):
            for kind, payload, n in (("add", frame(rnd.adds), len(rnd.adds)),
                                     ("upsert", frame(rnd.upserts), len(rnd.upserts)),
                                     ("delete", rnd.deletes, len(rnd.deletes))):
                with tr.op(kind):
                    dt, _ = self.run_op(self._write, spark, tr, kind, payload)
                if dt is not None:
                    self.sample(kind, dt)
                    written += n
                    write_s += dt
            if tr.enabled:
                self._gauges(spark, tr)
            for _ in range(self.COLD_PER_ROUND):
                self._read(spark, tr, "cold", self.states[r], self.queries[qi % len(self.queries)][1])
                qi += 1
        with tr.op("compact"):
            dt, _ = self.run_op(self._compact, spark, tr)
        if dt is not None:
            self.sample("compact", dt)
            write_s += dt
        for j in range(self.AFTER):
            self._read(spark, tr, "compacted", self.states[-1], self.queries[j][1])
        self.written, self.write_s = written, write_s

    def e2e(self):
        s = self.samples
        search = s.get("search_head", []) + s.get("search_tail", [])
        p, tail_v = tail(search)
        batch = median(s.get("batch", []))
        wps = self.written / self.write_s if self.write_s else 0.0
        _, idx_bytes = du(self.path("index"))
        report = {
            "search_p50_ms": (1000.0 * class_p50(s, "search"), "ms"),
            "search_p90_ms": (1000.0 * tail_v, "ms"),
            "search_p90_ms_is_percentile": (p, "%"),
            "searches": (len(search), "count"),
            "search_head_p50_ms": (1000.0 * median(s.get("search_head", [])), "ms"),
            "search_tail_p50_ms": (1000.0 * median(s.get("search_tail", [])), "ms"),
            "batch_search_qps": (len(self.eval_set) / batch if batch else 0.0, "queries/s"),
            "write_docs_per_s": (wps, "docs/s"),
            "search_under_writes_p50_ms": (1000.0 * class_p50(s, "cold"), "ms"),
            "search_after_compact_p50_ms": (1000.0 * class_p50(s, "compacted"), "ms"),
            "compact_s": (median(s.get("compact", [])), "s"),
            "index_bytes_per_input_byte": (idx_bytes / self.final_bytes, "ratio"),
        }
        return report["search_p50_ms"][0], wps, report

    def layers(self, tr):
        from flink_bm25_spark.operators.serving import query_buckets

        warm = [s for s in tr.spans if s.name.startswith("api.search_warm")]
        per = lambda what: median([sum(getattr(c, what) for c in _subtree(tr, s))  # noqa: E731
                                   for s in warm])
        return {
            "api.warm_s": _dur(tr, "api.warm"),
            "api.search_warm_hot_ms": 1000.0 * _dur(tr, "api.search_warm_head"),
            "api.search_warm_tail_ms": 1000.0 * _dur(tr, "api.search_warm_tail"),
            "serving.buckets_per_query": median(
                [len(query_buckets(oracle.query_terms(q), N_BUCKETS)) for _, q in self.queries]),
            "spark.jobs_per_search": per("jobs"),
            "spark.stages_per_search": per("stages"),
            "spark.tasks_per_search": per("tasks"),
            "serving.batch_topk_s": _self(tr, "serving.batch_topk"),
            "spark.jobs_per_batch_search": _tree(tr, "api.search_batch"),
            "tokenize.s": _self(tr, "tokenize"),
            "serving.add_s": _self(tr, "serving.add"),
            "serving.upsert_s": _self(tr, "serving.upsert"),
            "serving.delete_s": _self(tr, "serving.delete"),
            "serving.compact_s": _self(tr, "serving.compact"),
            "spark.jobs_per_add": _tree(tr, "api.add"),
            "spark.jobs_per_upsert": _tree(tr, "api.upsert"),
            "spark.jobs_per_delete": _tree(tr, "api.delete"),
            "spark.jobs_per_compact": _tree(tr, "api.compact"),
            "serving.topk_cold_ms": 1000.0 * _self(tr, "serving.topk_cold"),
            "serving.files_max": float(max((g[0] for g in self.gauges), default=0)),
            "serving.tombstones_max": float(max((g[1] for g in self.gauges), default=0)),
            "spark.jobs_per_cold_search": _tree(tr, "api.search_cold"),
        }


WORKLOADS = {w.name: w for w in (CorpusBuild, ServeIngest)}
