"""The benchmark workloads.

A workload owns its seeded inputs, its reference, a set-up (session,
package ship, dictionary build, warm-up pass), one timed pass, the check
of that pass's output and the traced per-layer measurements. The program
is only ever driven through its public functions.

Per-layer wall times come from materializing (noop sink) each successive
stage prefix under its own job description; a layer's time is its prefix
minus the prefix before it. Python time, Arrow bytes and shuffle bytes
come from the same prefixes' event-log operator metrics.
"""

from __future__ import annotations

import json
import os
import pickle
import random
import shutil
import statistics
import sys
import time
from contextlib import contextmanager
from time import perf_counter, process_time

import eventlog
import gen
import oracles
from procfs import tree_cpu_s

MB = float(1 << 20)
CPU_SAMPLE = 200          # documents timed single-threaded per layer
TRACE_REPS = 2            # materializations per stage prefix


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = perf_counter()
    fn()
    return perf_counter() - t


def per_cpu_s(fn, items) -> float:
    """Items handled per CPU second by ``fn``, single-threaded here."""
    t = process_time()
    for x in items:
        fn(x)
    return len(items) / max(process_time() - t, 1e-9)


def du_mb(*paths: str) -> float:
    return sum(os.path.getsize(os.path.join(root, f))
               for p in paths for root, _, files in os.walk(p)
               for f in files) / MB


class Tracer:
    """Spans kept in memory (name, start, end, parent, run id) and written
    out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": self._open[-1] if self._open else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def python_op(a: eventlog.Action, where: str) -> dict[str, float]:
    """Python-worker metrics of the MapInPandas operators whose plan text
    contains ``where``."""
    return {
        "rows_out": a.op_metric("MapInPandas", "number of output rows", where),
        "python_s": a.op_metric("MapInPandas", "time to run Python workers",
                                where) / 1e3,
        "arrow_in_mb": a.op_metric("MapInPandas",
                                   "data sent to Python workers", where) / MB,
        "arrow_out_mb": a.op_metric("MapInPandas",
                                    "data returned from Python workers",
                                    where) / MB,
    }


def spark_metrics(a: eventlog.Action, passes: int) -> dict[str, float]:
    return {
        "spark.executor_cpu_s": a.executor_cpu_s / passes,
        "spark.gc_s": a.gc_s / passes,
        "spark.shuffle_fetch_wait_s": a.fetch_wait_s / passes,
        "spark.spill_mb": a.spill_bytes / MB / passes,
        "spark.tasks": a.tasks / passes,
        "spark.jobs": a.jobs / passes,
        "spark.task_skew": a.task_skew(),
    }


class Workload:
    name = ""
    corpus = ""
    n_docs = 0
    input_parts = 8

    def __init__(self, engine, root: str, run_dir: str, seed: int):
        self.engine = engine
        self.run_dir = run_dir
        self.seed = seed
        self.spark = None
        self.sink = os.path.join(run_dir, "sink")
        self.tmp = os.path.join(run_dir, "tmp")
        self.input = os.path.join(
            root, "inputs", f"{self.corpus}-seed{seed}-n{self.n_docs}")
        self.build_s = 0.0

    # -- inputs and reference (outside every timed region) ----------------
    def make_input(self) -> None:
        if os.path.isdir(self.input):
            return
        partial = f"{self.input}.partial-{os.getpid()}"
        gen.write_corpus(self.corpus, self.seed, self.n_docs, partial,
                         self.input_parts)
        os.replace(partial, self.input)

    def cached(self, kind: str, compute) -> list:
        """``compute()`` (JSON-able rows), kept beside the seed's input so
        that a reference is computed once per seed."""
        path = f"{self.input}.{kind}.json"
        if not os.path.exists(path):
            with open(f"{path}.partial-{os.getpid()}", "w") as f:
                json.dump(compute(), f)
            os.replace(f"{path}.partial-{os.getpid()}", path)
        with open(path) as f:
            return json.load(f)

    def prepare(self) -> None:
        """Reference that needs no Spark session."""

    def reference(self) -> None:
        """Reference that needs the Spark session."""

    # -- set-up and the timed pass -----------------------------------------
    def build(self) -> None:
        """Build the dictionaries the pass uses."""

    def setup(self, slots: int = 4, event_log: bool = False) -> float:
        """Session start, package ship, dictionary build and a warm-up
        pass."""
        t = perf_counter()
        self.spark = self.engine.start(slots, event_log)
        b = perf_counter()
        self.build()
        self.build_s = perf_counter() - b
        self.run_pass()
        return perf_counter() - t

    def run_pass(self) -> None:
        """One pass over the input, committed to the sink."""
        raise NotImplementedError

    def after_pass(self) -> None:
        """Untimed work that belongs to the workload (e.g. the resume)."""

    def check(self) -> str | None:
        """None when the last pass's output is correct, else why not."""
        raise NotImplementedError

    def cleanup(self) -> None:
        """Drop what the last pass left on disk."""

    def checked_pass(self) -> tuple[float, float, str | None]:
        """One timed pass over the whole input, then its check: (wall s,
        process-tree CPU s, None or why the output is wrong)."""
        cpu0, t0 = tree_cpu_s(), perf_counter()
        self.run_pass()
        wall, cpu = perf_counter() - t0, tree_cpu_s() - cpu0
        self.after_pass()
        return wall, cpu, self.check()

    # -- traced run ----------------------------------------------------------
    def sample_ids(self, k: int) -> list[int]:
        return sorted(random.Random(self.seed).sample(range(self.n_docs), k))

    def prefix(self, tr: Tracer, name: str, build_df) -> float:
        """Median wall of materializing ``build_df()`` to a noop sink; the
        last materialization is tagged ``name`` in the event log."""
        walls = []
        with tr.span(name):
            for rep in range(TRACE_REPS, 0, -1):
                self.spark.sparkContext.setJobDescription(
                    name if rep == 1 else f"{name}.rep{rep}")
                walls.append(timed(lambda: noop(build_df())))
        return statistics.median(walls)

    def trace(self, tr: Tracer) -> tuple[dict, int, int]:
        """Traced session: warm-up, tagged passes, stage prefixes, then
        the event log. Returns (metrics, passes attempted, failed)."""
        m: dict[str, float] = {}
        with tr.span("setup"):
            self.setup(event_log=True)
        sc = self.spark.sparkContext
        sc.setJobDescription("reference")
        self.reference()
        walls, self.trace_failed = [], 0
        for _ in range(2):
            sc.setJobDescription("pass")
            with tr.span("pass"):
                walls.append(timed(self.run_pass))
            sc.setJobDescription("check")
            self.after_pass()
            bad = self.check()
            if bad:
                self.trace_failed += 1
                print(f"traced pass failed: {bad}", file=sys.stderr)
        self.pass_wall = statistics.median(walls)
        self.traced_passes = len(walls)
        m.update(self.trace_layers(tr))
        self.cleanup()
        self.engine.stop()            # flushes and closes the event log
        actions = eventlog.parse(eventlog.event_files(
            os.path.join(self.run_dir, "eventlog")))
        m.update(spark_metrics(actions["pass"], len(walls)))
        m.update(self.event_metrics(actions))
        m.update(self.cpu_metrics())
        return m, len(walls), self.trace_failed

    def trace_layers(self, tr: Tracer) -> dict[str, float]:
        return {}

    def event_metrics(self, actions: dict) -> dict[str, float]:
        return {}

    def cpu_metrics(self) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------------------


class KgDataeng(Workload):
    """Bag-of-words documents, interleaved and matched with the
    data-engineering dictionary on the narrow path (no context)."""
    name = "kg_dataeng"
    corpus = "bow"
    n_docs = 2000
    COLS = ["subj", "pred", "obj", "doc_id"]
    REF_SAMPLE = 400          # documents the DuckDB reference covers

    def prepare(self) -> None:
        ids = self.sample_ids(self.REF_SAMPLE)
        self.sample = {str(i) for i in ids}
        self.want = {tuple(r) for r in self.cached(
            "kg_triples",
            lambda: sorted(oracles.kg_triples(self.input, self.tmp, ids)))}

    def build(self) -> None:
        from nobletools_spark.terminology.dataeng import (DATAENG_CONCEPTS,
                                                          DATAENG_ISA_EDGES)
        from nobletools_spark.terminology.storage import build_dictionary
        self.dico = build_dictionary(DATAENG_CONCEPTS,
                                     isa_edges=DATAENG_ISA_EDGES)

    def documents(self):
        from nobletools_spark.pipeline.documents import \
            interleave_flat_documents
        return interleave_flat_documents(self.spark.read.parquet(self.input))

    def run_pass(self) -> None:
        from nobletools_spark.pipeline.stages import run_pipeline
        out = run_pipeline(self.spark, self.documents(), self.dico,
                           "best-match")
        out["triples"].write.mode("overwrite").parquet(self.sink)

    def check(self) -> str | None:
        self.got = oracles.read_rows(self.sink, self.COLS)
        sampled = [r for r in self.got
                   if r[1] == "isa" or r[3] in self.sample]
        return oracles.diff_rows(sampled, self.want, "sampled triples")

    def trace(self, tr: Tracer) -> tuple[dict, int, int]:
        """Adds the untraced passes at 4 and at 2 slots, on the same input
        splits, after the traced session has warmed the JVM."""
        m, attempted, failed = super().trace(tr)
        with tr.span("untraced-4"):
            t4 = self.untraced_wall(4)
        m["trace.overhead_s"] = self.pass_wall - t4
        with tr.span("untraced-2"):
            t2 = self.untraced_wall(2)
        m["parallel.scaling_eff"] = t2 / (2 * t4)
        return m, attempted, failed

    def untraced_wall(self, slots: int) -> float:
        self.setup(slots)
        return statistics.median(timed(self.run_pass) for _ in range(2))

    def trace_layers(self, tr: Tracer) -> dict[str, float]:
        from nobletools_spark.config import for_search_method
        from nobletools_spark.pipeline.stages import (detect_mentions,
                                                      materialize_triples,
                                                      split_sentences)
        bc = self.spark.sparkContext.broadcast(self.dico)
        cfg = for_search_method("best-match")
        docs = self.documents
        sents = lambda: split_sentences(docs())
        mens = lambda: detect_mentions(sents(), bc, cfg)
        tris = lambda: materialize_triples(mens(), self.spark, self.dico)
        self.walls = {name: self.prefix(tr, name, fn) for name, fn in (
            ("documents", docs), ("sentence", sents), ("matcher", mens),
            ("materialize", tris))}
        return {"terminology.dictionary_build_s": self.build_s,
                "terminology.broadcast_mb":
                len(pickle.dumps(self.dico, pickle.HIGHEST_PROTOCOL)) / MB}

    def event_metrics(self, actions: dict) -> dict[str, float]:
        w = self.walls
        sent = python_op(actions["sentence"], "spans#")
        match = python_op(actions["matcher"], "cui#")
        n_isa = sum(p == "isa" for _, p, _, _ in self.got)
        triples = len(self.got)
        m = {"documents.wall_s": w["documents"],
             "documents.rows_out": actions["documents"].op_metric(
                 "Scan parquet", "number of output rows"),
             "sentence.wall_s": w["sentence"] - w["documents"],
             "matcher.wall_s": w["matcher"] - w["sentence"],
             "materialize.wall_s": w["materialize"] - w["matcher"],
             "materialize.rows_in": match["rows_out"],
             "materialize.rows_out": triples,
             "materialize.shuffle_write_mb": (
                 actions["materialize"].shuffle_write_bytes
                 - actions["matcher"].shuffle_write_bytes) / MB,
             "matcher.useful_ratio": ((triples - n_isa) / match["rows_out"]
                                      if match["rows_out"] else 0.0)}
        m.update({f"sentence.{k}": v for k, v in sent.items()})
        m.update({f"matcher.{k}": v for k, v in match.items()})
        return m

    def cpu_metrics(self) -> dict[str, float]:
        from nobletools_spark.config import for_search_method
        from nobletools_spark.matcher.core import process_sentence
        from nobletools_spark.sentence.splitter import process_document
        texts = gen.bow_rows(self.seed, 0, self.n_docs)["text"]
        sample = [texts[i] for i in self.sample_ids(CPU_SAMPLE)]
        sentences = [r.text for t in sample for r in process_document(t)[0]]
        cfg = for_search_method("best-match")
        return {"sentence.docs_per_cpu_s": per_cpu_s(process_document,
                                                     sample),
                "matcher.sents_per_cpu_s": per_cpu_s(
                    lambda s: process_sentence(s, self.dico, cfg),
                    sentences)}


class KgClinicalResume(Workload):
    """Clinical interleaved notes through the checkpointed cluster-entry
    pipeline (ConText, salt, snapshot-table commit), then a resume after
    the triples stage is lost.

    The pass runs without ``canonicalize``: the canonical stage is a fixed
    ~3 s of small Spark jobs per pass and per set-up, which the run-time
    budget cannot carry. The traced run times the graph and terminology
    layers by calling ``build_terminology`` and ``canonical_map`` directly
    and checks the map against a Python union-find."""
    name = "kg_clinical_resume"
    corpus = "clinical"
    n_docs = 300
    SALT = 8
    REF_SAMPLE = 50           # documents the one-partition reference runs
    UPSTREAM = ("sentences", "mentions")

    def __init__(self, *args):
        super().__init__(*args)
        self.k = 0
        self.resume_walls: list[float] = []

    def build(self) -> None:
        from nobletools_spark.context.lexicon import (LEXICON_CONCEPTS,
                                                      LEXICON_ISA_EDGES,
                                                      context_config)
        from nobletools_spark.terminology.fixture import (FIXTURE_CONCEPTS,
                                                          FIXTURE_ISA_EDGES)
        from nobletools_spark.terminology.storage import build_dictionary
        self.dico = build_dictionary(FIXTURE_CONCEPTS,
                                     isa_edges=FIXTURE_ISA_EDGES)
        self.ctx = build_dictionary(LEXICON_CONCEPTS, context_config(),
                                    isa_edges=LEXICON_ISA_EDGES)

    def documents(self):
        return self.spark.read.parquet(self.input)

    def reference(self) -> None:
        ids = [f"note-{i:08d}" for i in self.sample_ids(self.REF_SAMPLE)]
        self.sample = set(ids)
        self.want = oracles.clinical_triples(self.spark, self.documents(), ids,
                                             self.dico, self.ctx)

    def _run(self):
        from nobletools_spark.pipeline.checkpoint import \
            run_checkpointed_pipeline
        return run_checkpointed_pipeline(
            self.spark, self.documents(), self.dico, self.root,
            "best-match", context_dico=self.ctx, salt_buckets=self.SALT,
            table_root=self.table)

    def run_pass(self) -> None:
        self.cleanup()
        self.k += 1
        self.root = os.path.join(self.run_dir, f"ckpt-{self.k}")
        self.table = os.path.join(self.run_dir, f"table-{self.k}")
        self.fresh = self._run()

    def after_pass(self) -> None:
        """Lose the triples stage, as if killed during materialize, and
        run again."""
        self.written_mb = du_mb(self.root, self.table)
        os.remove(os.path.join(self.root, "triples", "_manifest.json"))
        t = perf_counter()
        self.resumed = self._run()
        self.resume_walls.append(perf_counter() - t)

    def check(self) -> str | None:
        from nobletools_spark.pipeline.tables import SnapshotTable
        stale = [s for s in self.UPSTREAM if not self.resumed[s].resumed]
        if stale or self.resumed["triples"].resumed:
            return f"resume recomputed {stale} / reused triples"
        committed = [tuple(r) for r in
                     SnapshotTable(self.spark, self.table).read().collect()]
        self.got = committed
        again = {tuple(r) for r in self.resumed["triples"].df.collect()}
        bad = oracles.diff_rows(committed, again, "resumed vs fresh")
        if bad:
            return bad
        sampled = [r for r in committed
                   if r[1] == "isa" or r[3] in self.sample]
        return oracles.diff_rows(sampled, self.want, "sampled triples")

    def cleanup(self) -> None:
        if self.k:
            shutil.rmtree(self.root, ignore_errors=True)
            shutil.rmtree(self.table, ignore_errors=True)

    def trace_layers(self, tr: Tracer) -> dict[str, float]:
        from nobletools_spark.config import for_search_method
        from nobletools_spark.graph.canonicalize import canonical_map
        from nobletools_spark.pipeline.stages import (annotate_documents,
                                                      materialize_triples,
                                                      salt_documents,
                                                      split_sentences)
        from nobletools_spark.terminology.build import build_terminology
        sp, sc = self.spark, self.spark.sparkContext
        bc, cbc = sc.broadcast(self.dico), sc.broadcast(self.ctx)
        cfg = for_search_method("best-match")
        docs = lambda: salt_documents(self.documents(), self.SALT)
        sents = lambda: split_sentences(docs())
        ctx = lambda: annotate_documents(sents(), bc, cbc, cfg)
        mat = lambda: materialize_triples(ctx(), sp, self.dico)

        def tables():
            return build_terminology(sp, list(self.dico.concepts.values()),
                                     self.dico.build_config)

        def canon():
            t = tables()
            return canonical_map(t["term_index"], t["code_xref"])

        self.walls = {name: self.prefix(tr, name, fn) for name, fn in (
            ("documents", docs), ("sentence", sents), ("context", ctx),
            ("materialize", mat), ("tables", lambda: tables()["term_index"]),
            ("canonical", canon))}
        w = self.walls
        sc.setJobDescription("graph.check")
        canon_map = {r.cui: r.canonical_cui for r in canon().collect()}
        if canon_map != oracles.canonical_map(self.dico):
            self.trace_failed += 1
            print("canonical map differs from the union-find reference",
                  file=sys.stderr)
        skews = [max(c) / statistics.median(c) for c in (
            [x["rows_out"] for x in r.lineage] for r in self.fresh.values())
            if c and statistics.median(c) > 0]
        return {
            "terminology.dictionary_build_s": self.build_s,
            "terminology.broadcast_mb": (
                len(pickle.dumps(self.dico, pickle.HIGHEST_PROTOCOL))
                + len(pickle.dumps(self.ctx, pickle.HIGHEST_PROTOCOL))) / MB,
            "terminology.tables_build_s": w["tables"],
            "graph.canonical_s": w["canonical"] - w["tables"],
            "graph.canonical_rows": len(canon_map),
            "checkpoint.overhead_s": self.pass_wall - w["materialize"],
            "checkpoint.written_mb": self.written_mb,
            "checkpoint.stages_recomputed": sum(
                not r.resumed for r in self.resumed.values()),
            "checkpoint.max_skew_ratio": max(skews, default=0.0),
            "checkpoint.resume_s": statistics.median(self.resume_walls),
        }

    def event_metrics(self, actions: dict) -> dict[str, float]:
        w = self.walls
        sent = python_op(actions["sentence"], "spans#")
        ctx = python_op(actions["context"], "modifiers#")
        shuffle = {k: actions[k].shuffle_write_bytes / MB
                   for k in ("sentence", "context", "materialize")}
        m = {"documents.wall_s": w["documents"],
             "documents.rows_out": actions["documents"].op_metric(
                 "Scan parquet", "number of output rows"),
             "sentence.wall_s": w["sentence"] - w["documents"],
             "context.wall_s": w["context"] - w["sentence"],
             "context.rows_out": ctx["rows_out"],
             "context.python_s": ctx["python_s"],
             "context.shuffle_write_mb": shuffle["context"]
             - shuffle["sentence"],
             "materialize.wall_s": w["materialize"] - w["context"],
             "materialize.rows_in": ctx["rows_out"],
             "materialize.rows_out": len(self.got),
             "materialize.shuffle_write_mb": shuffle["materialize"]
             - shuffle["context"]}
        m.update({f"sentence.{k}": v for k, v in sent.items()})
        return m

    def cpu_metrics(self) -> dict[str, float]:
        from nobletools_spark.config import for_search_method
        from nobletools_spark.context.acronyms import AcronymState
        from nobletools_spark.context.context import ConTextEngine
        from nobletools_spark.matcher.core import process_sentence
        from nobletools_spark.sentence.splitter import process_document
        cfg = for_search_method("best-match")
        docs = [[s["text"] for s in gen.clinical_doc(self.seed, i)[1]
                 if s["kind"] == "text"] for i in self.sample_ids(CPU_SAMPLE)]
        split = lambda spans: [process_document(t) for t in spans]
        doc_sents = [[r.text for t in spans for r in process_document(t)[0]]
                     for spans in docs]
        found = [[(s, process_sentence(s, self.dico, cfg)) for s in sents]
                 for sents in doc_sents]
        engine = ConTextEngine(self.ctx)

        def context(doc):
            state = AcronymState(self.dico)
            for text, mentions in doc:
                engine.process_with_globals(text,
                                            state.process(text, mentions))

        sents_per_doc = sum(len(d) for d in found) / len(found)
        return {"sentence.docs_per_cpu_s": per_cpu_s(split, docs),
                "context.sents_per_cpu_s": per_cpu_s(context, found)
                * sents_per_doc}


class DedupNeardup(Workload):
    """MinHash-LSH near-duplicate pairs at Jaccard >= 0.8 over
    bag-of-words documents with planted near-duplicates."""
    name = "dedup_neardup"
    corpus = "bow"
    n_docs = 2000
    THRESHOLD = 0.8

    def prepare(self) -> None:
        self.want = {(a, b): j for a, b, j in self.cached(
            "neardup_pairs", lambda: sorted(
                [a, b, j] for (a, b), j in
                oracles.neardup_pairs(self.input, self.tmp).items()))}

    def run_pass(self) -> None:
        from nobletools_spark.textdata.dedup import (cache_scope,
                                                     minhash_dup_pairs)
        with cache_scope():
            pairs = minhash_dup_pairs(self.spark.read.parquet(self.input),
                                      threshold=self.THRESHOLD)
            pairs.write.mode("overwrite").parquet(self.sink)

    def check(self) -> str | None:
        rows = oracles.read_rows(self.sink, ["a", "b", "jaccard"])
        self.got = {(a, b): j for a, b, j in rows}
        if len(self.got) != len(rows):
            return f"{len(rows) - len(self.got)} duplicate pairs"
        return oracles.diff_pairs(self.got, self.want)

    def trace_layers(self, tr: Tracer) -> dict[str, float]:
        from pyspark.sql import functions as F

        from nobletools_spark.textdata.dedup import (band_keys,
                                                     candidate_components,
                                                     component_pairs,
                                                     lsh_candidate_pairs,
                                                     minhash_signatures,
                                                     shingle_array)
        docs = lambda: self.spark.read.parquet(self.input)
        sig = lambda: minhash_signatures(shingle_array(docs()))
        cand = lambda: component_pairs(candidate_components(
            lsh_candidate_pairs(sig())))
        t_sig = self.prefix(tr, "dedup.signatures", sig)
        t_cand = self.prefix(tr, "dedup.candidates", cand)
        self.spark.sparkContext.setJobDescription("dedup.counts")
        n_cand = cand().count()
        max_bucket = (band_keys(sig()).groupBy("band", "h").count()
                      .agg(F.max("count")).first()[0])
        return {"dedup.signatures_s": t_sig,
                "dedup.candidates_s": t_cand - t_sig,
                "dedup.candidate_pairs": n_cand,
                "dedup.pairs_out": len(self.got),
                "dedup.useful_ratio": len(self.got) / n_cand,
                "dedup.max_bucket": max_bucket}

    def event_metrics(self, actions: dict) -> dict[str, float]:
        return {"dedup.shuffle_write_mb":
                actions["pass"].shuffle_write_bytes
                / self.traced_passes / MB}


WORKLOADS = {w.name: w for w in (KgDataeng, KgClinicalResume, DedupNeardup)}
