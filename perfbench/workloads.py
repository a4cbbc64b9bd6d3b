"""The benchmark's workloads: one job each, its output check, and its traced form.

A workload is made of parts. Each part drives the package through its
public functions; the one exception is the dedup layer chain, which
starts from the package's own persisted shingle table
(``operators.dedup._portable_shingle_table``). A job is one closed-loop
unit of work: each part's job in turn. ``check`` validates one job's
output against a model computed outside Spark; ``traced_job`` does the
same work with a span around each call into a package layer; and
``prefixes`` lists successive prefixes of a part's job, each
materialized through the noop sink, whose differences give each layer's
self time. ``isolated`` lists layers timed on their own, from inputs
prepared outside the span, so that the layer times can be summed and
compared with the whole traced job.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench.gen import jaccard, shingles

#: Planted near-duplicate pairs (exact Jaccard >= 0.8) that a dedup job
#: must report. MinHash-LSH with 16 bands x 4 rows finds a 0.8 pair with
#: probability 0.9998, so the floor only trips on a real recall loss.
RECALL_FLOOR = 0.98


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared plumbing; subclasses set ``name`` and ``size`` and
    implement ``job``, ``check``, ``traced_job`` and ``prefixes``."""

    name = ""
    #: the generator's size argument (see ``gen.GENERATORS``)
    size: object = None
    #: declared input size of one job, fixed for every seed (throughput
    #: and CPU are per declared MB, never per byte Spark reports reading)
    declared_mb = 0.0
    #: whether ``discard`` drops cached tables between jobs
    clear_cache = True
    #: whether the prefixes and isolated layers together cover the job,
    #: so that their sum is compared with it (``trace.layer_sum_ratio``)
    layer_sum = False

    def __init__(self, spark, inputs: str, scratch: str, seed: int) -> None:
        self.spark, self.inputs, self.scratch, self.seed = spark, inputs, scratch, seed
        #: per-layer counts the checks and traced jobs record
        self.counts: dict[str, float] = {}

    def discard(self, out) -> None:
        """Drop one job's outputs and cached tables before the next job."""
        if self.clear_cache:
            self.spark.catalog.clearCache()
        if isinstance(out, str) and out.startswith(self.scratch):
            shutil.rmtree(out, ignore_errors=True)

    def prefixes(self):
        return []

    def isolated(self):
        return []


# -- wordcount_text -----------------------------------------------------------


class WordcountText(Workload):
    """The reference program: text directory in, ``final_output`` tree out."""

    name = "wordcount_text"
    size = 8  # MB of text in 8 files
    declared_mb = 8.0
    layer_sum = True

    @property
    def corpus(self) -> str:
        return os.path.join(self.inputs, "corpus")

    def job(self, n: int) -> str:
        from mapreduce_4_spark.pipelines import reference_wordcount_pipeline

        out = os.path.join(self.scratch, f"wc_{n}")
        reference_wordcount_pipeline(self.spark, self.corpus, out)
        return out

    def traced_job(self, n: int, tracer) -> str:
        # reference_wordcount_pipeline's two calls, each under its own span
        from mapreduce_4_spark.pipelines import wordcount_from_text_dir
        from mapreduce_4_spark.sources.sinks import write_wordcount_reference_layout

        out = os.path.join(self.scratch, f"wc_{n}")
        with tracer.span("pipelines.wordcount_from_text_dir"):
            counts = wordcount_from_text_dir(self.spark, self.corpus)
            counts = counts.withColumnRenamed("file", "doc_id")
        with tracer.span("sinks.write_wordcount_reference_layout"):
            write_wordcount_reference_layout(counts, out)
        return out

    def check(self, out: str) -> None:
        with open(os.path.join(self.inputs, "expected.json")) as f:
            expected = json.load(f)
        got: dict[str, dict[str, int]] = {}
        files = 0
        size = 0
        for d in sorted(os.listdir(out)):
            if not d.startswith("doc_id="):
                continue
            counts = got.setdefault(d[len("doc_id="):], {})
            for part in sorted(os.listdir(os.path.join(out, d))):
                if part.startswith((".", "_")):
                    continue
                path = os.path.join(out, d, part)
                files += 1
                size += os.path.getsize(path)
                with open(path, encoding="utf-8") as f:
                    words = []
                    for line in f:
                        word, cnt = line.rstrip("\n")[1:-1].rsplit(",", 1)
                        counts[word] = counts.get(word, 0) + int(cnt)
                        words.append(word)
                if words != sorted(words):
                    raise AssertionError(f"{path}: lines not sorted by word")
        if got != expected:
            bad = sorted(k for k in expected.keys() | got.keys()
                         if expected.get(k) != got.get(k))
            raise AssertionError(f"word counts differ from the model for {bad}")
        self.counts.update({
            "functions.tokens": sum(sum(c.values()) for c in got.values()),
            "sinks.files_written": files,
            "sinks.output_mb": size / 1e6,
        })

    def prefixes(self):
        # scan, then the package's tokenizer over it (its tokens counted,
        # not shipped row by row to the sink), then the package's whole
        # count, which adds the per-file aggregate
        from pyspark.sql import functions as F

        from mapreduce_4_spark.functions.text import words
        from mapreduce_4_spark.pipelines import wordcount_from_text_dir

        def scan():
            return self.spark.read.text(self.corpus)

        def tokens():
            return scan().select(F.explode(words("value")).alias("w")).agg(F.count("w"))

        return [
            ("sources.scan_s", lambda: _noop(scan())),
            ("functions.text_s", lambda: _noop(tokens())),
            ("aggregate.self_s",
             lambda: _noop(wordcount_from_text_dir(self.spark, self.corpus))),
        ]

    def isolated(self):
        from mapreduce_4_spark.pipelines import wordcount_from_text_dir
        from mapreduce_4_spark.sources.sinks import write_wordcount_reference_layout

        def sink(span):
            # the sink alone: it writes counts computed and cached first
            counts = wordcount_from_text_dir(self.spark, self.corpus).withColumnRenamed(
                "file", "doc_id").persist()
            counts.count()
            out = os.path.join(self.scratch, "wc_sink")
            with span():
                write_wordcount_reference_layout(counts, out)
            self.discard(out)

        return [("sinks.write_s", sink)]


# -- dedup_minhash ------------------------------------------------------------


class DedupMinhash(Workload):
    """MinHash-LSH near-duplicate pairs over a documents table."""

    name = "dedup_minhash"
    size = 1000  # documents of 150 words, 10 % planted near-duplicates
    declared_mb = 1.32  # the text column's bytes at seed 0
    threshold = 0.8

    def __init__(self, *a) -> None:
        super().__init__(*a)
        import pyarrow.parquet as pq

        texts = pq.read_table(self.docs_path).column("text").to_pylist()
        self._shingles = [shingles(t) for t in texts]
        with open(os.path.join(self.inputs, "planted.json")) as f:
            self._planted = {tuple(p) for p in json.load(f)}

    @property
    def docs_path(self) -> str:
        return os.path.join(self.inputs, "docs.parquet")

    def _pairs(self):
        from mapreduce_4_spark.operators.dedup import minhash_near_duplicates

        docs = self.spark.read.parquet(self.docs_path)
        return minhash_near_duplicates(docs, threshold=self.threshold,
                                       hash_family="portable")

    def job(self, n: int) -> list:
        return self._pairs().collect()

    def traced_job(self, n: int, tracer) -> list:
        with tracer.span("dedup.minhash_near_duplicates"):
            df = self._pairs()
        with tracer.span("dedup.collect"):
            return df.collect()

    def check(self, pairs: list) -> None:
        seen = set()
        for a, b, sim in pairs:
            exact = jaccard(self._shingles[a], self._shingles[b])
            if not a < b or (a, b) in seen or exact < self.threshold or sim != exact:
                raise AssertionError(f"bad pair {(a, b, sim)}; exact Jaccard {exact}")
            seen.add((a, b))
        recall = len(seen & self._planted) / len(self._planted)
        if recall < RECALL_FLOOR:
            raise AssertionError(f"planted recall {recall:.4f} < {RECALL_FLOOR}")
        self.counts.update({"dedup.verified_pairs": len(seen),
                            "dedup.planted_recall": recall})

    def prefixes(self):
        # the package's dedup building blocks, composed as
        # minhash_near_duplicates composes them; the signature prefix
        # starts from the package's own persisted shingle table of the
        # portable family (the table the whole job builds)
        from pyspark.sql import functions as F

        from mapreduce_4_spark.functions.text import words
        from mapreduce_4_spark.operators import dedup

        def docs():
            return self.spark.read.parquet(self.docs_path)

        def spread():
            return docs().repartition(self.spark.sparkContext.defaultParallelism)

        def sigs():
            return dedup._portable_shingle_table(docs(), 3).select(
                "doc_id", dedup.minhash_signature_from_base(F.col("_base")).alias("signature"))

        def cands():
            return dedup.candidate_pairs(dedup.lsh_band_table(sigs()))

        def cleared(df):
            _noop(df)
            self.spark.catalog.clearCache()

        self.counts["functions.tokens"] = docs().select(
            F.sum(F.size(words("text")))).first()[0]
        self.counts["dedup.candidate_pairs"] = cands().count()
        self.spark.catalog.clearCache()
        return [
            ("sources.scan_s", lambda: _noop(docs())),
            ("functions.text_s", lambda: _noop(spread().select("doc_id", words("text")))),
            ("dedup.shingle_s", lambda: _noop(dedup.shingle_sets(spread()))),
            ("dedup.signature_s", lambda: cleared(sigs())),
            ("dedup.band_s", lambda: cleared(dedup.lsh_band_table(sigs()))),
            ("dedup.candidates_s", lambda: cleared(cands())),
            ("dedup.verify_s", lambda: cleared(self._pairs())),
        ]


# -- tpch_sf001 ---------------------------------------------------------------


class _Collected:
    """One query's collected result. ``tests.oracle.compare`` reads it as
    it reads a DataFrame, so the comparison runs after the timed pass."""

    def __init__(self, df) -> None:
        self.columns, self.schema = df.columns, df.schema
        self._rows = df.collect()

    def collect(self) -> list:
        return self._rows


class TpchSf001(Workload):
    """One job is one pass over ``TPCH_QUERIES``, TPC-H-shaped registry
    queries."""

    name = "tpch_sf001"
    size = 1.0  # the 0.01 scale factor's row counts
    declared_mb = 1.38  # the seven parquet files' bytes at seed 0
    #: derived_partsupp persists its table once per session by design;
    #: clearing the cache between passes would recompute it per query
    clear_cache = False

    def __init__(self, *a) -> None:
        super().__init__(*a)
        import random

        import mapreduce_4_spark.plans  # noqa: F401  (registers the queries)
        from mapreduce_4_spark.registry import REGISTRY
        from perfbench.run import TPCH_QUERIES

        self.specs = [REGISTRY[n] for n in TPCH_QUERIES]
        random.Random(self.seed).shuffle(self.specs)

    def job(self, n: int):
        """The first pass calls each builder and collects its query, for
        the check; later passes run the built queries again through the
        noop sink, so they time Spark's planning and execution, not the
        driver-side builder calls (``plans.build_s`` times those)."""
        if n == 0:
            self.frames = [(s, s.builder(self.spark, self.inputs)) for s in self.specs]
            return {s.name: _Collected(df) for s, df in self.frames}
        for _, df in self.frames:
            _noop(df)
        return None

    def traced_job(self, n: int, tracer):
        for s, df in self.frames:
            with tracer.span(f"plans.{s.name}"):
                _noop(df)

    def check(self, out) -> None:
        if out is None:
            return
        from tests.oracle import compare

        bad = []
        for s in self.specs:
            try:
                compare(out[s.name], s.oracle, self.inputs)
            except AssertionError as e:
                bad.append(f"{s.name}: {e}")
        if bad:
            raise AssertionError("queries differ from their DuckDB oracle:\n" + "\n".join(bad))

    def prefixes(self):
        from perfbench.gen import TPCH_TABLES
        from mapreduce_4_spark.sources import load_table

        return [("sources.scan_s", lambda: [
            _noop(load_table(self.spark, self.inputs, t)) for t in TPCH_TABLES])]

    def isolated(self):
        def build(span):
            with span():
                for s in self.specs:
                    s.builder(self.spark, self.inputs)

        return [("plans.build_s", build)]


# -- versioned_dml ------------------------------------------------------------


class VersionedDml(Workload):
    """An append chain with stats, then pruned reads, a full read, a
    metadata count, a pruned delete and a pruned merge."""

    name = "versioned_dml"
    size = 10000  # rows per append, 5 appends
    declared_mb = 0.72  # the five append batches plus the updates, at seed 0
    #: it caches nothing; clearing would drop the partsupp table that the
    #: TPC-H part beside it keeps for the session
    clear_cache = False

    def __init__(self, *a) -> None:
        super().__init__(*a)
        with open(os.path.join(self.inputs, "dml.json")) as f:
            self.dml = json.load(f)

    def _batch(self, i: int) -> str:
        return os.path.join(self.inputs, f"batch_{i:03d}.parquet")

    def _run(self, n: int, span) -> tuple:
        from mapreduce_4_spark.sources import versioned as V

        spark, table = self.spark, os.path.join(self.scratch, f"vt_{n}")
        for i in range(self.dml["appends"]):
            with span("versioned.append"):
                V.write_version(spark.read.parquet(self._batch(i)), table,
                                append=True, stats_for=["k"])
        scanned, pruned = [], []
        for lo, hi in self.dml["ranges"]:
            with span("versioned.read_pruned"):
                df = V.read_version_stats_pruned(spark, table, col="k",
                                                 lower=lo, upper=hi)
                pruned.append(df.toPandas())
            scanned.append({os.path.basename(os.path.dirname(p))
                            for p in df.inputFiles()})
        with span("versioned.read_full"):
            full = V.read_version(spark, table).toPandas()
        with span("versioned.count_meta"):
            count = V.count_version(None, table)
        lo, hi = self.dml["delete"]
        with span("versioned.delete"):
            _, deleted = V.delete_version_pruned(spark, table, where={"k": (lo, hi)},
                                                 detail=True)
        with span("versioned.merge"):
            _, merged = V.merge_version_pruned(
                spark, table, spark.read.parquet(os.path.join(self.inputs, "updates.parquet")),
                key="k", detail=True)
        self.counts["versioned.dirs_scanned_ratio"] = (
            sum(map(len, scanned)) / (len(scanned) * self.dml["appends"]))
        self.counts["versioned.dirs_rewritten"] = deleted["rewritten"] + merged["rewritten"]
        return table, count, full, pruned

    def job(self, n: int) -> tuple:
        from contextlib import nullcontext

        return self._run(n, lambda name: nullcontext())

    def traced_job(self, n: int, tracer) -> tuple:
        return self._run(n, tracer.span)

    def discard(self, out) -> None:
        super().discard(out[0] if out else None)

    def check(self, out: tuple) -> None:
        import pandas as pd

        from mapreduce_4_spark.sources import versioned as V

        table, count, full, pruned = out
        model = pd.concat([pd.read_parquet(self._batch(i))
                           for i in range(self.dml["appends"])])
        if count != len(model):
            raise AssertionError(f"count_version {count} != {len(model)} rows appended")

        def same(got, expect, what):
            got = got.sort_values("k").reset_index(drop=True)
            exp = expect.sort_values("k").reset_index(drop=True)[got.columns]
            if not got.equals(exp):
                raise AssertionError(f"{what} differs from the pandas model")

        same(full, model, "full read")
        for (lo, hi), got in zip(self.dml["ranges"], pruned):
            same(got, full[(full.k >= lo) & (full.k <= hi)], f"pruned read [{lo}, {hi}]")
        lo, hi = self.dml["delete"]
        model = model[(model.k < lo) | (model.k > hi)]
        updates = pd.read_parquet(os.path.join(self.inputs, "updates.parquet"))
        model = pd.concat([model[~model.k.isin(updates.k)], updates])
        same(V.read_version(self.spark, table).toPandas(), model,
             "table after delete and merge")


# -- workloads made of parts --------------------------------------------------


class Composite(Workload):
    """A job that runs each part's job in turn. Inputs sit in one
    subdirectory per part; a layer two parts share (``sources.scan_s``,
    ``functions.text_s``, ``functions.tokens``) reports their sum."""

    parts: tuple[type[Workload], ...] = ()

    def __init_subclass__(cls) -> None:
        super().__init_subclass__()
        cls.size = {p.name: p.size for p in cls.parts}
        cls.declared_mb = sum(p.declared_mb for p in cls.parts)
        cls.layer_sum = any(p.layer_sum for p in cls.parts)

    def __init__(self, spark, inputs: str, scratch: str, seed: int) -> None:
        self.spark, self.inputs, self.scratch, self.seed = spark, inputs, scratch, seed
        self.members = [p(spark, os.path.join(inputs, p.name), scratch, seed)
                        for p in self.parts]
        #: each member's wall time in every untraced job, for the stderr table
        self.part_walls: dict[str, list[float]] = {m.name: [] for m in self.members}

    @property
    def counts(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for m in self.members:
            for k, v in m.counts.items():
                out[k] = out.get(k, 0) + v
        return out

    def job(self, n: int) -> list:
        out = []
        for m in self.members:
            t = time.perf_counter()
            out.append(m.job(n))
            self.part_walls[m.name].append(time.perf_counter() - t)
        return out

    def traced_job(self, n: int, tracer) -> list:
        return [m.traced_job(n, tracer) for m in self.members]

    def check(self, out: list) -> None:
        for m, o in zip(self.members, out):
            m.check(o)

    def discard(self, out) -> None:
        for m, o in zip(self.members, out or [None] * len(self.members)):
            m.discard(o)

    def chains(self):
        """One prefix chain per member that has one."""
        return [c for c in (m.prefixes() for m in self.members) if c]

    def isolated(self):
        return [layer for m in self.members for layer in m.isolated()]


class Text(Composite):
    """The reference word count, then MinHash near-duplicates: the two
    text programs of the package."""

    name = "text"
    parts = (WordcountText, DedupMinhash)


class Tables(Composite):
    """A versioned-table DML round, then a pass of TPC-H-shaped queries:
    the table layers, with no text work."""

    name = "tables"
    parts = (VersionedDml, TpchSf001)


WORKLOADS = {w.name: w for w in (Text, Tables)}
