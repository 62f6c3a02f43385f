"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs one warm-up
operation whose output is checked (and run.py more, up to WARM_OPS,
cycling over the corpora), then repeats one operation in a closed
loop (one Spark job at a time) while the clock runs. The traced
run instead splits the workload into its layers.

  extract_mixed  synth docs (all 9 payload families, exactly 1% skew
                 docs) -> scan -> plans.pipeline.extract -> noop sink.
                 Its traced run also measures the checkpoint layer:
                 the text-only view of the corpus through
                 sources.checkpoint.run_extraction, crashed by
                 fail_after_commits and resumed.
  dedup_corpus   tools/gen_scaled_docs documents (planted exact and
                 near duplicates) -> operators.components.dedup_clusters
                 -> noop sink.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from cadastral_map_ocr_system_spark import synth
from cadastral_map_ocr_system_spark.functions.text import strip_boilerplate
from cadastral_map_ocr_system_spark.operators import components
from cadastral_map_ocr_system_spark.operators.corpus_dedup import (
    exact_dedup_survivor_docs,
    lsh_jaccard_pairs,
)
from cadastral_map_ocr_system_spark.operators.mediapath import span_detections
from cadastral_map_ocr_system_spark.operators.rezip import rezip
from cadastral_map_ocr_system_spark.plans.pipeline import explode_spans, extract
from cadastral_map_ocr_system_spark.sources.checkpoint import (
    SimulatedFailure,
    bucket_of,
    read_extracted,
    run_extraction,
)

from . import checks, kernel
from .sparkstats import JobGroups
from .trace import duration

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Each run generates this many corpora from sub-seeds of its seed and
# cycles its timed operations over them, so one corpus's cost (the
# rounds its duplicate graph needs to converge, the mix of payload
# families) moves a run's median less. The checked warm-up and the
# traced run use corpus 0. Two keep a run within its time budget.
CORPORA = 2
# set-up operations, the checked one included, cycling over the
# corpora: the JVM keeps compiling for several operations. Even after
# them an operation's CPU still falls by ~10% (extract_mixed) and ~25%
# (dedup_corpus) over the next four.
WARM_OPS = 2 * CORPORA
# traced runs repeat each prefix plan at least this many rounds, and at
# most MAX_ROUNDS while time is left
MIN_ROUNDS, MAX_ROUNDS = 2, 4


class Run:
    """What one benchmark run shares across its workload's steps.
    `tracer` is set for traced runs; the workloads' layers() record
    their spans in it."""

    def __init__(self, spark, seed: int, work: str, out_dir: str, seconds: float,
                 tracer=None) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.out_dir = out_dir
        self.seconds = seconds
        self.tracer = tracer
        self.groups = JobGroups(spark.sparkContext)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def sub_seed(seed: int, j: int) -> int:
    return seed * CORPORA + j


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _prefix_rounds(run: Run, prefixes: list) -> tuple[dict, dict]:
    """Time every prefix plan -> noop, round-robin, so host drift hits
    all prefixes alike. Returns per-prefix wall times and job stats."""
    times = {name: [] for name, _ in prefixes}
    stats = {name: [] for name, _ in prefixes}
    t_end = time.perf_counter() + run.seconds
    rounds = 0
    while rounds < MIN_ROUNDS or (rounds < MAX_ROUNDS and time.perf_counter() < t_end):
        for name, build in prefixes:
            with run.groups.group(name) as gid:
                with run.tracer.span("prefix", layer=name, round=rounds) as sp:
                    noop(build())
            times[name].append(duration(sp))
            stats[name].append(run.groups.stats(gid))
        rounds += 1
    return times, stats


def _chain(times: dict) -> dict:
    """Layer time = median of its prefix minus median of the previous
    prefix; the layers sum to the full plan's median."""
    out, prev = {}, 0.0
    for name, ts in times.items():
        med = statistics.median(ts)
        out[name] = med - prev
        prev = med
    return out


# ------------------------------------------------------------ extraction
SKEW_FRAC, MAX_SPANS = 0.01, 64


def corpus_ids(seed: int, n_docs: int) -> list[int]:
    """Ids of one extract_mixed corpus: the first ids of the seed's
    synth documents, taking exactly round(n_docs * SKEW_FRAC) skew
    documents (the ones with MAX_SPANS spans) and filling the rest with
    ordinary ones. synth draws skew per document: over 40 seeds the
    first 2,000 ids held 12 to 38 skew documents, and since a skew
    document costs ~30 ordinary ones in the media kernel, the kernel's
    cost per document ranged from 5.2 to 8.1 ms. With the count fixed
    it stays within a few percent."""
    n_skew = round(n_docs * SKEW_FRAC)
    ids, skew, i = [], 0, 0
    while len(ids) < n_docs:
        is_skew = len(synth.gen_doc(seed, i, SKEW_FRAC, MAX_SPANS)["spans"]) == MAX_SPANS
        if is_skew and skew < n_skew:
            ids.append(i)
            skew += 1
        elif not is_skew and len(ids) - skew < n_docs - n_skew:
            ids.append(i)
        i += 1
    return ids


class ExtractMixed:
    name = "extract_mixed"
    # ~2.5 s an operation here, so a run's median is over 4 to 6
    n_docs = 1000
    n_sample = 20  # documents checked against the oracle per output
    # checkpoint layer: two commit groups of 8 buckets; the crash comes
    # after the first, the resume commits the second
    n_buckets = 16
    fail_after_commits = 1
    # declared per-layer metrics of layers this workload does not run
    not_applicable = ["corpus_dedup.fingerprint_s", "corpus_dedup.lsh_pairs_s",
                      "corpus_dedup.edges", "components.cc_s", "components.jobs"]

    def __init__(self, run: Run) -> None:
        self.run = run
        self.paths = [run.path(f"docs{j}") for j in range(CORPORA)]
        self.docs_path = self.paths[0]
        self.text_path = run.path("text_docs")

    def docs(self, path: str | None = None):
        return self.run.spark.read.parquet(path or self.docs_path)

    def generate(self) -> None:
        for j, path in enumerate(self.paths):
            seed = sub_seed(self.run.seed, j)
            ids = corpus_ids(seed, self.n_docs)
            batch = synth.docs_batch(seed, ids, SKEW_FRAC, MAX_SPANS)
            self.run.spark.createDataFrame(pa.Table.from_batches([batch])).write.parquet(path)

    def warmup(self) -> None:
        extract(self.docs()).write.parquet(self.run.path("warm_out"))

    def check_warmup(self) -> set:
        out = self.run.spark.read.parquet(self.run.path("warm_out"))
        return checks.extraction_failures(
            self.run.spark, self.docs_path, out, self.run.seed, self.n_sample
        )

    def op(self, k: int = 0) -> None:
        noop(extract(self.docs(self.paths[k % CORPORA])))

    def layers(self) -> tuple[dict, int, set]:
        """Per-layer metrics, plus the documents the checkpoint layer
        attempted and the ids that failed its checks."""
        m = self._pipeline_layers()
        m.update(self._kernel_layers())
        checkpoint, failed = self._checkpoint_layers()
        m.update(checkpoint)
        return m, self.n_docs, failed

    # prefixes of plans.pipeline.extract, each ending one layer later;
    # full_plan() rebuilds extract() from them, and the benchmark's tests
    # check that its optimized plan is extract()'s
    def _spread(self):
        spark = self.run.spark
        conf_n = spark.conf.get("spark_graft.extract.partitions", None)
        n = int(conf_n) if conf_n else spark.sparkContext.defaultParallelism
        spans = explode_spans(self.docs(), keep_empty_docs=True)
        return spans.repartition(n, "doc_id", "offset")

    def _detections(self):
        return span_detections(self._spread())

    def _cleaned(self):
        rows = self._detections()
        is_text = F.col("kind") == "text"
        return rows.withColumn(
            "text", F.when(is_text, strip_boilerplate(F.col("text"))).otherwise(F.col("text"))
        ).withColumn(
            "kind",
            F.when(
                is_text & (F.col("text").isNull() | (F.length("text") == 0)),
                F.lit(None).cast("string"),
            ).otherwise(F.col("kind")),
        )

    def full_plan(self):
        return rezip(self._cleaned())

    def _pipeline_layers(self) -> dict:
        n = self.n_docs
        prefixes = [
            ("sources.scan_s", self.docs),
            ("pipeline.explode_spread_s", self._spread),
            ("mediapath.stage_s", self._detections),
            ("text.strip_s", self._cleaned),
            ("rezip.s", self.full_plan),
        ]
        times, stats = _prefix_rounds(self.run, prefixes)
        m = _chain(times)
        full_s = statistics.median(times["rezip.s"])
        core_ms = statistics.median([s["run_ms"] for s in stats["rezip.s"]])
        # the span stage is the last stage of the detections prefix
        # (shuffle read -> mapInArrow -> sink)
        self.stage_ms = statistics.median(
            [s["stage_run_ms"][max(s["stage_run_ms"])] for s in stats["mediapath.stage_s"]]
        )
        m["pipeline.spans"] = self.docs().select(F.sum(F.size("spans"))).first()[0]
        m["pipeline.full_s"] = full_s
        m["pipeline.core_ms_per_doc"] = core_ms / n
        m["pipeline.wall_ms_per_doc"] = full_s * 1e3 / n
        m["pipeline.parallelism"] = core_ms / (full_s * 1e3)
        m["mediapath.stage_core_ms_per_doc"] = self.stage_ms / n
        m["mediapath.records_out"] = (
            self._detections().filter(F.col("kind") == "media").count()
        )
        return m

    def _kernel_layers(self) -> dict:
        """The driver-side kernel pass and what it explains: kernel
        core-ms per document predicted from the per-family costs, and
        the share of the Spark span stage those calls do not explain."""
        spans = self.docs().select(F.explode("spans").alias("s"))
        refs = [r[0] for r in spans.filter(F.col("s.kind") == "media")
                .select("s.media_ref").collect()]
        counts: dict = {}
        for ref in refs:
            f = kernel.family_of(ref)
            counts[f] = counts.get(f, 0) + 1
        with self.run.tracer.span("mediapath.kernel_pass"):
            k = kernel.kernel_pass(self.run.tracer, kernel.sample_refs(refs, self.run.seed))
        m = {"mediapath.payloads": len(refs)}
        kernel_ms = 0.0
        for fam, v in k["families"].items():
            m[f"mediapath.ms_per_payload.{fam}"] = v["ms"]
            kernel_ms += counts[fam] * v["ms"]
        for phase in [*kernel.PHASES, "self"]:
            m[f"mediapath.{phase}_ms"] = sum(
                counts[f] * v["phases"][phase] for f, v in k["families"].items()
            ) / len(refs)
        m["mediapath.kept_frac"] = k["records"] / k["candidates"]
        m["mediapath.kernel_ms_per_doc"] = kernel_ms / self.n_docs
        m["mediapath.boundary_frac"] = 1 - kernel_ms / self.stage_ms
        return m

    def _checkpoint_layers(self) -> tuple[dict, set]:
        """The text-only view of the corpus (media spans dropped, so
        media-only documents become empty ones) through one resumable
        run: crash after the first commit group, then resume. The same
        documents through extract() -> partitioned parquet give the
        baseline the checkpoint bookkeeping adds to."""
        run, spark = self.run, self.run.spark
        text_only = F.filter("spans", lambda s: s["kind"] == "text")
        self.docs().withColumn("spans", text_only).write.parquet(self.text_path)

        with run.tracer.span("extract_partitioned_write") as plain:
            extract(self.docs(self.text_path)).withColumn(
                "bucket", bucket_of(F.col("doc_id"), self.n_buckets)
            ).write.partitionBy("bucket").parquet(run.path("plain_out"))

        out, ck, run_id = run.path("resumable_out"), run.path("checkpoint"), "bench"
        with run.groups.group("sources.checkpoint") as gid:
            with run.tracer.span("resumable_run") as whole:
                try:
                    run_extraction(spark, self.docs(self.text_path), out, ck, run_id,
                                   n_buckets=self.n_buckets,
                                   fail_after_commits=self.fail_after_commits)
                except SimulatedFailure:
                    pass
                else:
                    raise RuntimeError("run_extraction did not stop at fail_after_commits")
                with run.tracer.span("resume") as resume:
                    run_extraction(spark, self.docs(self.text_path), out, ck, run_id,
                                   n_buckets=self.n_buckets)
        failed = checks.extraction_failures(
            spark, self.text_path, read_extracted(spark, out), run.seed, n_sample=60
        )
        bad, groups = checks.lineage_failures(spark, self.text_path, ck, run_id,
                                              self.n_buckets)
        return {
            "sources.checkpoint.jobs": run.groups.stats(gid)["jobs"],
            "sources.checkpoint.commit_groups": groups,
            "sources.checkpoint.resume_s": duration(resume),
            "sources.checkpoint.self_s": duration(whole) - duration(plain),
        }, failed | bad


# ----------------------------------------------------------------- dedup
# The vocabulary gen_scaled_docs._vocab() builds from the registry's
# base documents table (sf0.1, outside this repository): each token
# repeated round(1000 * share) times, in sorted order. Fixed here so the
# benchmark generates the same corpus as the unpatched tool.
VOCAB_COUNTS = {
    **dict.fromkeys("column data join merge small spark stream table value "
                    "vector window".split(), 34),
    **dict.fromkeys("a agg batch big customer fast filter group hash key line "
                    "order part query row scan slow sort the".split(), 33),
    "dup": 1,
}
VOCAB = [tok for tok in sorted(VOCAB_COUNTS) for _ in range(VOCAB_COUNTS[tok])]


def _gen_scaled_docs():
    spec = importlib.util.spec_from_file_location(
        "gen_scaled_docs", os.path.join(ROOT, "tools", "gen_scaled_docs.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class DedupCorpus:
    name = "dedup_corpus"
    # the first n_docs documents of gen_documents(factor=1) (5,000).
    # Each operation runs 19 or 24 Spark jobs and generates more classes
    # than Spark's codegen cache holds (100), so it compiles ~54 of them
    # anew (spark.codegen_compiles) and the JIT keeps compiling: at 1,000
    # documents that fixed cost was most of an operation's CPU and swung
    # a run's cpu_ms_per_doc by 40%. At 2,000 it is about a third; the
    # DuckDB reference costs ~3 ms per document
    n_docs = 2000
    # declared per-layer metrics of layers this workload does not run
    not_applicable = [
        *(f"sources.checkpoint.{m}" for m in ("jobs", "commit_groups", "self_s", "resume_s")),
        *(f"pipeline.{m}" for m in ("spans", "explode_spread_s", "full_s", "core_ms_per_doc",
                                    "wall_ms_per_doc", "parallelism")),
        *(f"mediapath.{m}" for m in ("stage_s", "stage_core_ms_per_doc", "kernel_ms_per_doc",
                                     "boundary_frac", "payloads", "records_out", "kept_frac",
                                     "fetch_ms", "decode_ms", "normalize_ms", "dedup_ms",
                                     "self_ms")),
        *(f"mediapath.ms_per_payload.{f}" for f in kernel.FAMILIES),
        "text.strip_s", "rezip.s",
    ]

    def __init__(self, run: Run) -> None:
        self.run = run
        self.paths = [run.path(f"documents{j}.parquet") for j in range(CORPORA)]
        self.docs_file = self.paths[0]

    def docs(self, path: str | None = None):
        return self.run.spark.read.parquet(path or self.docs_file)

    def generate(self) -> None:
        gen = _gen_scaled_docs()
        for j, path in enumerate(self.paths):
            full = self.run.path(f"gen{j}")
            os.makedirs(full)
            with mock.patch.object(gen, "_vocab", lambda: VOCAB):
                gen.gen_documents(1, full, seed=sub_seed(self.run.seed, j))
            table = pq.read_table(os.path.join(full, "documents.parquet"))
            pq.write_table(table.slice(0, self.n_docs), path)

    def warmup(self) -> None:
        # dedup_clusters runs no Python; start a Python worker anyway so
        # peak_worker_rss_mb reads an idle worker's footprint
        self.run.spark.sparkContext.parallelize([0], 1).map(lambda x: x).collect()
        self.warm_rows = [tuple(r) for r in components.dedup_clusters(self.docs()).collect()]

    def check_warmup(self) -> set:
        ref = checks.dedup_reference(self.docs_file, os.path.join(self.run.out_dir, "oracle"))
        return checks.cluster_failures(self.warm_rows, ref)

    def op(self, k: int = 0) -> None:
        noop(components.dedup_clusters(self.docs(self.paths[k % CORPORA])))

    def layers(self) -> tuple[dict, int, set]:
        run = self.run
        cc_groups: list[str] = []
        real_cc = components.connected_components

        def traced_cc(*args, **kwargs):
            with run.groups.group("components") as gid:
                cc_groups.append(gid)
                with run.tracer.span("components.connected_components"):
                    return real_cc(*args, **kwargs)

        def edges():
            return lsh_jaccard_pairs(exact_dedup_survivor_docs(self.docs()),
                                     pre_exact_dedup=False)

        prefixes = [
            ("sources.scan_s", self.docs),
            ("corpus_dedup.fingerprint_s", lambda: exact_dedup_survivor_docs(self.docs())),
            ("corpus_dedup.lsh_pairs_s", edges),
            ("components.cc_s", lambda: components.dedup_clusters(self.docs())),
        ]
        with mock.patch.object(components, "connected_components", traced_cc):
            times, _ = _prefix_rounds(run, prefixes)
        m = _chain(times)
        m["corpus_dedup.edges"] = edges().count()
        m["components.jobs"] = run.groups.stats(cc_groups[-1])["jobs"]
        return m, 0, set()


WORKLOADS = {w.name: w for w in (ExtractMixed, DedupCorpus)}
