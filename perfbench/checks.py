"""Correctness checks on the program's outputs.

Each check returns the set of failed document ids: a document fails if
it is missing, duplicated or wrong. The checks run outside the timed
region.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from unittest import mock

from pyspark.sql import functions as F

from cadastral_map_ocr_system_spark import oracle
from cadastral_map_ocr_system_spark.sources.checkpoint import bucket_of

_DENSE = "size(spans) = 0 OR transform(spans, s -> s.order) = sequence(0, size(spans) - 1)"


def _ids(df) -> set:
    return {r[0] for r in df.collect()}


def _as_doc(row) -> dict:
    return {"doc_id": row["doc_id"], "spans": [s.asDict() for s in row["spans"]]}


def extraction_failures(spark, docs_path: str, out_df, seed: int, n_sample: int) -> set:
    """extract() output `out_df` (doc_id, spans) against its input
    (synth documents): every doc_id exactly once, `order` dense from 0,
    and a seeded sample of documents equal to `oracle.extract_corpus`.
    The sample always holds one of the input's 8 largest documents, so
    the skew path is checked too."""
    docs = spark.read.parquet(docs_path)
    per_id = (
        docs.select("doc_id", F.lit(1).alias("n_in"))
        .join(out_df.select("doc_id", F.expr(_DENSE).alias("dense")), "doc_id", "full_outer")
        .groupBy("doc_id")
        .agg(F.max("n_in").alias("n_in"), F.count("dense").alias("n_out"),
             F.min(F.col("dense").cast("int")).alias("dense"))
    )
    # missing, duplicated, not in the input, or `order` not dense
    failed = _ids(per_id.filter(
        F.col("n_in").isNull() | (F.col("n_out") != 1) | (F.col("dense") == 0)
    ).select("doc_id"))

    # a seeded sample, plus one of the largest documents
    sizes = docs.select("doc_id", F.size("spans").alias("n"))
    biggest = sizes.orderBy(F.desc("n"), "doc_id").limit(8).collect()
    rng = random.Random(f"check-sample:{seed}")
    ids = sorted(_ids(docs.select("doc_id")))
    sample = set(rng.sample(ids, min(n_sample, len(ids))))
    sample.add(rng.choice(biggest)["doc_id"])

    in_docs = docs.filter(F.col("doc_id").isin(sorted(sample))).collect()
    golden = oracle.extract_corpus([_as_doc(r) for r in in_docs])
    got: dict = {}
    for row in out_df.filter(F.col("doc_id").isin(sorted(sample))).collect():
        got.setdefault(row["doc_id"], []).append(
            [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]]
        )
    failed |= {d for d, seq in golden.items() if got.get(d) != [seq]}
    return failed


def lineage_failures(spark, docs_path: str, checkpoint_path: str, run_id: str,
                     n_buckets: int) -> tuple[set, int]:
    """The checkpoint table of a finished run against its input: every
    bucket that holds documents is committed exactly once, with the
    bucket's true document count, so the n_docs sum equals N. Returns
    (ids of the documents in failing buckets, commit groups)."""
    ck = spark.read.parquet(checkpoint_path).filter(F.col("run_id") == run_id)
    docs = spark.read.parquet(docs_path).withColumn(
        "bucket", bucket_of(F.col("doc_id"), n_buckets)
    )
    truth = {r["bucket"]: r["count"] for r in docs.groupBy("bucket").count().collect()}
    commits: dict = {}
    for r in ck.select("partition_id", "n_docs").collect():
        commits.setdefault(r["partition_id"], []).append(r["n_docs"])
    bad = {b for b in truth if commits.get(b) != [truth[b]]}
    bad |= set(commits) - set(truth)
    failed = _ids(docs.filter(F.col("bucket").isin(sorted(bad))).select("doc_id"))
    # one lineage append per commit group; current_timestamp() is fixed
    # per query, so distinct commit times count the appends
    groups = ck.select("committed_at").distinct().count()
    return failed, groups


def _registry_sql(name: str) -> str:
    # plans.queries purges stale per-process scratch dirs under
    # /tmp/spark_graft_oracle when imported; hide that directory so the
    # benchmark touches nothing outside its checkout
    real_isdir = os.path.isdir
    with mock.patch(
        "os.path.isdir",
        lambda p: False if str(p).startswith("/tmp/spark_graft_oracle") else real_isdir(p),
    ):
        from cadastral_map_ocr_system_spark.plans.queries import REGISTRY
    return REGISTRY[name][1]


def dedup_reference(docs_file: str, cache_dir: str) -> dict:
    """doc_id -> cluster from the registry's DuckDB `dedup_clusters`
    SQL over the same parquet file. It costs ~3 ms/doc, so results are
    cached under the file's content hash: a cached answer can only be
    reused for byte-identical input."""
    import duckdb

    with open(docs_file, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:24]
    cache = os.path.join(cache_dir, f"dedup_clusters-{digest}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return {int(k): v for k, v in json.load(f).items()}
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_file}')"
        )
        ref = dict(con.execute(_registry_sql("dedup_clusters")).fetchall())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = cache + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, cache)
    return ref


def cluster_failures(rows: list, reference: dict) -> set:
    """dedup_clusters output rows (doc_id, cluster) against the
    reference map: each doc_id once, with the reference's cluster."""
    got: dict = {}
    for doc_id, cluster in rows:
        got.setdefault(doc_id, []).append(cluster)
    failed = {d for d, c in reference.items() if got.get(d) != [c]}
    return failed | (set(got) - set(reference))
