"""The benchmark's workloads: user pipelines over the package's public
functions.

Each workload has four parts:

* ``prepare``: generate the inputs and write them as files. Cheap, so
  set-up repeats it and reports its median.
* ``build``: the model or reference result the pipeline needs. It runs
  once, because it is the first Spark work of the process and pays
  the JVM's compile warm-up. ``warmup_runs`` runs of ``run`` follow
  it in set-up.
* ``run``: one closed-loop iteration, from reading the input to the
  checked result. It returns ``(recall, precision, ok)``.
* ``probe``: traced runs only. It isolates single layers by
  materialising their input first, for the per-layer metrics that the
  spans of ``run`` cannot separate (Spark runs a lazy pipeline as one
  action). It returns ``(metrics, ok)``, where ``ok`` is false if a
  probed layer's output failed its check.

Spans wrap each call into a layer and are named after its module.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import inputs
from sparklyclean_spark.cache import release_caches

SEMDEDUP_THRESHOLD = 0.92  # cosine


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _storage_mb(spark) -> float:
    """Block-manager storage in use now: persisted and checkpointed
    blocks the package still holds."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    return sum(execs.apply(i).memoryUsed() for i in range(execs.length())) / 2**20


class Workload:
    name = ""
    # the JIT keeps speeding runs up after the first one, so a median
    # over the window would depend on how many runs fit in it
    warmup_runs = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.storage_mb_peak = 0.0
        self.released: list[int] = []

    def build(self, tracer) -> None:
        pass

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def release(self) -> None:
        """End of an iteration: free what the package persisted, as a
        long-lived user driver does between batches."""
        self.storage_mb_peak = max(self.storage_mb_peak, _storage_mb(self.spark))
        self.released.append(release_caches())


class ErFebrl(Workload):
    """The paper's pipeline: Febrl CSV -> Dis-Dedup blocked pairs ->
    comparator features -> GBT duplicate classifier."""

    name = "er_febrl"
    # training already runs the pair pipeline: the second warm-up run
    # took as long as the first measured one
    warmup_runs = 1
    # sized by a sweep on 4 cores (README.md, "Sizing"): ~1,060 rows
    # and ~129k blocked pairs. Spark jobs cover half a run, which costs
    # 10% more than at 300 originals; at 1,000 it costs 55% more and
    # often only one run fits the window. The training table stays
    # small, since GBT training time is mostly per-tree job overhead.
    N_ORIGINALS = 600
    N_TRAIN = 300
    MAX_ITER = 20

    def prepare(self) -> None:
        self.csv, self.train_csv = self.path("people.csv"), self.path("train.csv")
        inputs.people_csv(self.csv, self.N_ORIGINALS, self.seed)
        inputs.people_csv(self.train_csv, self.N_TRAIN, self.seed + 1_000_003)
        self.truth = checks.febrl_truth(self.csv)
        self.out = self.path("scored")

    def build(self, tracer) -> None:
        from sparklyclean_spark.ml.dup_classifier import train_dup_classifier
        from sparklyclean_spark.operators.dedup.pipeline import generate_labeled_points
        from sparklyclean_spark.sources.csv import read_febrl

        t = time.perf_counter()
        with tracer.span("ml.dup_classifier.train"):
            labeled = generate_labeled_points(
                read_febrl(self.spark, self.train_csv), mode="sane"
            ).persist()
            try:
                self.model, _ = train_dup_classifier(labeled, max_iter=self.MAX_ITER)
            finally:
                labeled.unpersist()
        self.train_s = time.perf_counter() - t

    def run(self, tracer):
        from sparklyclean_spark.ml.dup_classifier import apply_dup_classifier
        from sparklyclean_spark.operators.dedup.pipeline import generate_labeled_points
        from sparklyclean_spark.sources.csv import read_febrl

        with tracer.span("sources"):
            people = read_febrl(self.spark, self.csv)
        # the Dis-Dedup stats job and planning run here, eagerly
        with tracer.span("operators.dedup.disdedup"):
            feats = generate_labeled_points(people, mode="sane", labeled=False)
        with tracer.span("ml.dup_classifier"):
            scored = apply_dup_classifier(self.model, feats)
            scored.write.mode("overwrite").parquet(self.out)
        self.release()
        return checks.febrl_scored(self.out, self.truth)

    def probe(self, tracer) -> dict:
        from sparklyclean_spark.ml.dup_classifier import apply_dup_classifier
        from sparklyclean_spark.operators.dedup.compare import with_features
        from sparklyclean_spark.operators.dedup.disdedup import candidate_pairs_disdedup
        from sparklyclean_spark.operators.dedup.pipeline import (
            FEBRL_RULES,
            FEBRL_SPEC,
            generate_labeled_points,
        )
        from sparklyclean_spark.sources.csv import read_febrl

        people = read_febrl(self.spark, self.csv)
        with tracer.span("sources.scan"):
            _, scan_s = _timed(lambda: _noop(people))
        people = people.persist()
        rows_in = people.count()
        payload = sorted({fc.col for fc in FEBRL_SPEC})
        with tracer.span("operators.dedup.disdedup.cells"):
            pairs = candidate_pairs_disdedup(
                people, FEBRL_RULES, "rec_id", payload_cols=payload, with_cell_stats=True
            ).persist()
            n_pairs = pairs.count()
            cells = [r["count"] for r in pairs.groupBy("rid").count().collect()]
            multi = (
                pairs.groupBy("bk", "bv").agg(F.countDistinct("cell").alias("c"))
                .where("c > 1").count()
            )
        with tracer.span("operators.dedup.compare"):
            _, compare_s = _timed(lambda: _noop(with_features(pairs, FEBRL_SPEC)))
        feats = generate_labeled_points(people, mode="sane", labeled=False).persist()
        n_scored = feats.count()
        with tracer.span("ml.dup_classifier.apply"):
            _, apply_s = _timed(lambda: _noop(apply_dup_classifier(self.model, feats)))
        for df in (people, pairs, feats):
            df.unpersist()
        release_caches()
        ok = n_pairs == n_scored == self.truth["n_pairs"]
        return {
            "sources.scan_s": scan_s,
            "sources.rows_in": rows_in,
            "disdedup.pairs": n_pairs,
            "disdedup.blocks_multi": multi,
            "disdedup.cell_pairs_max": max(cells),
            "disdedup.cell_skew": max(cells) / statistics.median(cells),
            "compare.s": compare_s,
            "compare.pairs_per_s": n_pairs / compare_s,
            "ml.train_s": self.train_s,
            "disdedup.plan_s": tracer.seconds("operators.dedup.disdedup"),
            "ml.apply_s": apply_s,
            "ml.pairs_scored": n_scored,
        }, ok


def _write_docs(path: str, rows) -> None:
    ids, texts = zip(*rows)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}), path
    )


class TextCuration(Workload):
    """LLM-corpus curation: normalise -> length gate -> exact dedup ->
    MinHash-LSH near-dup pairs -> connected components."""

    name = "text_curation"
    N_DOCS, N_EXACT, N_NEAR = 3000, 40, 120
    N_SHARD, N_SHARD_NEAR = 200, 20
    THRESHOLD = 0.3

    def prepare(self) -> None:
        self.rows, self.planted = inputs.documents(
            self.N_DOCS, self.N_EXACT, self.N_NEAR, self.seed
        )
        self.docs_path = self.path("documents.parquet")
        _write_docs(self.docs_path, self.rows)

    def run(self, tracer):
        from sparklyclean_spark.operators.curation import curate_corpus_lsh

        docs = self.spark.read.parquet(self.docs_path)
        with tracer.span("operators.curation"):
            out = curate_corpus_lsh(docs, threshold=self.THRESHOLD)
            rows = out.select("doc_id", "status", "comp").collect()
        self.release()
        return checks.curation(rows, self.rows, self.planted, self.THRESHOLD)

    def probe(self, tracer) -> dict:
        from sparklyclean_spark.operators.dedup.clusters import connected_components
        from sparklyclean_spark.operators.dedup.textdedup import (
            incremental_lsh_pairs,
            minhash_index,
            minhash_lsh_pairs,
        )
        from sparklyclean_spark.operators.text_analysis import normalize_text

        docs = self.spark.read.parquet(self.docs_path).persist()
        docs.count()
        with tracer.span("operators.text_analysis"):
            _, normalize_s = _timed(lambda: _noop(normalize_text(docs)))
        with tracer.span("operators.dedup.textdedup.sign"):
            (bands, sets), sign_s = _timed(lambda: minhash_index(docs))
        # the ingest path: store the index, probe a new shard against it,
        # then write the shard's own index rows
        index = self.path("index_bands"), self.path("index_sets")
        bands.write.mode("overwrite").parquet(index[0])
        sets.write.mode("overwrite").parquet(index[1])
        shard_rows, shard_planted = inputs.shard(
            self.rows, self.N_SHARD, self.N_SHARD_NEAR, self.seed
        )
        _write_docs(self.path("shard.parquet"), shard_rows)
        shard = self.spark.read.parquet(self.path("shard.parquet"))
        ib, iset = (self.spark.read.parquet(p) for p in index)
        with tracer.span("operators.dedup.textdedup.probe"):
            found, probe_s = _timed(
                lambda: incremental_lsh_pairs(shard, ib, iset, self.THRESHOLD).collect()
            )
        probe_recall, probe_ok = checks.ingest(
            found, shard_rows, self.rows, shard_planted, self.THRESHOLD
        )
        with tracer.span("operators.dedup.textdedup.index"):
            shard_bands, _ = minhash_index(shard)
            shard_bands.write.mode("overwrite").parquet(self.path("shard_bands"))
        index_rows = self.spark.read.parquet(self.path("shard_bands")).count()
        buckets = bands.groupBy("band", "bucket").count()
        bucket_max = buckets.agg(F.max("count")).first()[0]
        a = bands.select("band", "bucket", F.col("id").alias("id1"))
        b = bands.select("band", "bucket", F.col("id").alias("id2"))
        candidates = (
            a.join(b, ["band", "bucket"]).where("id1 < id2")
            .select("id1", "id2").distinct().count()
        )
        pairs = minhash_lsh_pairs(docs, self.THRESHOLD).select("id1", "id2").persist()
        verified = pairs.count()
        stats: dict = {}
        with tracer.span("operators.dedup.clusters"):
            _, cc_s = _timed(
                lambda: connected_components(
                    pairs, docs.select("doc_id"), id_col="doc_id", stats=stats
                ).count()
            )
        pairs.unpersist()
        docs.unpersist()
        release_caches()
        vector, vector_ok = _vector_probe(self.spark, self.work, self.seed, tracer)
        return {
            "text.normalize_s": normalize_s,
            "lsh.sign_s": sign_s,
            "lsh.candidates": candidates,
            "lsh.verified": verified,
            "lsh.yield": verified / candidates if candidates else 0.0,
            "lsh.bucket_max": bucket_max,
            "lsh.probe_s": probe_s,
            "lsh.probe_recall": probe_recall,
            "lsh.index_rows": index_rows,
            "cc.rounds": stats["n_rounds"],
            "cc.s": cc_s,
            "cc.s_per_round": cc_s / stats["n_rounds"],
            **vector,
        }, probe_ok and vector_ok


def _vector_probe(spark, work: str, seed: int, tracer):
    """The embedding tier, ``operators.similarity``: SemDeDup
    dispositions, then IVF-PQ top-5 with an exact re-rank for 100
    seeded queries, over 2,000 vectors plus 100 planted near copies.
    Returns ``(metrics, ok)``: SemDeDup is checked against the planted
    copies, the top-5 against an exact numpy top-5."""
    from sparklyclean_spark.operators.similarity.pq import ivf_pq_refine_topk
    from sparklyclean_spark.operators.similarity.semdedup import semdedup_dispositions

    n_vecs, n_near = 2000, 100
    ids, x = inputs.embeddings(n_vecs, 64, n_near, seed)
    qids = sorted(np.random.default_rng(seed).choice(len(ids), 100, replace=False).tolist())
    emb = pa.array(list(x), pa.list_(pa.float32()))
    paths = os.path.join(work, "embeddings.parquet"), os.path.join(work, "queries.parquet")
    pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb}), paths[0])
    pq.write_table(
        pa.table({"vec_id": pa.array(qids, pa.int64()), "embedding": emb.take(qids)}), paths[1]
    )
    corpus, queries = (spark.read.parquet(p) for p in paths)
    # twice, reporting the second: no workload warms these code paths
    for _ in range(2):
        with tracer.span("operators.similarity.semdedup"):
            dups, semdedup_s = _timed(
                lambda: semdedup_dispositions(corpus, threshold=SEMDEDUP_THRESHOLD)
                .where("is_dup").select("vec_id").collect()
            )
        with tracer.span("operators.similarity.ann"):
            top, ann_s = _timed(lambda: ivf_pq_refine_topk(corpus, queries, k=5).collect())
        release_caches()
    semdedup_recall, semdedup_ok = checks.semdedup(
        [r["vec_id"] for r in dups], x, range(n_vecs, n_vecs + n_near), SEMDEDUP_THRESHOLD
    )
    ann_recall, ann_ok = checks.topk_recall(top, x, qids, 5)
    return {
        "ann.s": ann_s,
        "ann.recall_at_5": ann_recall,
        "semdedup.s": semdedup_s,
        "semdedup.dups": len(dups),
        "semdedup.recall": semdedup_recall,
    }, semdedup_ok and ann_ok


WORKLOADS = {w.name: w for w in (ErFebrl, TextCuration)}
