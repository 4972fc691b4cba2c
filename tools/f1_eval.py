"""Cluster-pairwise-F1 sweep on the synthesized corpus (BENCH.md §6).

Scores the blocked candidate pairs ONCE with both the Soft TF-IDF and the
dual-pass Jaro-Winkler scorers, persists the scored edges, then evaluates
several threshold / hybrid edge rules through connected components +
cluster pairwise F1 — so the expensive scoring stage is shared across the
sweep.

    SCALING_ENTITIES=50000 python tools/f1_eval.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import rapidfuzz_spark.functions as RF


def main() -> None:
    n_entities = int(os.environ.get("SCALING_ENTITIES", "10000"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "64g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from rapidfuzz_spark.pipeline import cluster, ingest, metrics, scoring, synth
    from rapidfuzz_spark.textops import softtfidf as ST

    corpus = synth.synth_documents(spark, n_entities=n_entities, seed=42)
    truth, _ = synth.truth_tables(corpus)
    truth = truth.persist(StorageLevel.MEMORY_AND_DISK)
    truth.count()
    docs_t = ingest.with_match_text(corpus.drop("entity_id"))
    docs_t = ST.attach_token_idf(docs_t, ST.idf_table(docs_t))
    docs_t = docs_t.persist(StorageLevel.MEMORY_AND_DISK)
    docs_t.count()
    delsig = os.environ.get("F1_DELSIG", "1") == "1"
    drop_cap = int(os.environ.get("F1_DROP_CAP", "500"))
    # THE shipped recipe, via the shared helper — hand-copying it here
    # drifted once already (the media-ref pass was missing while the
    # header claimed 'same recipe as run_pipeline')
    from rapidfuzz_spark.pipeline.run import PipelineConfig, pipeline_candidate_pairs

    conf = PipelineConfig(
        drop_cap=drop_cap,
        deletion_sig_blocking=delsig,
        # default follows the SHIPPED recipe (prefix off — BENCH.md §3c);
        # F1_PREFIX=1 is the explicit audit override
        doc_prefix_blocking=os.environ.get("F1_PREFIX", "0") == "1",
    )
    key_caches: list = []
    cand = pipeline_candidate_pairs(docs_t, conf, cache_out=key_caches)
    pairs_t = scoring.attach_texts(cand, docs_t).repartition(cpus * 4)
    t0 = time.time()
    scored = pairs_t.select(
        "doc_id_1",
        "doc_id_2",
        ST.soft_tfidf_similarity("toks_1", "idfs_1", "toks_2", "idfs_2").alias("st"),
        F.greatest(
            RF.jaro_winkler_similarity("text_1", "text_2"),
            RF.jaro_winkler_similarity("raw_1", "raw_2"),
        ).alias("jw"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_pairs = scored.count()
    for c in key_caches:
        # the blocking-key cache is dead weight once edges are scored;
        # holding it through 17 CC/F1 sweep iterations evicts useful data
        c.unpersist()
    t_score = time.time() - t0
    print(json.dumps({"n_entities": n_entities, "n_pairs": n_pairs,
                      "score_sec": round(t_score, 1)}), flush=True)

    configs = [
        ("st>=0.72", F.col("st") >= 0.72),
        ("st>=0.73", F.col("st") >= 0.73),
        ("st>=0.74", F.col("st") >= 0.74),
        ("st>=0.75", F.col("st") >= 0.75),
        ("st>=0.74|st>=0.60&jw>=0.94",
         (F.col("st") >= 0.74) | ((F.col("st") >= 0.60) & (F.col("jw") >= 0.94))),
        ("st>=0.76&jw>=0.80|jw>=0.95",
         ((F.col("st") >= 0.76) & (F.col("jw") >= 0.80)) | (F.col("jw") >= 0.95)),
        ("st>=0.74&(st>=0.80|jw>=0.85)",
         (F.col("st") >= 0.74) & ((F.col("st") >= 0.80) | (F.col("jw") >= 0.85))),
        ("st>=0.75&(st>=0.80|jw>=0.85)",
         (F.col("st") >= 0.75) & ((F.col("st") >= 0.80) | (F.col("jw") >= 0.85))),
        ("st>=0.74&(st>=0.82|jw>=0.87)",
         (F.col("st") >= 0.74) & ((F.col("st") >= 0.82) | (F.col("jw") >= 0.87))),
        ("st>=0.74&(st>=0.80|jw>=0.88)",
         (F.col("st") >= 0.74) & ((F.col("st") >= 0.80) | (F.col("jw") >= 0.88))),
        ("st>=0.75&(st>=0.82|jw>=0.87)",
         (F.col("st") >= 0.75) & ((F.col("st") >= 0.82) | (F.col("jw") >= 0.87))),
        ("st>=0.76&(st>=0.82|jw>=0.87)",
         (F.col("st") >= 0.76) & ((F.col("st") >= 0.82) | (F.col("jw") >= 0.87))),
        ("st>=0.77&(st>=0.82|jw>=0.87)",
         (F.col("st") >= 0.77) & ((F.col("st") >= 0.82) | (F.col("jw") >= 0.87))),
        ("st>=0.78&(st>=0.82|jw>=0.87)",
         (F.col("st") >= 0.78) & ((F.col("st") >= 0.82) | (F.col("jw") >= 0.87))),
        ("st>=0.76&(st>=0.84|jw>=0.89)",
         (F.col("st") >= 0.76) & ((F.col("st") >= 0.84) | (F.col("jw") >= 0.89))),
        ("st>=0.77&(st>=0.84|jw>=0.89)",
         (F.col("st") >= 0.77) & ((F.col("st") >= 0.84) | (F.col("jw") >= 0.89))),
        ("st>=0.78&(st>=0.84|jw>=0.89)",
         (F.col("st") >= 0.78) & ((F.col("st") >= 0.84) | (F.col("jw") >= 0.89))),
    ]
    for name, cond in configs:
        t1 = time.time()
        edges = scored.where(cond).select("doc_id_1", "doc_id_2")
        comps = cluster.connected_components(edges)
        pred = (
            corpus.select("doc_id")
            .join(comps, "doc_id", "left")
            .select("doc_id", F.coalesce("entity_id", "doc_id").alias("entity_id"))
        )
        stats = metrics.cluster_pairwise_f1(pred, truth)
        stats = {k: (round(v, 5) if isinstance(v, float) else v)
                 for k, v in stats.items()}
        print(json.dumps({"rule": name, **stats,
                          "sec": round(time.time() - t1, 1)}), flush=True)


if __name__ == "__main__":
    main()
