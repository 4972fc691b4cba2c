"""Per-blocking-family cost/benefit audit (BENCH.md §3b follow-up).

The pair-dedup exchange is the pipeline's main non-scaling term; its
volume is the RAW (pre-dedup) pair rows each key family emits. This tool
measures, on the synthetic ER corpus, what each family costs (raw pair
rows through the exchange) vs what it buys (truth pairs only that family
covers) — the data needed to decide whether any shipped family is pure
dup-factor with zero marginal recall.

    SCALING_ENTITIES=20000 python tools/key_family_audit.py

Families: t (tokens), p (doc prefix), tp/ts (token affixes), delsig
(e/d deletion signatures), mr (media refs), sn (sorted-neighborhood
direct pairs). Census drop (count > drop_cap) is applied before
counting, exactly as candidate_pairs does; hot-key salting does not
change the pair set so it is irrelevant here.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def main() -> None:
    n_entities = int(os.environ.get("SCALING_ENTITIES", "20000"))
    drop_cap = int(os.environ.get("F1_DROP_CAP", "500"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "64g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from rapidfuzz_spark.pipeline import blocking, ingest, synth
    from rapidfuzz_spark.pipeline.run import PipelineConfig, pipeline_blocking_keys

    corpus = synth.synth_documents(spark, n_entities=n_entities, seed=42)
    _, labels = synth.truth_tables(corpus)
    truth = (
        labels.select("doc_id_1", "doc_id_2")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_truth = truth.count()
    docs_t = ingest.with_match_text(corpus.drop("entity_id"))
    docs_t = docs_t.persist(StorageLevel.MEMORY_AND_DISK)
    n_docs = docs_t.count()

    # audit ALL families including those the shipped default turns off
    # (the p family is exactly what this tool exists to measure; whether
    # to ship it is the separate question BENCH.md §3c answers)
    conf = PipelineConfig(drop_cap=drop_cap, doc_prefix_blocking=True)
    keys = pipeline_blocking_keys(docs_t, conf).withColumn(
        "fam",
        F.when(F.col("block_key").rlike("^e:"), "delsig").otherwise(
            F.regexp_extract("block_key", r"^([a-z]+):", 1)
        ),
    )
    # census drop exactly as candidate_pairs: keys above drop_cap never
    # produce pairs (namespaces are disjoint, so a per-family census
    # equals the shipped global one)
    sizes = keys.groupBy("block_key", "fam").count()
    kept = keys.join(
        F.broadcast(
            sizes.where(F.col("count") > drop_cap).select("block_key")
        ),
        "block_key",
        "left_anti",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    kept.count()

    # raw exchange volume per family: sum over kept keys of n*(n-1)/2 —
    # the pair rows the self-join emits into the dedup exchange. Cheap
    # aggregation; no join needed.
    raw = {
        r["fam"]: (int(r["rows"]), int(r["keys"]))
        for r in sizes.join(
            F.broadcast(
                sizes.where(F.col("count") > drop_cap).select("block_key")
            ),
            "block_key",
            "left_anti",
        )
        .groupBy("fam")
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("rows"),
            F.count("*").alias("keys"),
        )
        .collect()
    }

    # distinct pair set per family (unordered, id1<id2)
    fams = sorted(raw)
    a = kept.select("fam", "block_key", F.col("doc_id").alias("i"))
    b = kept.select("fam", "block_key", F.col("doc_id").alias("j"))
    pair_fam = (
        a.join(b, ["fam", "block_key"])
        .where(F.col("i") < F.col("j"))
        .select("fam", F.col("i").alias("doc_id_1"), F.col("j").alias("doc_id_2"))
        .dropDuplicates(["fam", "doc_id_1", "doc_id_2"])
    )
    sn = blocking.sorted_neighborhood_pairs(docs_t, window=conf.sn_window).select(
        F.lit("sn").alias("fam"), "doc_id_1", "doc_id_2"
    )
    pair_fam = pair_fam.unionByName(sn).persist(StorageLevel.MEMORY_AND_DISK)
    fams = fams + ["sn"]

    # per-pair family set -> marginal coverage in one pass
    agg = pair_fam.groupBy("doc_id_1", "doc_id_2").agg(
        F.collect_set("fam").alias("fs")
    )
    hit = truth.join(agg, ["doc_id_1", "doc_id_2"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_union_hit = hit.count()
    n_distinct_pairs = agg.count()

    per_fam = {
        f: {
            "raw_pair_rows": raw.get(f, (0, 0))[0],
            "kept_keys": raw.get(f, (0, 0))[1],
        }
        for f in fams
    }
    cov = {
        r["f"]: (int(r["covered"]), int(r["only"]))
        for r in hit.select(F.explode("fs").alias("f"), "fs")
        .groupBy("f")
        .agg(
            F.count("*").alias("covered"),
            F.sum(F.when(F.size("fs") == 1, 1).otherwise(0)).alias("only"),
        )
        .collect()
    }
    dist = {
        r["f"]: int(r["n"])
        for r in pair_fam.groupBy("fam").count()
        .withColumnsRenamed({"fam": "f", "count": "n"})
        .collect()
    }
    for f in fams:
        c, only = cov.get(f, (0, 0))
        per_fam[f].update(
            distinct_pairs=dist.get(f, 0),
            truth_covered=c,
            truth_only_this_family=only,
            recall_if_dropped=round((n_union_hit - only) / n_truth, 6),
        )

    print(
        json.dumps(
            {
                "n_entities": n_entities,
                "n_docs": n_docs,
                "n_truth_pairs": n_truth,
                "drop_cap": drop_cap,
                "union_candidate_recall": round(n_union_hit / n_truth, 6),
                "distinct_pairs": n_distinct_pairs,
                "raw_pair_rows_total": sum(v["raw_pair_rows"] for v in per_fam.values())
                + dist.get("sn", 0),
                "families": per_fam,
            },
            indent=2,
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
