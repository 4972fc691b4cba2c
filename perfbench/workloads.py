"""The two workloads. Each is a closed loop with one client: ``job`` sends
one unit of work and waits for its output to be written or collected;
``check`` verifies the outputs outside the clock.

- er_batch:   ``run_pipeline`` over a synth corpus, checkpointing on, then
  one micro-batch of late documents through ``link_increment``.
- score_long: four Column-API scorers over blocked ~300-char doc pairs.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.storagelevel import StorageLevel

import rapidfuzz_spark as rf
import rapidfuzz_spark.functions as RF
from rapidfuzz_spark.kernels import batch as B
from rapidfuzz_spark.pipeline import incremental, ingest, metrics, synth
from rapidfuzz_spark.pipeline import run as P

import inputs

HASH_MOD = 2**31 - 1
MEM_DISK = StorageLevel.MEMORY_AND_DISK
# er_batch: the configuration bench.py's pipeline_e2e runs, with the shipped
# checkpointing left on; the late-document links score with the same rule
PIPELINE_CONF = dict(metric="ratio", threshold=0.85, drop_cap=500)
# checkpoint buckets: 4, not the default 16. Each bucket costs ~5 Spark jobs
# whatever its size, and at 16 one cold job takes ~50 s, which the
# benchmark's run budget cannot hold; every bucket still runs the full
# score / write / count / ledger path
N_BUCKETS = 4
# quality floors; a run below them is counted as failed output
F1_FLOOR = 0.9
LINK_ACCURACY_FLOOR = 0.8

SIZES = {
    "full": {
        "er_batch": {
            "n_base_entities": 300,
            "n_unseen_entities": 30,
            "held_share": 0.3,
            "batch_docs": 20,
        },
        "score_long": {"n_docs": 800, "n_check": 120},
    },
    "tiny": {
        "er_batch": {
            "n_base_entities": 30,
            "n_unseen_entities": 6,
            "held_share": 0.5,
            "batch_docs": 5,
        },
        "score_long": {"n_docs": 60, "n_check": 20},
    },
}


def content_hash(df: DataFrame, *cols: str) -> tuple[int, int]:
    """Order-independent (row count, sum of per-row hashes) of ``cols``."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(HASH_MOD))).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


class Workload:
    name = ""
    # docs the workload resolves per job (docs_per_s numerator)
    docs_per_job = 0

    def __init__(self, spark, host: dict, seed: int, work_dir: str, size: dict):
        self.spark = spark
        self.host = host
        self.seed = seed
        self.work_dir = os.path.join(work_dir, self.name)
        self.size = size
        os.makedirs(self.work_dir, exist_ok=True)

    def prepare(self) -> None:
        """Generate and materialise the inputs."""

    def warm_up(self) -> None:
        """One job's worth of the code paths, before the clock."""

    def job(self, i: int, tracer=None) -> dict:
        raise NotImplementedError

    def check(self, results: list[dict], quality: bool = True) -> dict:
        """Verify outputs outside the clock; marks ``ok`` on each result and
        returns workload-level figures. ``quality=False`` skips the checks
        against the truth that an equal output hash already implies."""
        raise NotImplementedError


# ---- er_batch -----------------------------------------------------------------


class ErBatch(Workload):
    """``run_pipeline`` over the base corpus, then one micro-batch of late
    documents (held-out documents of base entities and documents of unseen
    entities) through ``link_increment`` against its output, written."""

    name = "er_batch"

    def prepare(self) -> None:
        s = self.size
        # one corpus for every seed, so runs differ only in the late
        # documents the seed picks (pipeline work varies by ~10% between
        # synth seeds, through pair counts and CC rounds)
        full = synth.synth_documents(
            self.spark,
            n_entities=s["n_base_entities"] + s["n_unseen_entities"],
            seed=inputs.CORPUS_SEED,
        ).persist(MEM_DISK)
        ids = full.select("doc_id", "entity_id").toPandas()
        self.truth_map = dict(zip(ids["doc_id"], ids["entity_id"]))
        late = inputs.late_documents(
            ids, s["n_base_entities"], s["held_share"], s["batch_docs"], self.seed
        )
        self.sent = set(late["doc_id"])
        self.held = set(late.loc[late["held"], "doc_id"])
        unseen = ids["entity_id"].str[1:].astype(int) >= s["n_base_entities"]
        out_of_base = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": sorted(self.sent | set(ids["doc_id"][unseen]))})
        )
        base = full.join(out_of_base, "doc_id", "left_anti").persist(MEM_DISK)
        self.truth = synth.truth_tables(base)[0]
        self.corpus = base.select("doc_id", "spans")
        self.late = (
            full.join(self.spark.createDataFrame(late[["doc_id"]]), "doc_id")
            .select("doc_id", "spans")
            .persist(MEM_DISK)
        )
        self.n_base = base.count()
        self.late.count()
        full.unpersist()
        self.docs_per_job = self.n_base + len(late)

    def warm_up(self) -> None:
        """A ratio UDF over 400 documents and a parquet write."""
        out = os.path.join(self.work_dir, "warm")
        ingest.with_match_text(self.corpus).limit(400).select(
            RF.ratio("norm_text", F.reverse("norm_text")).alias("s")
        ).write.mode("overwrite").parquet(out)
        shutil.rmtree(out, ignore_errors=True)

    def job(self, i: int, tracer=None) -> dict:
        out_dir = os.path.join(self.work_dir, f"job-{i}")
        shutil.rmtree(out_dir, ignore_errors=True)
        conf = P.PipelineConfig(
            **PIPELINE_CONF, checkpoint=True, n_buckets=N_BUCKETS
        )
        t0 = time.perf_counter()
        with _span(tracer, "run.run_pipeline"):
            ents = P.run_pipeline(self.spark, self.corpus, out_dir, conf)
        t1 = time.perf_counter()
        # the pipeline's output is the catalog the late documents link to
        base_t = ingest.with_match_text(self.corpus).persist(MEM_DISK)
        with _span(tracer, "incremental.link_increment"):
            assigned = incremental.link_increment(
                self.late,
                base_t,
                ents.select("doc_id", "entity_id"),
                P.PipelineConfig(**PIPELINE_CONF),
            )
        with _span(tracer, "incremental.write"):
            assigned.select(
                "doc_id", "entity_id", "matched_doc_id", "score"
            ).write.mode("overwrite").parquet(os.path.join(out_dir, "late"))
        t2 = time.perf_counter()
        base_t.unpersist()
        return {
            "wall_s": t2 - t0,
            "pipeline_s": t1 - t0,
            "batch_s": t2 - t1,
            "out_dir": out_dir,
            "ents": ents,
        }

    def check(self, results: list[dict], quality: bool = True) -> dict:
        f1s, acc, new_share = [], [], []
        for r in results:
            ents = r.pop("ents")
            n, h = content_hash(ents, "doc_id", "entity_id")
            # span sequences must come out exactly as they went in
            bad_spans = (
                ents.alias("o")
                .join(self.corpus.alias("i"), "doc_id", "full")
                .where(~F.col("o.spans").eqNullSafe(F.col("i.spans")))
                .count()
            )
            distinct = ents.select("doc_id").distinct().count()
            ok = n == self.n_base and distinct == n and bad_spans == 0
            if quality:
                f1s.append(
                    metrics.cluster_pairwise_f1(
                        ents.select("doc_id", "entity_id"), self.truth
                    )["f1"]
                )
                ok = ok and f1s[-1] >= F1_FLOOR
            late = self.spark.read.parquet(os.path.join(r["out_dir"], "late"))
            nl, hl = content_hash(late, "doc_id", "entity_id")
            rows = late.select("doc_id", "entity_id").toPandas()
            ok = ok and nl == len(self.sent) and set(rows["doc_id"]) == self.sent
            held = rows[rows["doc_id"].isin(self.held)]
            new = rows[~rows["doc_id"].isin(self.held)]
            # base entity ids are the smallest doc id of the cluster
            held_ok = sum(
                self.truth_map.get(e) == self.truth_map[d]
                for d, e in zip(held["doc_id"], held["entity_id"])
            )
            acc.append(held_ok / len(held) if len(held) else 1.0)
            # a document of an unseen entity should found a new entity
            new_ok = int((new["entity_id"] == new["doc_id"]).sum())
            new_share.append(new_ok / len(new) if len(new) else 1.0)
            if quality:
                ok = ok and acc[-1] >= LINK_ACCURACY_FLOOR
            r["hash"] = (h + hl) % HASH_MOD
            r["ok"] = ok and r["hash"] == results[0]["hash"]
            shutil.rmtree(r.pop("out_dir"), ignore_errors=True)
        out = {
            "link_accuracy": float(np.median(acc)),
            "held_docs": len(self.held),
            "unseen_new_entity_share": float(np.median(new_share)),
        }
        if f1s:
            out["pairwise_f1"] = float(np.median(f1s))
        return out


def _span(tracer, name: str):
    return nullcontext() if tracer is None else tracer.span(name)


# ---- score_long ----------------------------------------------------------------

SCORERS = {
    "jaro_winkler_similarity": (lambda: RF.jaro_winkler_similarity("t1", "t2"), False),
    "levenshtein_distance": (lambda: RF.levenshtein_distance("t1", "t2"), False),
    "ratio_cutoff": (lambda: RF.ratio("t1", "t2", score_cutoff=0.55), True),
    "levenshtein_distance_cutoff": (
        lambda: RF.levenshtein_distance("t1", "t2", score_cutoff=40),
        True,
    ),
}


def scalar_scores(t1: str, t2: str) -> dict:
    """The same four scores from the scalar ``rapidfuzz_spark.api`` surface,
    which does not use kernels/batch.py."""
    return {
        "jaro_winkler_similarity": rf.jaro_winkler.similarity(t1, t2),
        "levenshtein_distance": rf.levenshtein.distance(t1, t2),
        "ratio_cutoff": rf.fuzz.ratio(t1, t2, score_cutoff=0.55),
        "levenshtein_distance_cutoff": rf.levenshtein.distance(t1, t2, score_cutoff=40),
    }


class ScoreLong(Workload):
    name = "score_long"

    def prepare(self) -> None:
        docs = inputs.sf_documents(self.size["n_docs"])
        pdf = inputs.blocked_pairs(docs, self.seed, self.size["n_check"])
        self.sample = pdf[pdf["chk"]]
        self.n_pairs = len(pdf)
        self.docs_per_job = int(len(set(pdf["id_1"]) | set(pdf["id_2"])))
        self.pairs = (
            self.spark.createDataFrame(pdf)
            .repartition(self.host["cores"])
            .persist(MEM_DISK)
        )
        self.pairs.count()

    def warm_up(self) -> None:
        """One untimed pass: with less, the first timed passes run ~15%
        slower than the later ones."""
        for name in SCORERS:
            self._score(name, self.pairs)

    def _score(self, name: str, pairs: DataFrame):
        col, cutoff = SCORERS[name]
        df = pairs.select("id_1", "id_2", "chk", col().alias("s"))
        if cutoff:
            df = df.where(F.col("s").isNotNull())
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("id_1", "id_2", "s"), F.lit(HASH_MOD))).alias("h"),
            F.collect_list(
                F.when(F.col("chk"), F.struct("id_1", "id_2", "s"))
            ).alias("sample"),
        ).first()

    def job(self, i: int, tracer=None) -> dict:
        walls, outs = {}, {}
        t0 = time.perf_counter()
        for name in SCORERS:
            t = time.perf_counter()
            with _span(tracer, f"functions.{name}"):
                outs[name] = self._score(name, self.pairs)
            walls[name] = time.perf_counter() - t
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "scorer_s": walls, "outs": outs}

    def check(self, results: list[dict], quality: bool = True) -> dict:
        expected = {
            (int(r.id_1), int(r.id_2)): scalar_scores(r.t1, r.t2)
            for r in self.sample.itertuples()
        }
        for r in results:
            outs = r.pop("outs")
            ok = True
            for name, row in outs.items():
                got = {(int(x["id_1"]), int(x["id_2"])): x["s"] for x in row["sample"]}
                # a filtered cutoff score is absent here and None there
                ok = ok and all(got.get(k) == exp[name] for k, exp in expected.items())
            r["hash"] = sum(row["h"] or 0 for row in outs.values()) % HASH_MOD
            r["ok"] = ok and r["hash"] == results[0]["hash"]
        return {"n_pairs": self.n_pairs, "scorers": len(SCORERS)}

    # ---- layer split (traced runs) -------------------------------------------

    def _timed(self, fn, reps: int) -> float:
        walls = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            walls.append(time.perf_counter() - t)
        return float(np.median(walls))

    def layer_split(self, reps: int) -> dict:
        """(a) the cached pair scan with a length() projection, (b) the same
        with an identity Arrow UDF; medians of ``reps`` runs each."""
        a = self._timed(
            lambda: self.pairs.select(
                (F.length("t1") + F.length("t2")).alias("s")
            ).agg(F.sum("s")).first(),
            reps,
        )

        def zeros(c1: pd.Series, c2: pd.Series) -> pd.Series:
            return pd.Series(np.zeros(len(c1)))

        # defined here so it pickles by value: the workers cannot import
        # this module
        identity = pandas_udf(zeros, "double")
        b = self._timed(
            lambda: self.pairs.select(identity("t1", "t2").alias("s"))
            .agg(F.sum("s"))
            .first(),
            reps,
        )
        return {"scan_join_s": a, "identity_udf_s": b}

    def kernel_timing(self) -> dict:
        """Kernel busy time on one thread, over the batches the UDF receives:
        each cached partition cut at spark.sql.execution.arrow.maxRecordsPerBatch.
        The cutoff variants get the bound their UDF derives (levenshtein
        score_cutoff=40 -> k=41; ratio 0.55 -> k = floor(0.45 * (l1 + l2)) + 1,
        after the length prefilter); jaro_winkler_batch's k-set variant uses
        k=0.85, the pipeline threshold."""
        per_batch = int(
            self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        )
        pdf = self.pairs.select(
            F.spark_partition_id().alias("pid"), "t1", "t2"
        ).toPandas()
        batches = []
        for _, part in pdf.groupby("pid", sort=True):
            for lo in range(0, len(part), per_batch):
                chunk = part.iloc[lo : lo + per_batch]
                batches.append(
                    (
                        chunk["t1"].to_numpy(dtype=object),
                        chunk["t2"].to_numpy(dtype=object),
                    )
                )

        def lens(a, b):
            la = np.fromiter((len(x) for x in a), np.int64, len(a))
            lb = np.fromiter((len(x) for x in b), np.int64, len(b))
            return la, lb

        def lev_k(a, b):
            la, lb = lens(a, b)
            live = np.abs(la - lb) <= 40
            return a[live], b[live], {"k": np.full(int(live.sum()), 41)}

        def indel_k(a, b):
            la, lb = lens(a, b)
            mx = la + lb
            live = (mx == 0) | (1.0 - np.abs(la - lb) / np.maximum(mx, 1) >= 0.55)
            k = (np.floor(mx[live] * 0.45) + 1).astype(np.int64)
            return a[live], b[live], {"k": k}

        def no_k(a, b):
            return a, b, {}

        variants = {
            ("levenshtein_batch", "k_unset"): (B.levenshtein_batch, no_k),
            ("levenshtein_batch", "k_set"): (B.levenshtein_batch, lev_k),
            ("indel_batch", "k_unset"): (B.indel_batch, no_k),
            ("indel_batch", "k_set"): (B.indel_batch, indel_k),
            ("jaro_winkler_batch", "k_unset"): (
                B.jaro_winkler_batch,
                lambda a, b: (a, b, {"prefix_weight": 0.1}),
            ),
            ("jaro_winkler_batch", "k_set"): (
                B.jaro_winkler_batch,
                lambda a, b: (a, b, {"prefix_weight": 0.1, "k": 0.85}),
            ),
        }
        out = {}
        for (kernel, var), (fn, prep) in variants.items():
            # one untimed call: the first call in a process pays one-off costs
            pa, pb, kw = prep(*batches[0])
            kw = {k: v[:8] if np.ndim(v) else v for k, v in kw.items()}
            fn(pa[:8], pb[:8], **kw)
            busy, n = 0.0, 0
            for a, b in batches:
                pa, pb, kw = prep(a, b)
                if not len(pa):
                    continue
                t = time.perf_counter()
                fn(pa, pb, **kw)
                busy += time.perf_counter() - t
                n += len(pa)
            out[(kernel, var)] = (busy, n)
        return {"batches": len(batches), "variants": out}


WORKLOADS = {w.name: w for w in (ErBatch, ScoreLong)}
