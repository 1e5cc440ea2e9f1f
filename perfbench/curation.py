"""The corpus-curation workload: a seeded synthetic corpus through the
dedup and text-feature extensions. Read-only: no mart, no writes; every
sink is an aggregate or a local checkpoint.

One operation is one pass of the chain:
``extensions.dedup.exact_dedup``, ``minhash_lsh_candidates`` ->
``connected_dedup_clusters``, ``duplicate_span_stats`` and the
``extensions.text`` feature chain into ``deterministic_split``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from pyspark_etl_project_spark.extensions import text as X
from pyspark_etl_project_spark.extensions.dedup import (
    connected_dedup_clusters, deterministic_split, duplicate_span_stats,
    exact_dedup, minhash_lsh_candidates)

import gen

SIZES = {"docs": 1600, "min_tokens": 100, "max_tokens": 200}
# Share of planted near-duplicate pairs that LSH and clustering must
# find. One perturbed token in >= 100 changes at most 3 of the >= 98
# 3-shingles (Jaccard >= 0.94), so each 2-row band collides with
# probability >= 0.88 and a pair is missed by all 4 bands with
# probability <= 2e-4: the floor holds on any seed.
NEAR_RECALL_FLOOR = 0.95


class CurationWorkload:
    def __init__(self, spark, work: str, seed: int, tracer, files: int):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.files = files
        self.corpus = os.path.join(work, "corpus")
        self.ran: list[dict] = []

    def setup(self) -> None:
        self.truth = gen.generate_corpus(
            self.corpus, self.seed, SIZES["docs"], self.files,
            SIZES["min_tokens"], SIZES["max_tokens"])
        # Two untimed passes: Python workers start and the JVM compiles
        # the chain's hot code before timing starts (the second pass was
        # still measurably faster than the first). They are checked like
        # every other pass.
        self.round()
        self.round()

    def exhausted(self) -> bool:
        return False

    def round(self) -> list[dict]:
        """One pass of the curation chain; its outputs are kept for the
        checks."""
        span = self.tracer.span
        n_spans = len(self.tracer.spans)
        t0 = time.perf_counter()
        df = self.spark.read.parquet(self.corpus)
        with span("extensions.exact_dedup"):
            groups = (exact_dedup(df, "text", "doc_id")
                      .filter(F.col("n_copies") > 1)
                      .select("keep_id", "n_copies").collect())
        with span("extensions.minhash_lsh_candidates"):
            pairs = minhash_lsh_candidates(df, "doc_id", "text").localCheckpoint(eager=True)
        with span("extensions.connected_dedup_clusters"):
            clusters = connected_dedup_clusters(pairs, df.select("doc_id"),
                                                id_col="doc_id")
            clusters.filter(F.col("doc_id") != F.col("cluster_id")).count()
        with span("extensions.duplicate_span_stats"):
            spans_agg = duplicate_span_stats(df, "doc_id", "text").agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_tokens").alias("tokens"),
                F.sum("dup_tokens").alias("dup_tokens")).first()
        with span("extensions.text_features"):
            staged = df.select(
                "doc_id",
                X.normalized_fingerprint("text").alias("fp"),
                X.tokens(F.lower("text")).alias("_lw"),
                X.word_ngrams("text", 2).alias("_g"))
            feats = staged.select("doc_id", "fp",
                                  X.lang_id_from_tokens("_lw").alias("lang"),
                                  X.dup_bp_from_ngrams("_g").alias("dup_bp"))
            split = deterministic_split(feats, "doc_id",
                                        {"train": 90, "val": 5, "test": 5})
            features = split.agg(
                F.count(F.lit(1)).alias("docs"),
                F.count_distinct("fp").alias("fingerprints"),
                F.count_distinct("split").alias("splits"),
                F.sum("dup_bp").alias("dup_bp")).first()
        wall = time.perf_counter() - t0
        rec = {"source": "corpus", "wall_s": wall, "records": self.truth["docs"],
               "spans": (n_spans, len(self.tracer.spans)),
               "out": {"groups": groups, "spans": spans_agg,
                       "features": features}}
        self.ran.append(rec)
        # Only the last pass's checkpointed pairs and labels are kept (for
        # the recall checks), so earlier passes' blocks can be freed.
        self.last = {"pairs": pairs, "clusters": clusters}
        return [rec]

    def check(self) -> list[tuple[str, bool, str]]:
        t = self.truth
        out = []
        want_groups = sorted((g[0], len(g)) for g in t["exact_groups"])
        exact_dup_docs = sum(len(g) - 1 for g in t["exact_groups"])
        for i, rec in enumerate(self.ran):
            o = rec["out"]
            got = sorted((r["keep_id"], r["n_copies"]) for r in o["groups"])
            out.append((f"pass{i}.exact_groups", got == want_groups,
                        f"{len(got)} groups found, {len(want_groups)} planted"))
            s = o["spans"]
            ok = (s["docs"] == t["docs"] and s["tokens"] == t["tokens"]
                  and s["dup_tokens"] >= t["exact_tokens"])
            out.append((f"pass{i}.dup_spans", ok,
                        f"docs {s['docs']}/{t['docs']}, tokens {s['tokens']}/"
                        f"{t['tokens']}, dup tokens {s['dup_tokens']} >= "
                        f"{t['exact_tokens']}"))
            f = o["features"]
            ok = (f["docs"] == t["docs"] and f["splits"] == 3
                  and f["fingerprints"] == t["docs"] - exact_dup_docs)
            out.append((f"pass{i}.text_features", ok,
                        f"docs {f['docs']}, splits {f['splits']}, fingerprints "
                        f"{f['fingerprints']} (want {t['docs'] - exact_dup_docs})"))
        # Near-duplicate recall on the last pass (its pairs and clusters
        # are local checkpoints, so reading them back is cheap).
        pairs = {(r["id_a"], r["id_b"]) for r in self.last["pairs"].collect()}
        near = [tuple(p) for p in t["near_pairs"]]
        found = sum(p in pairs for p in near)
        recall = found / len(near)
        out.append(("lsh.near_recall", recall >= NEAR_RECALL_FLOOR,
                    f"{found}/{len(near)} planted near-dup pairs are candidates"))
        label = {r["doc_id"]: r["cluster_id"] for r in self.last["clusters"].collect()}
        together = sum(label[a] == label[b] for a, b in near)
        out.append(("clusters.near_recall",
                    together / len(near) >= NEAR_RECALL_FLOOR,
                    f"{together}/{len(near)} planted near-dup pairs share a cluster"))
        self.lsh = {"extensions.lsh_candidate_pairs": len(pairs),
                    "extensions.lsh_useful_ratio": found / max(len(pairs), 1)}
        return out

    def traced_extras(self) -> dict:
        """LSH waste, from the checks of the last pass."""
        return {"scalars": self.lsh}
