"""The benchmark workloads: each one generates its inputs from the seed,
runs one timed linkage call through a public entry point, checks the
output, and reports per-layer counts for the traced run.

A timed call includes collecting the linkage output to the driver: the
result a user reads is part of the work, and it is what the checks
inspect.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
from urllib.parse import urlparse

from . import checks, inputs

# Each workload's ``warmup_calls`` are full-size calls made and
# discarded before the timed one. The first call in a fresh JVM pays
# for class loading, Python worker start and code generation (about
# three warm calls); the calls after it keep speeding up while the JIT
# compiles Spark's planner, then level off. On 4 cores, dedupe_pages:
# 32 s, then 13.8, 12.8, 11.4, 10.5 s and flat; link_two_persons: 23 s,
# then 9.4, 8.5, 7.8, 8.3, 7.4 s. A timed call on that slope measures
# how far the JIT got, which a busy machine slows down too: with two
# warm-ups the timed link_two_persons call ranged 6.1-8.7 s over five
# seeds on a quiet machine. The counts are as many as the run budget
# (about a minute a run) allows.


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*")) if os.path.isfile(p))


def _part_skew(files) -> float:
    """max / median rows over the non-empty parquet files of a stage
    (1.0 = perfectly even). Each file is one write task's output, so
    this is the skew of the partitions that computed the stage; reading
    the stage back merges small files into one split, which hides it."""
    import pyarrow.parquet as pq

    rows = [pq.ParquetFile(f).metadata.num_rows for f in files]
    rows = [r for r in rows if r > 0]
    return max(rows) / statistics.median(rows) if rows else 0.0


class DedupePages:
    """``link_dedupe`` over the Zipf-host pages corpus, checkpointing
    every stage; the only workload that runs every pipeline stage."""

    name = "dedupe_pages"
    warmup_calls = 2
    STAGES = ("records", "candidate_pairs", "pairs_gamma", "matched_pairs", "clusters")

    def __init__(self, seed: int, scale: str):
        self.seed, self.scale = seed, scale
        self.ref_candidates: int | None = None

    def generate(self) -> None:
        self.fx = inputs.pages(self.seed, self.scale)

    @property
    def records(self) -> int:
        return len(self.fx.pages)

    def load(self, spark) -> None:
        self.pages = spark.createDataFrame(self.fx.pages)

    def call(self, spark, workdir: str, i: int) -> dict:
        from fastlink_spark.plans import pipeline

        ckpt = os.path.join(workdir, f"ckpt_{i}")
        # a fresh checkpoint root per call: a reused one would resume
        # every stage instead of computing it
        res = pipeline.link_dedupe(
            spark, self.pages, pipeline.LinkageConfig(checkpoint_dir=ckpt)
        )
        return {"res": res, "entities": res.entities.toPandas(), "ckpt": ckpt}

    def check(self, out: dict) -> tuple[float, list[str]]:
        res = out["res"]
        cand = res.metrics["candidate_pairs"]["rows"]
        f1, problems = checks.check_dedupe(
            out["entities"],
            self.fx,
            candidates=cand,
            pattern_pairs=int(res.pattern_counts["cnt"].sum()),
            first_candidates=self.ref_candidates,
        )
        if self.ref_candidates is None:
            self.ref_candidates = cand
        return f1, problems

    def layer_counts(self, spark, out: dict, spans: list[dict]) -> dict:
        from pyspark.sql import functions as F

        res, ckpt = out["res"], out["ckpt"]
        counts = {}
        for st in self.STAGES:
            counts[f"checkpoint.{st}.rows"] = res.metrics[st]["rows"]
            counts[f"checkpoint.{st}.bytes"] = _dir_bytes(os.path.join(ckpt, st))
        bk = F.col("block_keys")
        counts["normalize.block_keys"] = (
            spark.read.parquet(os.path.join(ckpt, "records"))
            .agg(F.sum(F.when(bk.isNotNull(), F.size(bk)).otherwise(0)))
            .collect()[0][0]
        )
        counts["pairs.candidates"] = res.metrics["candidate_pairs"]["rows"]
        counts["pairs.part_skew"] = _part_skew(
            glob.glob(os.path.join(ckpt, "candidate_pairs", "*.parquet"))
        )
        counts["match.pairs"] = res.metrics["matched_pairs"]["rows"]
        counts["cluster.components"] = int(out["entities"]["cluster_id"].nunique())
        counts["em.iterations"] = res.em.iterations
        counts["gammas.patterns"] = len(res.pattern_counts)
        return counts

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["ckpt"], ignore_errors=True)


class LinkTwoPersons:
    """``link_records(one_to_one=True)`` over two person tables blocked
    on city: JW on three name/street fields, numeric house number,
    exact birth year, greedy 1:1 pass."""

    name = "link_two_persons"
    warmup_calls = 3
    THRESHOLD = 0.85

    def __init__(self, seed: int, scale: str):
        self.seed, self.scale = seed, scale
        self.ref_matched: int | None = None

    def generate(self) -> None:
        self.persons = inputs.persons(self.seed, self.scale)

    @property
    def records(self) -> int:
        return self.persons.records

    def load(self, spark) -> None:
        self.df_a = spark.createDataFrame(self.persons.a)
        self.df_b = spark.createDataFrame(self.persons.b)

    @staticmethod
    def fields():
        from fastlink_spark.operators.gammas import FieldSpec

        return [
            FieldSpec("firstname", "string"),
            FieldSpec("lastname", "string"),
            FieldSpec("streetname", "string"),
            FieldSpec("housenum", "numeric", cut_full=0.5),
            FieldSpec("birthyear", "exact"),
        ]

    def call(self, spark, workdir: str, i: int) -> dict:
        from fastlink_spark.plans import link_two

        res = link_two.link_records(
            spark,
            self.df_a,
            self.df_b,
            self.fields(),
            id_col="pid",
            block_cols=["city"],
            threshold=self.THRESHOLD,
            one_to_one=True,
        )
        return {"res": res, "matched": res.matched_pairs.toPandas()}

    def check(self, out: dict) -> tuple[float, list[str]]:
        f1, problems = checks.check_link_two(
            out["matched"],
            self.persons,
            pattern_pairs=int(out["res"].pattern_counts["cnt"].sum()),
            first_matched=self.ref_matched,
        )
        if self.ref_matched is None:
            self.ref_matched = len(out["matched"])
        return f1, problems

    def layer_counts(self, spark, out: dict, spans: list[dict]) -> dict:
        res = out["res"]
        patt = res.pattern_counts
        counts = {
            "pairs.candidates": int(patt["cnt"].sum()),
            "match.pairs": int(patt.loc[patt["zeta"] >= self.THRESHOLD, "cnt"].sum()),
            "dedupe_matches.kept": len(out["matched"]),
            "em.iterations": res.em.iterations,
            "gammas.patterns": len(patt),
        }
        cut = next((s for s in spans if s["name"] == "link_two_pairs"), None)
        if cut is not None:
            files = [urlparse(f).path for f in cut["df"].inputFiles()]
            counts["pairs.part_skew"] = _part_skew(files)
        return counts

    def cleanup(self, out: dict) -> None:
        pass


WORKLOADS = {w.name: w for w in (DedupePages, LinkTwoPersons)}
