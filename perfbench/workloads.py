"""The benchmark workloads: seeded inputs, one timed job through the
package's public entry point, and the output checks for that job.

A workload object is built from a seed (inputs are generated in
pandas, before any timing), writes its inputs to parquet, loads them
into a session, and then runs ``run_once`` as often as ``run.py``
asks. ``run_once`` times only the public call plus collecting its
user-visible output; checks and cache release happen after the clock
stops.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

import checks
import inputs
from triple_accel_spark.operators.dedup import minhash_lsh_duplicates
from triple_accel_spark.operators.linkage import LinkConfig, link_records
from triple_accel_spark.operators.scoring import pairwise_f1
from triple_accel_spark.pipeline import ResolveConfig, resolve_entities
from triple_accel_spark.sources.transcripts import generate_transcripts


class Workload:
    name = ""
    quality_name = ""  # the named quality figure behind the "quality" metric
    threshold = 0.85  # the edit similarity threshold for the traced layers
    candidates = "pairs"  # the candidate layer the traced run scores

    def __init__(self):
        self.ref = checks.Reference()
        self.tables: dict = {}  # input name -> pandas frame

    def write(self, d: str, n_files: int) -> None:
        """Write each input table as ``n_files`` parquet files (one scan
        task per core, as a Spark writer with that many partitions
        would). pyarrow writes them, so no Spark job runs here."""
        for name, pdf in self.tables.items():
            out = os.path.join(d, f"{name}.parquet")
            os.makedirs(out, exist_ok=True)
            cuts = np.linspace(0, len(pdf), n_files + 1).astype(int)
            for i in range(n_files):
                pdf.iloc[cuts[i]:cuts[i + 1]].to_parquet(
                    os.path.join(out, f"part-{i:05d}.parquet"),
                    index=False, coerce_timestamps="us",
                )

    def load(self, spark, d: str) -> list:
        """Read the inputs back as attributes named after the tables;
        returns the frames."""
        frames = []
        for name in self.tables:
            df = spark.read.parquet(os.path.join(d, f"{name}.parquet"))
            setattr(self, name, df)
            frames.append(df)
        return frames

    def cross_check(self, spark) -> list[str]:
        """Extra checks made once, in the traced run."""
        return []

    def layer_transcripts(self):
        """The inputs as ``(conv_id, turn_idx, text)`` turns, for the
        traced run's assemble, blocking and pipeline layers."""
        raise NotImplementedError

    def pipeline_transcripts(self):
        """The turns the traced run's pipeline layer resolves."""
        return self.layer_transcripts()

    def link_sides(self, docs):
        """The two sides the traced run's linkage layer joins."""
        return docs, docs


class ErResolve(Workload):
    """``resolve_entities`` over the labeled transcript corpus."""

    name = "er_resolve"
    quality_name = "pairwise_f1"
    n_entities = 300
    threshold = 0.88

    def __init__(self, seed: int):
        super().__init__()
        tdf, truth = generate_transcripts(n_entities=self.n_entities, seed=seed)
        self.tables = {"transcripts": tdf}
        self.truth = set(zip(truth.id_a, truth.id_b))
        self.records = int(tdf.conv_id.nunique())  # docs

    def config(self):
        return ResolveConfig(sim_threshold=self.threshold)

    def run_once(self, spark):
        t0 = time.perf_counter()
        with resolve_entities(self.transcripts, self.config()) as res:
            wall = time.perf_counter() - t0
            labels = [tuple(r) for r in res.clusters.select("id", "cluster_id").collect()]
            matches = [tuple(r) for r in res.matches.select("id_a", "id_b").collect()]
            metrics = dict(res.metrics)
        problems, f1 = checks.check_er(
            self.records, metrics["n_records"], labels, matches, self.truth, self.ref
        )
        return wall, problems, f1, metrics

    def cross_check(self, spark) -> list[str]:
        """Recompute the F1 of one run with the package's own
        ``pairwise_f1`` and compare it with the benchmark's."""
        truth = spark.createDataFrame(sorted(self.truth), "id_a string, id_b string")
        with resolve_entities(self.transcripts, self.config()) as res:
            theirs = pairwise_f1(res.matches, truth)["f1"]
            ours = checks.pairwise_f1(
                {tuple(r) for r in res.matches.select("id_a", "id_b").collect()},
                self.truth,
            )
        if abs(theirs - ours) > 1e-12:
            return [f"pairwise_f1 {theirs} from the package != {ours}"]
        return []

    def layer_transcripts(self):
        return self.transcripts.select("conv_id", "turn_idx", "text")


def _one_turn(df, id_col: str, text_col: str):
    return df.select(
        F.col(id_col).cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col(text_col).alias("text"),
    )


class LinkDense(Workload):
    """``link_records`` of one-character-deleted copies against a
    word-document corpus whose MinHash blocks are dense."""

    name = "link_dense"
    quality_name = "link_recall"
    candidates = "linkage"
    n_left = 800

    def __init__(self, seed: int):
        super().__init__()
        left, right, self.source = inputs.link_inputs(seed, self.n_left)
        self.tables = {"left": left, "right": right}
        self.texts = dict(zip(left.id.tolist(), left.text.tolist()))
        self.records = len(right)  # right-side records

    def config(self):
        return LinkConfig(sim_threshold=self.threshold)

    def run_once(self, spark):
        t0 = time.perf_counter()
        res = link_records(self.left, self.right, cfg=self.config())
        try:
            best = [tuple(r) for r in res.best.select("id_l", "id_r", "sim").collect()]
            wall = time.perf_counter() - t0
            metrics = dict(res.metrics)
        finally:
            res.unpersist()
        problems, recall = checks.check_link(
            best, self.threshold, self.source, self.texts, self.ref
        )
        return wall, problems, recall, metrics

    def layer_transcripts(self):
        return _one_turn(self.left.unionByName(self.right), "id", "text")

    def pipeline_transcripts(self):
        # the right records and their sources: the full dense self-join
        # of both tables took 14 s on 4 vCPUs and is off this workload's path
        sources = self.left.where(F.col("id").isin(sorted(set(self.source.values()))))
        return _one_turn(sources.unionByName(self.right), "id", "text")

    def link_sides(self, docs):
        left_ids = self.left.select(F.col("id").cast("string").alias("conv_id"))
        return (
            docs.join(left_ids, "conv_id", "left_semi"),
            docs.join(left_ids, "conv_id", "left_anti"),
        )


class DedupNear(Workload):
    """``minhash_lsh_duplicates`` over word documents with planted
    near-duplicate copies (no edit kernel on the path)."""

    name = "dedup_near"
    quality_name = "dedup_recall"
    n_docs = 1000
    jaccard = 0.5

    def __init__(self, seed: int):
        super().__init__()
        docs, self.planted = inputs.dedup_inputs(seed, self.n_docs)
        self.tables = {"docs": docs}
        self.records = len(docs)

    def run_once(self, spark):
        t0 = time.perf_counter()
        out = minhash_lsh_duplicates(
            self.docs, "text", "doc_id", q=5, num_hashes=32, num_bands=8,
            jaccard_threshold=self.jaccard,
        )
        try:
            pairs = [tuple(r) for r in out.select("id_a", "id_b", "jaccard").collect()]
            wall = time.perf_counter() - t0
        finally:
            for fr in getattr(out, "_persisted_frames", []):
                fr.unpersist(blocking=True)
        problems, recall = checks.check_dedup(
            pairs, self.jaccard, self.planted, self.ref
        )
        return wall, problems, recall, {"n_pairs": len(pairs)}

    def layer_transcripts(self):
        return _one_turn(self.docs, "doc_id", "text")


WORKLOADS = {w.name: w for w in (ErResolve, LinkDense, DedupNear)}
