"""The traced run: each layer's public function called in turn on the
workload's own inputs, timed from outside, with Spark's event log on.

Every call runs under ``setJobDescription(<layer>)`` and materializes
its output before the clock stops, so a layer's wall time covers that
layer's own work (its inputs come from a cache pinned beforehand).
Engine counters come from the event log, grouped by description:

* ``spark.*`` and ``plan.*`` describe the last traced end-to-end job;
* ``scoring.rows_in`` counts rows through the ArrowEvalPython node of
  the scoring call;
* ``dedup.spine_rows`` is the largest join output of the dedup call.

Layers that are not on a workload's own path still run on its inputs
(for example ``dedup`` over ``er_resolve``'s documents), so every
workload reports every layer.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from eventlog import EventLog

KERNEL_SAMPLE = 2000  # post-prefilter pairs timed in the Spark-free kernel


class Tracer:
    """Wall clocks and job descriptions around layer calls."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict = {}

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls[name] = time.perf_counter() - t0
            self.sc.setJobDescription(None)


def _release(df) -> None:
    for fr in getattr(df, "_persisted_frames", []):
        fr.unpersist(blocking=True)


def _pin(df):
    df = df.persist()
    return df, df.count()


@pandas_udf(IntegerType())
def _passthrough(sa: pd.Series, sb: pd.Series, sk: pd.Series) -> pd.Series:
    """The scoring UDF's signature with no kernel: the bare Arrow round
    trip of the same three columns."""
    return sk


def kernel_rate(rows) -> tuple[float, float]:
    """``(pairs/s, CPU seconds)`` of ``myers_batch`` over ``rows`` of
    ``(text_a, text_b, k)`` in this process, median of three passes."""
    from triple_accel_spark.kernels.myers import myers_batch

    a = [r[0] for r in rows]
    b = [r[1] for r in rows]
    k = np.array([r[2] for r in rows], dtype=np.int64)
    walls, cpus = [], []
    for _ in range(3):
        w0, c0 = time.perf_counter(), time.process_time()
        myers_batch(a, b, k)
        walls.append(time.perf_counter() - w0)
        cpus.append(time.process_time() - c0)
    wall = statistics.median(walls)
    return len(rows) / wall, statistics.median(cpus)


def run_layers(spark, wl, tr: Tracer, pipeline_metrics: dict | None) -> dict:
    """Call each layer on ``wl``'s inputs; return the layer metrics that
    are measured from outside (the rest come from the event log)."""
    from triple_accel_spark.functions import length_prefilter
    from triple_accel_spark.operators.assemble import assemble_documents
    from triple_accel_spark.operators.blocking import with_minhash_blocks
    from triple_accel_spark.operators.clustering import (
        connected_components,
        local_connected_components,
    )
    from triple_accel_spark.operators.dedup import minhash_lsh_duplicates
    from triple_accel_spark.operators.linkage import candidate_links
    from triple_accel_spark.operators.pairs import candidate_pairs
    from triple_accel_spark.operators.scoring import relative_k_col, score_pairs
    from triple_accel_spark.pipeline import ResolveConfig, resolve_entities

    m: dict = {}
    turns = wl.layer_transcripts()
    with tr.layer("assemble"):
        docs, _ = _pin(assemble_documents(turns).select("conv_id", "doc"))

    with tr.layer("blocking"):
        blocked, m["blocking.rows_out"] = _pin(with_minhash_blocks(
            docs, "doc", q=3, num_hashes=32, num_bands=16, id_col="conv_id"
        ))
    m["blocking.max_block_rows"] = (
        blocked.groupBy("block_key").count().agg(F.max("count")).first()[0]
    )

    with tr.layer("pairs"):
        raw = candidate_pairs(blocked, id_col="conv_id", block_col="block_key",
                              payload_cols=("doc",), max_block_size=5000)
        pairs, m["pairs.rows_out"] = _pin(raw)
    _release(raw)

    side_l, side_r = wl.link_sides(docs)
    block_l, _ = _pin(blocked.join(side_l.select("conv_id"), "conv_id", "left_semi"))
    block_r, _ = _pin(blocked.join(side_r.select("conv_id"), "conv_id", "left_semi"))
    with tr.layer("linkage"):
        raw = candidate_links(
            block_l, block_r, id_col="conv_id", block_col="block_key",
            payload_cols=("doc",), payload_left=side_l, payload_right=side_r,
            prune_threshold=wl.threshold, prune_text_col="doc",
        )
        links, m["linkage.rows_out"] = _pin(raw)
    _release(raw)

    # score the workload's own candidate layer
    if wl.candidates == "linkage":
        cand = links.select(F.col("id_l").alias("id_a"), F.col("id_r").alias("id_b"),
                            F.col("doc_l").alias("doc_a"), F.col("doc_r").alias("doc_b"))
    else:
        cand = pairs
    k = relative_k_col(wl.threshold, "doc_a", "doc_b")
    with tr.layer("scoring"):
        scored, m["scoring.rows_within_k"] = _pin(score_pairs(cand, "doc_a", "doc_b", k=k))
    with tr.layer("functions"):
        cand.where(length_prefilter("doc_a", "doc_b", k)).select(
            _passthrough.asNondeterministic()("doc_a", "doc_b", k).alias("o")
        ).agg(F.count("o")).collect()
    m["functions.udf_passthrough_s"] = tr.walls.pop("functions")

    sample = (
        cand.where(length_prefilter("doc_a", "doc_b", k))
        .select("id_a", "id_b", "doc_a", "doc_b", k.alias("k"))
        .orderBy("id_a", "id_b").limit(KERNEL_SAMPLE)
        .select("doc_a", "doc_b", "k").collect()
    )
    m["kernels.pairs_per_s"], m["kernels.cpu_s"] = kernel_rate(sample)

    edges, m["clustering.edges_in"] = _pin(
        scored.where(F.col("sim") >= wl.threshold).select("id_a", "id_b")
    )
    with tr.layer("clustering.local"):
        local_connected_components(edges).count()
    with tr.layer("clustering.distributed"):
        connected_components(edges).count()
    m["clustering.local_wall_s"] = tr.walls.pop("clustering.local")
    m["clustering.distributed_wall_s"] = tr.walls.pop("clustering.distributed")

    with tr.layer("dedup"):
        out = minhash_lsh_duplicates(docs, "doc", "conv_id", q=5, num_hashes=32,
                                     num_bands=8, jaccard_threshold=0.5)
        out.collect()
    _release(out)

    if pipeline_metrics is None:
        with tr.layer("pipeline"):
            with resolve_entities(wl.pipeline_transcripts(),
                                  ResolveConfig(sim_threshold=wl.threshold)) as res:
                pipeline_metrics = res.metrics
    for key in ("t_score_action", "t_cc_label", "t_cluster_action"):
        m[f"pipeline.{key}_s"] = float(pipeline_metrics[key])

    for df in (edges, scored, links, block_r, block_l, pairs, blocked, docs):
        df.unpersist(blocking=True)
    return m


def layer_metrics(outside: dict, walls: dict, log: EventLog, e2e_desc: str) -> dict:
    """Merge the outside-measured figures with the event-log counters."""
    m = dict(outside)
    for name in ("sources", "assemble", "blocking", "pairs", "linkage",
                 "scoring", "dedup"):
        m[f"{name}.wall_s"] = walls[name]
    rows_in = log.arrow_rows_in("scoring")
    m["scoring.rows_in"] = rows_in
    m["scoring.useful_ratio"] = m["scoring.rows_within_k"] / rows_in if rows_in else 0.0
    m["dedup.spine_rows"] = log.max_join_rows("dedup")
    m.update(log.task_totals(e2e_desc))
    m.update(log.plan_counts(e2e_desc))
    return m
