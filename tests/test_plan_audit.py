"""Physical-plan regression gates for the headline queries.

The round-2 regression (kg_structural_features re-scanning the TPC-H
sources 24 times; dd_embedding_near_dup evaluating a multi-thousand-node
interpreted expression tree) was visible in .explain output long before it
showed in wall clock. These tests pin the plan properties that matter at
100 TB so they cannot silently regress:

  * no row-at-a-time Python UDFs (BatchEvalPython) anywhere,
  * no cartesian product without a broadcast,
  * source-scan counts bounded for the multi-branch kg_* family
    (the edge/intent tables are materialized once per session),
  * filters and column pruning actually reach the parquet scans.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

SF_DIR = "/root/testdata/sf0.001"

HEADLINE = [
    "q1_pricing_summary",
    "q_revenue_by_nation",
    "kg_record_triples",
    "kg_structural_features",
    "kg_concept_intents",
    "dd_lsh_near_dup_capped",
    "dd_embedding_near_dup",
    "sim_lsh_ann_multiprobe",
    "sim_ivf_ann",
    "ev_asof_last_purchase",
    "ev_proximity_pairs",
    "ev_sessions",
]


def _plan(spark, name: str) -> str:
    from concept_hierarchy_formation_in_property_graphs_spark import queries as q

    df = q.registry()[name](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", HEADLINE)
def test_no_scale_hazards(spark, name):
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if "CartesianProduct" in plan:
        assert "Broadcast" in plan, f"{name}: cartesian without broadcast"


def test_kg_family_scan_counts(spark):
    """The kg_* queries must read the materialized edge/intent tables, not
    re-derive them per plan branch: ≤5 file scans (was 24 in round 2)."""
    for name in ("kg_structural_features", "kg_concept_intents",
                 "kg_concept_parents", "kg_degrees"):
        plan = _plan(spark, name)
        n_scans = len(re.findall(r"ReadSchema:", plan))
        assert n_scans <= 5, f"{name}: {n_scans} file scans"


def test_projection_pruning_reaches_scan(spark):
    """A 2-column aggregate over lineitem must not read all 16 columns."""
    plan = _plan(spark, "q1_pricing_summary")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet scan in plan"
    for s in schemas:
        assert len(s.split(",")) <= 7, f"unpruned scan: {s}"


@pytest.mark.parametrize("name", [
    "tx_repetition_signals",
    "tx_stratified_sample",
    "tx_temperature_weights",
    "dd_decontaminate",
])
def test_corpus_hygiene_no_scale_hazards(spark, name):
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if "CartesianProduct" in plan:
        assert "Broadcast" in plan, f"{name}: cartesian without broadcast"


def test_decontaminate_broadcasts_bench_grams(spark):
    """The corpus side of the decontamination join must never be shuffled
    before its hit aggregate: the bench gram set is the build side of a
    BroadcastHashJoin, and the only Exchange below the aggregate is the
    doc_id-keyed one."""
    plan = _plan(spark, "dd_decontaminate")
    assert "BroadcastHashJoin" in plan, "bench gram set not broadcast"
    assert "SortMergeJoin" not in plan, "corpus grams shuffled for the join"


def test_ablation_intents_read_the_node_set_once(spark):
    """The label rows already reach every node (explode_outer), so the
    ablation intents aggregate the items alone: no join back onto a
    second node-set aggregate, and four reads of the checkpointed edge
    table (node ids from src and dst, Rel items from src and dst) instead
    of six."""
    plan = _plan(spark, "kg_ablation_label_char")
    assert "Join" not in plan, "node set joined back onto the intents"
    n_rdd = len(re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M))
    assert n_rdd == 4, f"{n_rdd} edge-table scans"


def test_aqe_splits_skewed_join_partitions(spark):
    """The session's AQE skew-join path actually fires: a join with one
    hot key (200k of 220k rows) must show SortMergeJoin(skew=true) in
    the FINAL adaptive plan — the runtime answer to head-entity skew in
    the neighbour joins of operators/features.py."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        a = spark.range(220_000).select(
            F.when(F.col("id") < 200_000, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("va"))
        b = spark.range(2_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("vb"))
        j = a.join(b, "k")
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
