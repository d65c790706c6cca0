"""Physical-plan audit: dump .explain("formatted") for the headline queries
and flag scale hazards — missing pushdown, full-column scans, unexpected
cartesian products, missing broadcasts, Python row-at-a-time UDFs.

Usage: python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = [
    "q1_pricing_summary",
    "q_revenue_by_nation",
    "kg_record_triples",
    "kg_structural_features",
    "kg_characteristic_sets",
    "kg_ablation_label_char",
    "kg_ablation_label_struct",
    "kg_concept_intents",
    "dd_lsh_near_dup_capped",
    "dd_embedding_near_dup",
    "tx_quality_scores",
    "sim_cosine_topk",
    "sim_ivf_ann",
    "sim_lsh_ann_multiprobe",
    "ev_sessions",
    "ev_asof_last_purchase",
    "ev_proximity_pairs",
    "ev_rollup_daily",
    "q_cube_returns",
    "tx_quality_filter",
    "q_deterministic_sample",
    "tx_repetition_signals",
    "tx_stratified_sample",
    "dd_decontaminate",
]


def audit_plan(name: str, plan: str) -> list[str]:
    notes = []
    if "CartesianProduct" in plan and "Broadcast" not in plan:
        notes.append("HAZARD: cartesian product without broadcast")
    if "BatchEvalPython" in plan:
        notes.append("HAZARD: row-at-a-time Python UDF in plan")
    n_codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    # one numbered detail header per plan node; a ReusedExchange is no new one
    nodes = re.findall(r"^\(\d+\) (.+?)\s*$", plan, re.M)
    scans = re.findall(r"ReadSchema: (.*)", plan)
    # scans of localCheckpointed inputs (the kg_* edge table) carry no ReadSchema
    notes.append(
        f"codegen spans={n_codegen} shuffles={nodes.count('Exchange')} "
        f"broadcasts={nodes.count('BroadcastExchange')} scans={len(scans)} "
        f"rdd_scans={nodes.count('Scan ExistingRDD')} "
        f"python_evals={nodes.count('ArrowEvalPython')}"
    )
    for s in scans:
        notes.append(f"  ReadSchema: {s[:140]}")
    for pf in re.findall(r"PushedFilters: (.*)", plan):
        if pf.strip() not in ("[]",):
            notes.append(f"  PushedFilters: {pf[:140]}")
    return notes


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or AUDIT

    from concept_hierarchy_formation_in_property_graphs_spark import queries as q
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    spark = get_spark(app_name="chf-explain")
    spark.sparkContext.setLogLevel("ERROR")
    reg = q.registry()
    for name in names:
        df = reg[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        print(f"===== {name} =====")
        for n in audit_plan(name, plan):
            print(n)
        if os.environ.get("EXPLAIN_FULL"):
            print(plan)
        print()


if __name__ == "__main__":
    main()
