"""Giant-lattice validation: build the concept hierarchy at ~10^5
concepts and verify the full tree-invariant suite + wall time.

The instance side (intent dedup, assignments) is distributed; the
concept table is collected once and the lattice is built on the driver
with bitset subsumption. This run is the evidence that the single engine
holds at lattice sizes far above the tested fixtures; its per-table row
count and sum(xxhash64) show whether two commits build the same tables.

Deterministic hub-heavy corpus (no RNG): 120k instances over a 40-item
alphabet, item popularity skewed quadratically toward the low indices
(hub items appear in most intents — the head-entity skew case the
rarest-item candidate lists exist for), intent size 1-12. Generated
executor-side from ``spark.range`` + md5 expressions, so the input itself
never touches the driver.

Usage: python tools/big_lattice.py [n_instances] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    out_json = sys.argv[2] if len(sys.argv) > 2 else ""

    from pyspark.sql import functions as F

    from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
        build_hierarchy,
        invariant_violations,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    spark = get_spark(app_name="chf-big-lattice")
    spark.sparkContext.setLogLevel("ERROR")

    # u = md5-uniform in [0,1); item index = floor(40*u^2) skews toward 0
    item = (
        "concat('a', cast(cast(40 * pow(conv(substring(md5(concat(id, ':', j)), 1, 6), 16, 10)"
        " / 16777216.0, 2) as double) as int))"
    )
    instances = (
        spark.range(n)
        .withColumn("k", (F.conv(F.substring(F.md5(F.concat_ws(":", "id")), 1, 4), 16, 10)
                          .cast("long") % 12 + 1).cast("int"))
        .select(
            F.col("id").cast("string").alias("instance_id"),
            F.expr(f"array_sort(array_distinct(transform(sequence(0, k - 1), j -> {item})))")
            .alias("intent"),
        )
        .repartition(64)
    )
    n_intents = instances.select("intent").distinct().count()  # also warms input

    t0 = time.time()
    h = build_hierarchy(instances)
    n_concepts = h["concepts"].count()
    h["assignments"].count()
    wall = round(time.time() - t0, 2)

    viol = invariant_violations(h["concepts"], h["assignments"])
    rec = {
        "instances": n,
        "distinct_intents": n_intents,
        "concepts": n_concepts,
        "wall_sec": wall,
        "violations": viol,
        "ok": all(v == 0 for v in viol.values()),
        # (rows, sum of row hashes) per table; a long sum overflows under ANSI
        "hashes": {
            k: h[k].agg(F.count("*"), F.sum(F.xxhash64(*h[k].columns).cast("decimal(38,0)"))
                        .cast("string")).first()
            for k in ("concepts", "assignments", "closure")
        },
    }
    print(json.dumps(rec))
    if out_json:
        with open(out_json, "w") as f:
            json.dump(rec, f)
    spark.stop()


if __name__ == "__main__":
    main()
