"""Generate committed golden parquet snapshots for the Python pipeline
stages (S1 text, S1→S3 triples, open-vocabulary triples) on the
deterministic pages fixture.

The stages are not SQL-expressible (one Arrow-batched ``mapInArrow`` pass
for HTML stripping + mention detection, iterative connected components),
so their oracle is a STORED-GOLDEN comparison: this script runs each
``pl_*`` query, which reads a stage output of ``run_pipeline``, and writes
the result as one parquet file under
``concept_hierarchy_formation_in_property_graphs_spark/fixtures/golden/``
(committed to git); the DuckDB twin just reads the golden. The fixture is
fully deterministic, so any drift in extraction, mention detection,
linking, the stage wiring or the Arrow plumbing changes the value hash.

Regenerate ONLY after an intentional semantic change to those stages:

    python tools/gen_goldens.py

then review the diff (row count + spot-check) before committing.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "concept_hierarchy_formation_in_property_graphs_spark",
    "fixtures",
    "golden",
)


def main() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from concept_hierarchy_formation_in_property_graphs_spark import queries as q
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    spark = get_spark(app_name="chf-goldens")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    reg = q.registry()
    for name in ("pl_extracted_text", "pl_triples", "pl_open_vocab_triples"):
        df = reg[name](spark, "/root/testdata/sf0.01")
        pdf = df.toPandas().sort_values(list(df.columns)).reset_index(drop=True)
        path = os.path.join(GOLDEN_DIR, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
        print(f"wrote {path}: {len(pdf)} rows")


if __name__ == "__main__":
    main()
