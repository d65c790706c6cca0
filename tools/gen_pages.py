"""Write a pages fixture parquet at corpus scale (distributed generation).

Usage: python tools/gen_pages.py <n_pages> <n_entities> <content_scale> <out_path>
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_pages, n_entities, content_scale = (int(a) for a in sys.argv[1:4])
    out_path = sys.argv[4]

    from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
        pages_spark_df,
    )
    from concept_hierarchy_formation_in_property_graphs_spark.session import get_spark

    spark = get_spark(app_name="chf-gen")
    spark.sparkContext.setLogLevel("ERROR")
    df = pages_spark_df(
        spark, n_pages, n_entities=n_entities, content_scale=content_scale,
        partitions=128,
    )
    df.write.mode("overwrite").parquet(out_path)
    spark.stop()


if __name__ == "__main__":
    main()
