"""The SQL surface: query views compose under LazyCatalog.sql."""

from __future__ import annotations

import pytest

from concept_hierarchy_formation_in_property_graphs_spark.sql_catalog import (
    LazyCatalog,
)

SF_DIR = "/root/testdata/sf0.001"


def test_catalog_views_compose_in_sql(spark):
    cat = LazyCatalog(
        spark, SF_DIR,
        include=["kg_degrees", "kg_pagerank", "tx_quality_scores",
                 "q_top2_orders_per_customer"],
    )
    assert len(cat.pending) == 4

    # plain view read
    assert cat.sql("SELECT * FROM tx_quality_scores").count() > 0

    # view ⋈ view composition with user SQL on top
    top = cat.sql("""
        SELECT p.id, p.scaled_rank4, d.deg
        FROM kg_pagerank p JOIN kg_degrees d ON p.id = d.id
        ORDER BY p.scaled_rank4 DESC, p.id LIMIT 5
    """).collect()
    assert len(top) == 5
    # high PageRank on this graph concentrates on hub entities (nations
    # have huge in-degree); the top-ranked node must be a heavy hub
    assert top[0]["deg"] > 100

    # view ⋈ raw table: the catalog registers both layers
    joined = cat.sql("""
        SELECT count(*) AS n
        FROM q_top2_orders_per_customer t JOIN customer c
          ON t.o_custkey = c.c_custkey
    """).collect()[0]["n"]
    assert joined > 0


def test_lazy_catalog_defers_builders_until_referenced(spark):
    """LazyCatalog registers the FULL query surface at zero builder cost;
    a view's builder (incl. the driver-coordinated ones like pagerank's
    iteration loop) runs only when a sql() statement first names it."""
    from concept_hierarchy_formation_in_property_graphs_spark import queries as q

    spark.catalog.dropTempView("kg_pagerank")  # isolate from other tests
    cat = LazyCatalog(spark, SF_DIR)
    assert set(cat.pending) == set(q.registry())
    assert cat.built == []
    # full-surface registration must not run any builder: the pending
    # views' temp views do not exist yet (running every builder takes
    # minutes)
    assert not spark.catalog.tableExists("kg_pagerank")

    rows = cat.sql("""
        SELECT p.id, p.scaled_rank4, d.deg
        FROM kg_pagerank p JOIN kg_degrees d ON p.id = d.id
        ORDER BY p.scaled_rank4 DESC, p.id LIMIT 3
    """).collect()
    assert len(rows) == 3
    assert set(cat.built) == {"kg_pagerank", "kg_degrees"}
    assert "kg_concept_hierarchy" in cat.pending  # untouched stays unbuilt

    # built views persist as ordinary temp views (no rebuild on reuse)
    before = set(cat.built)
    assert cat.sql("SELECT count(*) AS n FROM kg_degrees").collect()[0]["n"] > 0
    assert set(cat.built) == before
    # and raw tables are queryable without touching any view
    assert cat.sql("SELECT count(*) AS n FROM nation").collect()[0]["n"] == 25


def test_view_filter_pushes_into_parquet_scan(spark):
    """User SQL on top of a catalog view fuses with the view's plan:
    a doc_id filter written OVER the view must reach the parquet scan's
    PushedFilters — the view is the same lazy plan, not a materialized
    boundary."""
    import io
    from contextlib import redirect_stdout

    cat = LazyCatalog(spark, SF_DIR, include=["tx_quality_scores"])
    df = cat.sql("SELECT * FROM tx_quality_scores WHERE doc_id = 7")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "EqualTo(doc_id,7)" in plan, "filter did not push through the view"
    assert "struct<doc_id:bigint,text:string>" in plan  # pruned scan


def test_failed_builder_stays_pending_and_retries(spark):
    """ADVICE r4: a builder that raises must NOT be consumed — the view
    stays pending, the original error surfaces on every attempt, and a
    fixed builder (here: flaky-once) succeeds on retry."""
    cat = LazyCatalog(spark, SF_DIR, include=["kg_degrees"])
    calls = {"n": 0}
    real = cat._pending["kg_degrees"]

    def flaky_once(s, sf):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient builder failure")
        return real(s, sf)

    cat._pending["kg_degrees"] = flaky_once
    with pytest.raises(RuntimeError, match="transient builder failure"):
        cat.sql("SELECT count(*) FROM kg_degrees")
    assert "kg_degrees" in cat.pending and "kg_degrees" not in cat.built
    # retry runs the builder again and succeeds
    assert cat.sql("SELECT count(*) AS n FROM kg_degrees").collect()[0]["n"] > 0
    assert "kg_degrees" in cat.built
