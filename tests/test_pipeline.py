"""End-to-end gates (north rule): triple P/R >= 0.95 vs planted truth,
tree invariants, determinism across partition counts, checkpoint resume
with identical final output.

One full pipeline run is shared across the P/R and resume tests (module
fixture); determinism uses a smaller corpus at two partition counts.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

import pytest

from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
    generate_pages,
    pages_spark_df,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
    invariant_violations,
)
from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import (
    run_pipeline,
)

N_PAGES = 120
N_ENT = 60


def _catalog_tables(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


@pytest.fixture(scope="module")
def pipeline_run(spark):
    wd = tempfile.mkdtemp(prefix="chf_e2e_")
    pages = pages_spark_df(spark, N_PAGES, n_entities=N_ENT)
    tables_before = _catalog_tables(spark)
    out = run_pipeline(spark, pages, wd, n_entities=N_ENT)
    yield wd, out, tables_before
    shutil.rmtree(wd, ignore_errors=True)


def test_pipeline_precision_recall_and_invariants(spark, pipeline_run):
    _, out, tables_before = pipeline_run
    # checkpoints are read back by path: the run registers no catalog tables
    assert _catalog_tables(spark) == tables_before
    _, _, expected = generate_pages(N_PAGES, N_ENT)
    got = set(map(tuple, out["triples"].collect()))
    exp = set(map(tuple, expected.itertuples(index=False)))
    tp = len(got & exp)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(exp), 1)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    assert invariant_violations(out["concepts"], out["assignments"]) == {
        "dup_instance": 0,
        "assign_to_inner": 0,
        "orphans": 0,
        "partition_counts": 0,
    }
    # leaf-count invariant (ProcTest L134): every graph node assigned once
    assert out["assignments"].count() == out["nodes"].count()


def test_resume_after_partial_failure_identical_output(spark, pipeline_run):
    wd, out1, _ = pipeline_run
    final1 = sorted(map(tuple, out1["concepts"].drop("intent").collect()))
    # simulate a crash after S5: wipe the last two stages
    shutil.rmtree(wd + "/s6_concepts")
    shutil.rmtree(wd + "/s6_assignments")
    pages = pages_spark_df(spark, N_PAGES, n_entities=N_ENT)
    out2 = run_pipeline(spark, pages, wd, n_entities=N_ENT)
    resumed = {m["stage"] for m in out2["metrics"] if m.get("resumed")}
    assert "s1_text" in resumed and "s3_triples" in resumed
    assert "s6_concepts" not in resumed  # was wiped -> recomputed
    final2 = sorted(map(tuple, out2["concepts"].drop("intent").collect()))
    assert final1 == final2
    # per-partition lineage exists for recomputed stages
    assert os.path.exists(wd + "/s6_concepts/_lineage.json")


def test_stage_without_metrics_is_rebuilt(spark, pipeline_run):
    """``_metrics.json`` is the commit marker: a stage dir without it (a
    kill after the snapshot landed) is rebuilt, not resumed, and the
    final hierarchy is unchanged. Earlier tests rewrite fixture stage
    dirs, so fresh handles come from an all-resumed re-run."""
    wd, _, _ = pipeline_run
    pages = pages_spark_df(spark, N_PAGES, n_entities=N_ENT)
    out1 = run_pipeline(spark, pages, wd, n_entities=N_ENT)
    final1 = sorted(map(tuple, out1["concepts"].drop("intent").collect()))
    os.remove(os.path.join(wd, "s6_concepts", "_metrics.json"))
    out2 = run_pipeline(spark, pages, wd, n_entities=N_ENT)
    resumed = {m["stage"] for m in out2["metrics"] if m.get("resumed")}
    assert "s6_concepts" not in resumed
    assert "s6_assignments" in resumed and "s5_char_sets" in resumed
    final2 = sorted(map(tuple, out2["concepts"].drop("intent").collect()))
    assert final1 == final2
    assert os.path.exists(os.path.join(wd, "s6_concepts", "_metrics.json"))
    assert not [d for d in os.listdir(wd) if d.startswith("_tmp_")]


def test_failed_build_leaves_no_trusted_snapshot(spark):
    """A build whose write raises never touches ``<name>``: a fresh stage
    stays absent, an uncommitted leftover stays byte-for-byte as it was,
    neither counts as complete, and the next run commits normally."""
    from pyspark.sql import functions as F

    from concept_hierarchy_formation_in_property_graphs_spark.plans.checkpoint import (
        StageRunner,
    )

    def failing():
        return spark.range(20).select(
            F.when(F.col("id") < 100, F.raise_error(F.lit("boom")))
            .otherwise(F.col("id")).alias("id")
        )

    def snapshot(d):
        return {p.name: p.read_bytes() for p in sorted(Path(d).iterdir())}

    wd = tempfile.mkdtemp(prefix="chf_fail_")
    try:
        StageRunner(spark, wd).stage("left", lambda: spark.range(5))
        left = os.path.join(wd, "left")
        os.remove(os.path.join(left, "_metrics.json"))  # uncommitted leftover
        before = snapshot(left)

        runner = StageRunner(spark, wd)
        for name in ("left", "fresh"):
            with pytest.raises(Exception, match="boom"):
                runner.stage(name, failing)
            assert not runner.is_complete(name)
        assert snapshot(left) == before
        assert not os.path.exists(os.path.join(wd, "fresh"))

        runner = StageRunner(spark, wd)
        for name in ("left", "fresh"):
            df = runner.stage(name, lambda: spark.range(7))
            assert sorted(r.id for r in df.collect()) == list(range(7))
            assert runner.is_complete(name)
        assert not any(m["resumed"] for m in runner.metrics)
        assert not [d for d in os.listdir(wd) if d.startswith("_tmp_")]
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_pipeline_deterministic_across_partition_counts(spark):
    wd1 = tempfile.mkdtemp(prefix="chf_det1_")
    wd2 = tempfile.mkdtemp(prefix="chf_det2_")
    try:
        p1 = pages_spark_df(spark, 60, n_entities=40, partitions=3)
        p2 = pages_spark_df(spark, 60, n_entities=40, partitions=17)
        t1 = sorted(map(tuple, run_pipeline(spark, p1, wd1, n_entities=40)["triples"].collect()))
        t2 = sorted(map(tuple, run_pipeline(spark, p2, wd2, n_entities=40)["triples"].collect()))
        assert t1 == t2
    finally:
        shutil.rmtree(wd1, ignore_errors=True)
        shutil.rmtree(wd2, ignore_errors=True)


def test_open_vocab_canonicalization(spark):
    """Out-of-gazetteer surfaces flow through MinHash-LSH + CC and collapse
    aliases to one canonical form (the north-star S3 path)."""
    wd = tempfile.mkdtemp(prefix="chf_ov_")
    try:
        # pages embed 60 entities; the pipeline only knows the first 45
        # (240 pages keep every unknown entity observed with both aliases
        # while halving this — the suite's slowest — test's wall time)
        pages = pages_spark_df(spark, 240, n_entities=60)
        out = run_pipeline(spark, pages, wd, n_entities=45, open_vocab=True,
                           mention_entities=60)
        links = {r["surface"]: r["canonical"]
                 for r in spark.read.parquet(wd + "/s3_links").collect()}
        # some unknown entity with both long aliases seen in the corpus
        # must collapse to one canonical via CC
        candidates = [
            (f"Acme{k} Corporation", f"Acme{k} Corp.") for k in range(45, 60)
        ] + [
            (f"Konstanz{k} University", f"Konstanz{k} Univ.") for k in range(45, 60)
        ]
        pairs = [(a, b) for a, b in candidates if a in links and b in links]
        assert pairs, "corpus too small: no unknown alias pair observed"
        for a, b in pairs:
            assert links[a] == links[b], (a, b)
        # known entities keep their gazetteer canonical
        assert links["Acme0 Corp."] == "Acme0 Corporation"
        # triples still flow and reference canonical forms only
        triples = out["triples"]
        assert triples.count() > 0
        surf = {r["canonical"] for r in spark.read.parquet(wd + "/s3_links").collect()}
        bad = triples.where(~triples.subj.isin(list(surf))).count()
        assert bad == 0
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_pipeline_orc_format_end_to_end_with_resume(spark):
    """The StageRunner writer is format-agnostic (Iceberg at cluster
    scale); prove the non-parquet seam actually works by running the full
    pipeline on ORC: same triples as parquet, footer lineage populated,
    and stage resume honoured after wiping the last stage."""
    wd = tempfile.mkdtemp(prefix="chf_orc_")
    try:
        pages = pages_spark_df(spark, 60, n_entities=30)
        out = run_pipeline(spark, pages, wd, n_entities=30, fmt="orc")
        got = set(map(tuple, out["triples"].collect()))
        assert got, "orc pipeline produced no triples"
        # lineage counters came from ORC footers, not parquet
        import glob
        import json

        lineage_files = glob.glob(os.path.join(wd, "*", "_lineage.json"))
        assert lineage_files
        rows = sum(
            n
            for lf in lineage_files
            for _, n in json.load(open(lf))["files"]
        )
        assert rows > 0
        assert glob.glob(os.path.join(wd, "s3_triples", "part-*.orc"))

        wdp = tempfile.mkdtemp(prefix="chf_par_")
        try:
            out_p = run_pipeline(spark, pages, wdp, n_entities=30)
            assert got == set(map(tuple, out_p["triples"].collect()))
        finally:
            shutil.rmtree(wdp, ignore_errors=True)

        shutil.rmtree(os.path.join(wd, "s6_concepts"))
        out2 = run_pipeline(spark, pages, wd, n_entities=30, fmt="orc")
        resumed = [m["stage"] for m in out2["metrics"] if m.get("resumed")]
        assert "s3_triples" in resumed and "s6_concepts" not in resumed
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def test_iceberg_read_surfaces_real_error_without_fallback(spark):
    """No Iceberg jar in the sandbox: read_pages must chain the REAL
    loader failure (not swallow it) when no parquet fallback exists, and
    still fall back cleanly when one does."""
    from concept_hierarchy_formation_in_property_graphs_spark.sources.tables import (
        read_pages,
    )

    with pytest.raises(RuntimeError, match="Iceberg read") as ei:
        read_pages(spark, iceberg_table="db.pages")
    assert ei.value.__cause__ is not None  # the Spark loader error is chained
