"""Repetition signals, stratified sampling, decontamination, PageRank —
semantics on crafted inputs (the DuckDB oracles cover the sf corpora)."""

from __future__ import annotations

from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.operators.dedup import decontaminate
from concept_hierarchy_formation_in_property_graphs_spark.operators.pagerank import pagerank
from concept_hierarchy_formation_in_property_graphs_spark.operators.sampling import (
    stratified_sample,
    temperature_weights,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.textstats import (
    repetition_signals,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_repetition_signals_hand_checked(spark):
    docs = _docs(spark, [
        "a b c a b c a b c",      # pure 3-cycle: every trigram repeats
        "a a a a b",              # run of 4 'a'; top bigram 'a a' x3
        "u v w x y z",            # no repetition at all
    ])
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}

    # doc 0: 7 trigrams, only 3 distinct ("a b c","b c a","c a b")
    assert rows[0]["dup_trigram_frac4"] == round(1 - 3 / 7, 4)
    # doc 0: 8 bigrams, most common appears 3x ("a b" / "b c") -> 2*3/9
    assert rows[0]["top_bigram_frac4"] == round(6 / 9, 4)
    assert rows[0]["max_token_run"] == 1

    assert rows[1]["max_token_run"] == 4
    assert rows[1]["top_bigram_frac4"] == round(2 * 3 / 5, 4)

    assert rows[2]["dup_trigram_frac4"] == 0.0
    assert rows[2]["max_token_run"] == 1


def test_repetition_signals_short_doc_guard(spark):
    # 2-token doc: no trigrams (guarded empty array, NOT a descending
    # sequence); bigram/run paths still emit
    docs = _docs(spark, ["x y"])
    row = repetition_signals(docs).collect()[0]
    assert row["dup_trigram_frac4"] == 0.0
    assert row["max_token_run"] == 1


def test_repetition_signals_keep_sub_bigram_docs(spark):
    """1-token and empty-text docs have NO bigrams — the aggregate-shaped
    signals emit no row for them, and an inner join would silently drop
    the docs from the signal table (and from every admission count
    downstream). They must survive with the semantically-true defaults:
    top-bigram coverage 0.0, longest run 1."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.textstats import (
        admission_signals,
    )

    docs = _docs(spark, ["solo", "", "x y"])
    rows = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert set(rows) == {0, 1, 2}, "short docs vanished from the signals"
    for d in (0, 1):
        assert rows[d]["top_bigram_frac4"] == 0.0
        assert rows[d]["max_token_run"] == 1
        assert rows[d]["dup_trigram_frac4"] == 0.0
    sig = admission_signals(docs)
    assert sig.count() == 3, "admission_signals dropped short docs"


def test_admission_signals_agree_with_single_signal_operators(spark):
    """The curation job reads quality, language and fingerprint from
    admission_signals' one fused select; they must equal the standalone
    operators row for row, on the edge shapes the formulas divide by."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.textstats import (
        admission_signals,
        fingerprints,
        language_id,
        quality_scores,
    )

    docs = _docs(spark, [
        "solo",                          # 1 token
        "the of and to",                 # stopwords only
        "spark spark data data spark",   # repeated tokens, no stopword
        "the cat and the hat",           # mixed, repeated stopword
    ])
    fused = {r["doc_id"]: (r["quality4"], r["lang_pred"], r["fingerprint"])
             for r in admission_signals(docs).collect()}
    single = {}
    for q, lang, fp in zip(
        sorted(quality_scores(docs).collect()),
        sorted(language_id(docs).collect()),
        sorted(fingerprints(docs).collect()),
    ):
        assert q["doc_id"] == lang["doc_id"] == fp["doc_id"]
        single[q["doc_id"]] = (q["quality4"], lang["lang_pred"], fp["fingerprint"])
    assert fused == single
    assert {v[1] for v in fused.values()} == {"en", "other"}


def test_stratified_sample_deterministic_and_capped(spark):
    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(40)], "doc_id long, source string"
    )
    a = stratified_sample(df, "source", k=5, id_col="doc_id")
    b = stratified_sample(df.repartition(7), "source", k=5, id_col="doc_id")
    rows_a = sorted((r["doc_id"], r["source"], r["pick_rank"]) for r in a.collect())
    rows_b = sorted((r["doc_id"], r["source"], r["pick_rank"]) for r in b.collect())
    assert rows_a == rows_b  # partitioning-independent
    per = {}
    for _, s, _ in rows_a:
        per[s] = per.get(s, 0) + 1
    assert per == {"s0": 5, "s1": 5, "s2": 5}


def test_temperature_weights_alpha_endpoints(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "doc_id long, source string",
    )
    flat = {r["source"]: r["weight6"] for r in
            temperature_weights(df, "source", alpha=0.0).collect()}
    assert flat["big"] == flat["small"] == 0.5  # alpha=0 -> uniform
    prop = {r["source"]: r["weight6"] for r in
            temperature_weights(df, "source", alpha=1.0).collect()}
    assert prop["big"] == 0.9 and prop["small"] == 0.1  # alpha=1 -> proportional


def test_decontaminate_flags_verbatim_overlap_only(spark):
    bench = _docs(spark, ["the secret eval answer is here today"])
    train = spark.createDataFrame(
        [
            (10, "prefix the secret eval answer is something"),  # 2 shared 4-grams
            (11, "answer eval secret the — same words reshuffled"),
            (12, "entirely unrelated training text goes right here"),
        ],
        "doc_id long, text string",
    )
    hits = {r["doc_id"]: r["n_hit_grams"] for r in
            decontaminate(train, bench, n=4).collect()}
    assert hits == {10: 2}  # order-sensitive: reshuffle (11) is clean


def test_pagerank_star_and_mass_conservation(spark):
    # star: a,b,c -> hub; hub dangling. Ranks must sum to 1 and hub must
    # dominate; leaf ranks equal by symmetry.
    edges = spark.createDataFrame(
        [("a", "r", "hub"), ("b", "r", "hub"), ("c", "r", "hub")],
        "src string, rel_type string, dst string",
    )
    pr = {r["id"]: r["rank"] for r in pagerank(edges, iters=10).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr["hub"] > pr["a"] == pr["b"] == pr["c"]


def test_pagerank_cycle_is_uniform(spark):
    edges = spark.createDataFrame(
        [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "a")],
        "src string, rel_type string, dst string",
    )
    pr = [r["rank"] for r in pagerank(edges, iters=7).collect()]
    assert all(abs(x - 1 / 3) < 1e-12 for x in pr)


def test_corpus_hygiene_empty_inputs_degenerate_gracefully(spark):
    """Empty corpora / empty graphs: no crash, empty results with the
    declared schemas — what a scheduled run over a quiet partition sees."""
    empty_docs = _docs(spark, [])
    assert repetition_signals(empty_docs).count() == 0
    assert decontaminate(empty_docs, empty_docs).count() == 0

    empty_strat = spark.createDataFrame([], "doc_id long, source string")
    assert stratified_sample(empty_strat, "source", k=3).count() == 0
    assert temperature_weights(empty_strat, "source").count() == 0

    empty_edges = spark.createDataFrame(
        [], "src string, rel_type string, dst string")
    pr = pagerank(empty_edges, iters=2)
    assert pr.count() == 0
    assert [f.name for f in pr.schema.fields] == ["id", "rank"]


def test_decontaminate_bench_only_grams_do_not_self_flag(spark):
    """A benchmark doc must not flag itself through the training side when
    the same doc_id space overlaps — callers pass disjoint frames, and
    the operator never joins on doc_id, only on gram text."""
    bench = _docs(spark, ["alpha beta gamma delta epsilon"])
    train = _docs(spark, ["zeta eta theta iota kappa"])
    assert decontaminate(train, bench, n=4).count() == 0


def test_admission_funnel_is_monotone(spark):
    """Each curation stage can only shrink the survivor set, and the
    stage order is fixed."""
    from concept_hierarchy_formation_in_property_graphs_spark import queries as q

    rows = sorted(
        q.registry()["tx_admission_funnel"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["stage_no"],
    )
    assert [r["stage"] for r in rows] == [
        "corpus", "quality", "language", "exact_dedup",
        "repetition", "decontaminated",
    ]
    counts = [r["n_docs"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert counts[0] > 0


def test_tfidf_keywords_rank_distinctive_terms_first(spark):
    from concept_hierarchy_formation_in_property_graphs_spark.operators.textstats import (
        tfidf_keywords,
    )

    docs = _docs(spark, [
        "common common rare1 rare1 rare1",
        "common unique2",
        "common filler filler",
    ])
    rows = {(r["doc_id"], r["krank"]): r for r in
            tfidf_keywords(docs, k=2).collect()}
    # doc 0's top keyword is its exclusive high-tf term, never the
    # corpus-wide 'common' (idf = ln(1) = 0)
    assert rows[(0, 1)]["keyword"] == "rare1"
    assert rows[(1, 1)]["keyword"] == "unique2"
    assert rows[(0, 1)]["tfidf4"] > rows[(0, 2)]["tfidf4"]
    common = [r for r in rows.values() if r["keyword"] == "common"]
    assert all(r["tfidf4"] == 0.0 for r in common)
