"""S1 gate: byte-identical extracted text per url (BASELINE.json input_hint).

Mirrors the reference's golden-output testing style (SURVEY §5) — the
distributed S1+S2 Arrow pass must equal the pure-Python oracles exactly.
"""

from __future__ import annotations

from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
    generate_pages,
    pages_spark_df,
)
from concept_hierarchy_formation_in_property_graphs_spark.functions.mentions import (
    compile_surface_regex,
    extract_mention_pairs_py,
    text_and_mention_pairs,
)
from concept_hierarchy_formation_in_property_graphs_spark.functions.text import (
    extract_text_py,
)
from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import (
    all_surfaces,
    phrase_map,
)


def _text_and_pairs(pages, n_entities=40):
    return text_and_mention_pairs(pages, all_surfaces(n_entities), phrase_map())


def test_extract_text_golden():
    html = (
        b"<html><head><script>x()</script><style>a{}</style></head>"
        b"<body><nav>menu</nav><h1>Title &amp; More</h1>"
        b"<!-- hidden --><p>Alpha  beta.</p><p>&#65;&#x42;</p>"
        b"<footer>foot</footer></body></html>"
    )
    assert extract_text_py(html) == "Title & More\nAlpha beta.\nAB"


def test_extract_text_none_and_str():
    assert extract_text_py(None) is None
    assert extract_text_py("<p>x</p>") == "x"


def test_pages_spark_df_rows_equal_generate_pages(spark):
    """The executor-side generator emits exactly the pure-Python oracle's
    rows, schema included, at any partitioning."""
    want, _, _ = generate_pages(60, 20, content_scale=3)

    def norm(rows):
        return sorted(
            (r.url, r.warc_ts.timestamp(), bytes(r.html), r.text, r.lang) for r in rows)

    for partitions in (None, 7):
        df = pages_spark_df(spark, 60, n_entities=20, partitions=partitions,
                            content_scale=3)
        assert df.schema.simpleString() == (
            "struct<url:string,warc_ts:timestamp,html:binary,text:string,lang:string>")
        assert norm(df.collect()) == norm(want.itertuples(index=False))


def test_distributed_extraction_byte_identical(spark):
    pages = pages_spark_df(spark, 150, n_entities=40, partitions=7)
    _, expected, _ = generate_pages(150, 40)
    rows = _text_and_pairs(pages).collect()
    got = {r["url"]: r["text"] for r in rows}
    exp = dict(zip(expected["url"], expected["text"]))
    assert set(got) == set(exp)
    mismatches = [u for u in exp if got[u] != exp[u]]
    assert mismatches == []
    # the pairs of the same pass equal the regex oracle over the oracle text
    rx = compile_surface_regex(all_surfaces(40))
    pm = phrase_map()
    for r in rows:
        want = [t[1:] for t in extract_mention_pairs_py(r["url"], exp[r["url"]], rx, pm)]
        assert [tuple(p) for p in r["pairs"]] == want, r["url"]


def test_wet_rows_pass_through_unchanged(spark):
    pages = pages_spark_df(spark, 80, n_entities=40)
    pre = {
        r["url"]: r["text"]
        for r in pages.where("text is not null").select("url", "text").collect()
    }
    assert pre, "fixture should contain some pre-extracted rows"
    post = {
        r["url"]: r["text"]
        for r in _text_and_pairs(pages).select("url", "text").collect()
    }
    for u, t in pre.items():
        assert post[u] == t
