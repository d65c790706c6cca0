"""SurfaceMatcher must be span-for-span identical to the regex oracle."""

from __future__ import annotations

from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
    generate_pages,
)
from concept_hierarchy_formation_in_property_graphs_spark.functions.mentions import (
    SurfaceMatcher,
    compile_surface_regex,
    extract_mention_pairs_py,
)
from concept_hierarchy_formation_in_property_graphs_spark.functions.text import (
    extract_text_py,
)
from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import (
    all_surfaces,
    phrase_map,
)


def _spans(matcher, line):
    if hasattr(matcher, "by_first"):
        return list(matcher.finditer(line))
    return [(m.start(), m.end(), m.group(0)) for m in matcher.finditer(line)]


def test_matcher_equals_regex_on_edge_cases():
    surfaces = ("Acme0 Corporation", "Acme0 Corp.", "Acme0", "A. Smithson5",
                "Smithson5", "Widget3")
    rx = compile_surface_regex(surfaces)
    mt = SurfaceMatcher(surfaces)
    lines = [
        "Acme0 Corporation bought Acme0 Corp. yesterday",
        "Acme0Corporation is one word so only no match on Acme0x",
        "A. Smithson5 met Smithson5 at (Acme0) today.",
        "ends with Widget3.",
        "Widget3",
        "",
        "punctuation:Acme0,then Smithson5;done",
        "overlap A. Smithson5Smithson5 trailing",
    ]
    for line in lines:
        assert _spans(mt, line) == _spans(rx, line), line


def test_matcher_equals_regex_on_fixture_corpus():
    pages, _, _ = generate_pages(80, 60, content_scale=3)
    surfaces = all_surfaces(60)
    rx = compile_surface_regex(surfaces)
    mt = SurfaceMatcher(surfaces)
    pm = phrase_map()
    for url, html in zip(pages["url"], pages["html"]):
        text = extract_text_py(html)
        assert extract_mention_pairs_py(url, text, rx, pm) == \
            extract_mention_pairs_py(url, text, mt, pm)
        for line in text.split("\n"):
            assert _spans(mt, line) == _spans(rx, line)


def test_first_word_scan_keeps_every_match():
    """The trie scan reports a word start only when its whole word is a
    first word, so a line with none costs no Python step: a key seen once,
    a key fused into a longer word run on either side, a key right after
    punctuation and a key-free line all match the regex oracle span for
    span."""
    surfaces = ("Acme5", "Acme5 Corp.", "Widget7 Pro", "Springfield2")
    rx = compile_surface_regex(surfaces)
    mt = SurfaceMatcher(surfaces)
    lines = [
        "only one key: Widget7 Pro here",
        "Acme5x and xAcme5 and Acme5_ are single words",
        "fused Acme5x but then Springfield2",
        "(Acme5),Springfield2;[Widget7 Pro]",
        "punctuation:Acme5 Corp.!",
        "no gazetteer word on this line",
        "Widget7",
    ]
    expected_hits = [1, 0, 1, 3, 1, 0, 0]
    for line, hits in zip(lines, expected_hits):
        spans = _spans(mt, line)
        assert spans == _spans(rx, line), line
        assert len(spans) == hits, line
