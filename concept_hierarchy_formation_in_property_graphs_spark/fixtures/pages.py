"""Deterministic Common-Crawl-style ``pages`` fixture (FIXTURES.md §1).

Schema per BASELINE.json input_hint:
    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

Pages embed 0-8 planted entity mentions from a closed gazetteer with aliased
surface forms, wrapped in relation-pattern sentences, wrapped in HTML
boilerplate (nav/script/style/footer) the extractor must strip. ~2% of
entities are hubs appearing in ~20% of relation slots — this plants the
head-entity skew the north rule requires the joins to survive.

Everything derives from ``random.Random(doc_id * 1000003 + seed)`` so the
corpus is reproducible at any scale with no external data. The generator also
emits the planted ground truth (canonical triples + expected extracted text)
used by the pytest P/R gate.

Mirrors the role of the reference's synthetic generator
(`src/main/java/generator/SyntheticNodeGenerator.java:30-66`) — closed
vocabulary, seeded noise, ground truth emitted alongside.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field

import pandas as pd

from ..functions.text import extract_text_py

KINDS = ("ORG", "PERSON", "CITY", "PRODUCT", "UNIV")
PAGES_SEED = 42  # the corpus seed of generate_pages and pages_spark_df

# (subject kind, phrase, object kind, predicate)
RELATION_PATTERNS = (
    ("ORG", "is headquartered in", "CITY", "HEADQUARTERED_IN"),
    ("PERSON", "works at", "ORG", "WORKS_AT"),
    ("ORG", "acquired", "ORG", "ACQUIRED"),
    ("UNIV", "is located in", "CITY", "LOCATED_IN"),
    ("PERSON", "studied at", "UNIV", "STUDIED_AT"),
    ("ORG", "manufactures", "PRODUCT", "MANUFACTURES"),
)

_FILLER_WORDS = (
    "the pipeline processes streams of records while partitions rebalance "
    "and executors exchange shuffle blocks under adaptive planning"
).split()


@dataclass(frozen=True)
class Entity:
    entity_id: int
    kind: str
    canonical: str
    surfaces: tuple[str, ...] = field(default_factory=tuple)


def _entity(k: int) -> Entity:
    kind = KINDS[k % len(KINDS)]
    if kind == "ORG":
        canon = f"Acme{k} Corporation"
        surfaces = (canon, f"Acme{k} Corp.", f"Acme{k}")
    elif kind == "PERSON":
        canon = f"Alice{k} Smithson{k}"
        surfaces = (canon, f"A. Smithson{k}", f"Smithson{k}")
    elif kind == "CITY":
        canon = f"Springfield{k} City"
        surfaces = (canon, f"Springfield{k}")
    elif kind == "PRODUCT":
        canon = f"Widget{k} Pro"
        surfaces = (canon, f"Widget{k}")
    else:  # UNIV
        canon = f"University of Konstanz{k}"
        surfaces = (canon, f"Konstanz{k} Univ.", f"Konstanz{k} University")
    return Entity(k, kind, canon, surfaces)


def make_gazetteer(n_entities: int = 500) -> list[Entity]:
    return [_entity(k) for k in range(n_entities)]


def _pick_entity(rng: random.Random, by_kind: dict[str, list[Entity]], kind: str, n_hubs: int) -> Entity:
    """Hub-skewed pick: ~20% of slots go to the first ``n_hubs`` entities."""
    pool = by_kind[kind]
    hubs = [e for e in pool if e.entity_id < n_hubs]
    if hubs and rng.random() < 0.20:
        return rng.choice(hubs)
    return rng.choice(pool)


_HTML_TEMPLATE = """<html><head><title>Doc {doc_id}</title>
<style>body {{ font: 12px sans; }}</style>
<script>var tracker = "{doc_id}"; load();</script></head>
<body>
<nav><ul><li><a href="/">Home</a></li><li><a href="/about">About &amp; Contact</a></li></ul></nav>
<header><h1>Archive entry {doc_id}</h1></header>
<!-- crawler boilerplate {doc_id} -->
<div id="main">
{body}
</div>
<aside>Related links &nbsp; tracking id {doc_id}</aside>
<footer>&copy; example.org &mdash; all rights reserved</footer>
</body></html>"""


def generate_page(doc_id: int, gaz: list[Entity], n_hubs: int,
                  seed: int = PAGES_SEED, content_scale: int = 1):
    """Return (row dict, list of planted canonical triples).

    ``content_scale`` multiplies the page body (relation sentences + filler
    paragraphs + extra boilerplate) so benchmark corpora can match real
    Common-Crawl page sizes (~30-100 KB html) while tests stay small.
    """
    rng = random.Random(doc_id * 1000003 + seed)
    by_kind: dict[str, list[Entity]] = {}
    for e in gaz:
        by_kind.setdefault(e.kind, []).append(e)

    lang = "en" if rng.random() < 0.95 else rng.choice(["de", "xx"])
    n_rel = rng.randint(0, 4 * content_scale)
    paragraphs: list[str] = []
    triples: list[tuple[str, str, str]] = []
    for _ in range(n_rel):
        skind, phrase, okind, pred = rng.choice(RELATION_PATTERNS)
        subj = _pick_entity(rng, by_kind, skind, n_hubs)
        obj = _pick_entity(rng, by_kind, okind, n_hubs)
        if subj.entity_id == obj.entity_id:
            continue
        ssurf = rng.choice(subj.surfaces)
        osurf = rng.choice(obj.surfaces)
        filler = " ".join(
            rng.choice(_FILLER_WORDS)
            for _ in range(rng.randint(3 * content_scale, 8 * content_scale))
        )
        paragraphs.append(f"<p>{ssurf} {phrase} {osurf}.</p>")
        paragraphs.append(f"<p>{filler.capitalize()}.</p>")
        if content_scale > 1:
            # per-paragraph ad/tracker boilerplate the extractor must strip
            paragraphs.append(
                f"<script>track({doc_id},{len(paragraphs)});</script>"
                f"<aside>promo {rng.randint(0, 9)} related items</aside>"
            )
        if lang == "en":
            triples.append((subj.canonical, pred, obj.canonical))
    body = "\n".join(paragraphs) if paragraphs else "<p>Empty archive record.</p>"
    html = _HTML_TEMPLATE.format(doc_id=doc_id, body=body).encode("utf-8")
    url = f"https://site{doc_id % 101}.example/{KINDS[doc_id % 5].lower()}/{doc_id}"
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(seconds=37 * doc_id)
    # 40% of rows arrive with text pre-extracted (the WET case); the rest
    # force the extraction path.
    text = extract_text_py(html) if rng.random() < 0.4 else None
    row = {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}
    return row, triples


def generate_pages(n_pages: int, n_entities: int = 500, content_scale: int = 1):
    """Returns (pages pandas.DataFrame, expected_text df, expected_triples df).

    expected_triples is the DISTINCT set of planted canonical triples over
    English pages — the pipeline's P/R gate. expected_text has the oracle
    extraction for every url (byte-identity gate).
    """
    gaz = make_gazetteer(n_entities)
    n_hubs = max(1, n_entities // 50)
    rows, texts, all_triples = [], [], set()
    for i in range(n_pages):
        row, triples = generate_page(i, gaz, n_hubs, PAGES_SEED, content_scale)
        rows.append(row)
        texts.append({"url": row["url"], "text": extract_text_py(row["html"])})
        all_triples.update(triples)
    pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    expected_text = pd.DataFrame(texts, columns=["url", "text"])
    expected_triples = pd.DataFrame(
        sorted(all_triples), columns=["subj", "pred", "obj"]
    )
    return pages, expected_text, expected_triples


PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def pages_spark_df(spark, n_pages: int, n_entities: int = 500,
                   partitions: int | None = None, content_scale: int = 1):
    """The fixture as a Spark DataFrame with the contract schema, generated
    ON THE EXECUTORS.

    spark.range drives doc_ids over ``partitions`` (default: the default
    parallelism); each Arrow batch synthesizes its pages with the same
    deterministic per-doc RNG as :func:`generate_pages`, so the rows equal
    ``generate_pages(...)[0]`` at any parallelism — but the driver never
    materializes the corpus (a 10^12-row fixture is just a bigger range)."""
    n_parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        gaz = make_gazetteer(n_entities)
        n_hubs = max(1, n_entities // 50)
        for pdf in batches:
            rows = [
                generate_page(int(i), gaz, n_hubs, PAGES_SEED, content_scale)[0]
                for i in pdf["id"]
            ]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return (
        spark.range(0, n_pages, numPartitions=n_parts)
        .mapInPandas(gen, schema=PAGES_SCHEMA_DDL)
    )


def expected_triples_for(n_pages: int, n_entities: int = 500,
                         seed: int = PAGES_SEED, content_scale: int = 1):
    """Planted-truth triples without materializing page bodies (P/R gate
    for corpus-scale runs)."""
    gaz = make_gazetteer(n_entities)
    n_hubs = max(1, n_entities // 50)
    out: set[tuple[str, str, str]] = set()
    for i in range(n_pages):
        _, triples = generate_page(i, gaz, n_hubs, seed, content_scale)
        out.update(triples)
    return out
