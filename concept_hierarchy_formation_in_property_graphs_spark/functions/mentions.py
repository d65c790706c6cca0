"""S1+S2 — text extraction, then trie/gazetteer mention detection and
relation-pattern matching, in ONE Arrow pass (``mapInArrow``).

Each page crosses into Python once. The pass receives ``url``, ``text``
and ``CASE WHEN text IS NULL THEN html END``: pages that already carry
text (the Common-Crawl WET case) send no html bytes and skip extraction.
For every page it emits the text and the page's mention pairs as an
``array<struct<subj_surface, pred, obj_surface>>``; S2 is then a JVM
``explode`` (:func:`explode_pairs`). Every Python task costs a fixed
~0.3 s of worker set-up on a 4-vCPU host (BASELINE.md "One Python pass"),
so one pass instead of two also halves that.

The gazetteer is compiled once per executor into a :class:`SurfaceMatcher`
(regex-identical semantics, one C-level scan for first words); the pure
functions :func:`~.text.extract_text_py` and
:func:`extract_mention_pairs_py` are shared with the pytest oracles.

This is the graft of the reference's record→typed-edges emission
(`src/main/cypher/load_yelp.cql:1-111`) onto free text: pattern predicates
between adjacent mentions produce (subj_surface, pred, obj_surface).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import extract_text_py

# module-level per-executor cache: gazetteer fingerprint -> compiled matcher
_REGEX_CACHE: dict[int, re.Pattern] = {}
_TRIE_CACHE: dict[int, "SurfaceMatcher"] = {}


def compile_surface_regex(surfaces: tuple[str, ...]) -> re.Pattern:
    """Reference matcher: one alternation, longest-first (leftmost-longest).

    O(positions × alternatives) in CPython's backtracking engine — kept as
    the semantics oracle; the hot path is :class:`SurfaceMatcher` below
    (tests assert span-for-span equivalence)."""
    key = hash(surfaces)
    pat = _REGEX_CACHE.get(key)
    if pat is None:
        alts = sorted(surfaces, key=len, reverse=True)
        body = "|".join(re.escape(s) for s in alts)
        pat = re.compile(r"(?<!\w)(?:" + body + r")(?!\w)")
        _REGEX_CACHE[key] = pat
    return pat


_WORD_START_RE = re.compile(r"(?<!\w)\w+")
_WORD_CHAR_RE = re.compile(r"\w")


def _trie_pattern(words) -> str:
    """Regex source matching exactly ``words``, shaped as their character
    trie: the engine follows one branch per character instead of trying
    every word in turn (CPython's ``re`` does not factor a flat
    alternation), and skips positions whose character starts no word."""
    trie: dict = {}
    for w in words:
        node = trie
        for ch in w:
            node = node.setdefault(ch, {})
        node[""] = {}  # a word ends here

    def emit(node: dict) -> str:
        alts = [re.escape(ch) + emit(sub) for ch, sub in sorted(node.items()) if ch]
        if not alts:
            return ""
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        return f"(?:{body})?" if "" in node else body

    return emit(trie)


class SurfaceMatcher:
    """Gazetteer matcher with regex-identical semantics, trie-style cost.

    Candidate start positions are word starts (a (?<!\\w) boundary can only
    precede one) whose whole word is the first word of some surface. One
    scan of a trie-shaped regex over the first words finds them in C, so a
    line with no first word costs no Python step. Each candidate verifies
    its few same-first-word surfaces longest-first with a string-slice
    compare + trailing (?!\\w) boundary check. Matches are non-overlapping
    leftmost-longest — exactly finditer over the sorted alternation, at
    O(chars + verified candidates) in C instead of O(chars × |gazetteer|).
    """

    def __init__(self, surfaces: tuple[str, ...]):
        self.by_first: dict[str, list[str]] = {}
        for s in surfaces:
            # a surface with no word char never starts at a word start
            if m := _WORD_START_RE.search(s):
                self.by_first.setdefault(m.group(0), []).append(s)
        for lst in self.by_first.values():
            lst.sort(key=len, reverse=True)
        # a first word ending at a word boundary; "(?!)" matches nothing
        self._first_re = re.compile(
            "(?:" + (_trie_pattern(self.by_first) or "(?!)") + r")\b"
        )

    def finditer(self, line: str):
        n = len(line)
        last_end = 0
        for m in self._first_re.finditer(line):
            pos = m.start()
            # a first word that ends a longer word (x|Acme5) is no word
            # start; its match ends that word, so it hides no word start
            if pos < last_end or (pos and _WORD_CHAR_RE.match(line[pos - 1])):
                continue
            for s in self.by_first[m.group(0)]:
                end = pos + len(s)
                if end <= n and line.startswith(s, pos) and (
                    end == n or not _WORD_CHAR_RE.match(line[end])
                ):
                    yield pos, end, s
                    last_end = end
                    break


def compile_surface_matcher(surfaces: tuple[str, ...]) -> SurfaceMatcher:
    key = hash(surfaces)
    mt = _TRIE_CACHE.get(key)
    if mt is None:
        mt = SurfaceMatcher(surfaces)
        _TRIE_CACHE[key] = mt
    return mt


def extract_mention_pairs_py(
    url: str,
    text: str | None,
    pattern: "re.Pattern | SurfaceMatcher",
    phrase_to_pred: dict[str, str],
) -> list[tuple[str, str, str, str]]:
    """Pure-Python core, shared with the pytest oracle.

    Sentence = one line of extracted text. Adjacent gazetteer mentions whose
    connecting text (minus trailing punctuation) is a known relation phrase
    form a triple. Accepts the regex oracle or the fast SurfaceMatcher —
    identical spans either way (tests/test_mentions.py asserts it).
    """
    out: list[tuple[str, str, str, str]] = []
    if not text:
        return out
    is_re = isinstance(pattern, re.Pattern)
    for line in text.split("\n"):
        if is_re:
            matches = [(m.start(), m.end(), m.group(0)) for m in pattern.finditer(line)]
        else:
            matches = list(pattern.finditer(line))
        for a, b in zip(matches, matches[1:]):
            mid = line[a[1] : b[0]].strip().strip(",;:").strip()
            pred = phrase_to_pred.get(mid)
            if pred is not None:
                out.append((url, a[2], pred, b[2]))
    return out


_PAIR_FIELDS = ("subj_surface", "pred", "obj_surface")
TEXT_AND_PAIRS_SCHEMA = (
    "url string, text string, pairs array<struct<"
    + ", ".join(f"{f}: string" for f in _PAIR_FIELDS) + ">>"
)


def text_and_mention_pairs(
    pages: DataFrame,
    surfaces: tuple[str, ...],
    phrase_to_pred: dict[str, str],
) -> DataFrame:
    """pages(url, html, text) -> (url, text, pairs), one Python pass.

    Rows that already carry ``text`` keep it and send no html; NULL-text
    rows run :func:`extract_text_py`. ``pairs`` holds the page's mention
    pairs in text order, built as Arrow arrays (no pandas frame).
    The pass runs on at least 2× defaultParallelism partitions (parquet
    splits by BYTES: a 16 MB input is one split even on 32 cores); the
    repartition sits above the html projection, so WET rows ship no html.
    """
    surfaces = tuple(surfaces)
    phrases = dict(phrase_to_pred)
    src = pages.select(
        "url", "text", F.when(F.col("text").isNull(), F.col("html")).alias("html")
    )
    par = pages.sparkSession.sparkContext.defaultParallelism * 2
    src = src.repartition(par) if src.rdd.getNumPartitions() < par else src

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        matcher = compile_surface_matcher(surfaces)
        for rb in batches:
            urls = rb.column("url").to_pylist()
            texts = rb.column("text").to_pylist()
            htmls = rb.column("html").to_pylist()
            rows: list[tuple[str, str, str, str]] = []
            offsets = [0]
            for k, (url, html) in enumerate(zip(urls, htmls)):
                if texts[k] is None:
                    texts[k] = extract_text_py(html)
                rows.extend(extract_mention_pairs_py(url, texts[k], matcher, phrases))
                offsets.append(len(rows))
            cols = list(zip(*rows))[1:] or [(), (), ()]  # drop url
            pairs = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.StructArray.from_arrays(
                    [pa.array(c, pa.string()) for c in cols], names=_PAIR_FIELDS
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column("url"), pa.array(texts, pa.string()), pairs],
                names=["url", "text", "pairs"],
            )

    return src.mapInArrow(run, schema=TEXT_AND_PAIRS_SCHEMA)


def explode_pairs(text_and_pairs: DataFrame) -> DataFrame:
    """(url, text, pairs) -> long-form (url, subj_surface, pred, obj_surface)."""
    return text_and_pairs.select("url", F.explode("pairs").alias("p")).select(
        "url", *(f"p.{f}" for f in _PAIR_FIELDS)
    )
