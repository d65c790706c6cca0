"""S1 — boilerplate-stripped text extraction.

The per-row invariant (BASELINE.json input_hint) is *byte-identical extracted
text per url* between the distributed path and the single-node oracle. Both
paths therefore call the same pure function :func:`extract_text_py`; the
distributed path is the fused S1+S2 Arrow pass,
:func:`..mentions.text_and_mention_pairs`.

The algorithm is deliberately dependency-free and deterministic:
  1. decode utf-8 (errors=replace),
  2. drop <script>/<style>/<nav>/<header>/<footer>/<aside> subtrees and
     HTML comments,
  3. strip remaining tags (block-level tags become newlines),
  4. unescape the five core HTML entities + numeric refs,
  5. collapse runs of spaces/tabs, collapse blank lines, strip ends.
"""

from __future__ import annotations

import re

_DROP_SUBTREE_RE = re.compile(
    r"<(script|style|nav|header|footer|aside)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_BLOCK_TAG_RE = re.compile(
    r"</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article|main|title)\b[^>]*>",
    re.IGNORECASE,
)
_ANY_TAG_RE = re.compile(r"<[^>]+>")
_NUMERIC_ENTITY_RE = re.compile(r"&#(\d{1,7});")
_HEX_ENTITY_RE = re.compile(r"&#[xX]([0-9a-fA-F]{1,6});")
_BLANK_LINES_RE = re.compile(r"\n\s*\n+")

_NAMED_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&apos;": "'",
    "&nbsp;": " ",
}


def collapse_space_runs(s: str) -> str:
    """Each run of spaces and tabs becomes one space, as
    ``re.sub(r"[ \\t]+", " ", s)`` does. String methods run in C; that
    regex stops at every lone space, which made it most of the cost of
    extracting prose pages."""
    s = s.replace("\t", " ")
    while "  " in s:
        s = s.replace("  ", " ")
    return s


def extract_text_py(html: bytes | str | None) -> str | None:
    """Pure-Python text extraction; THE reference implementation.

    Used verbatim by the Arrow pass on executors and by the pytest oracle on
    the driver, so byte-identity is structural, not incidental.
    """
    if html is None:
        return None
    if isinstance(html, (bytes, bytearray, memoryview)):
        s = bytes(html).decode("utf-8", errors="replace")
    else:
        s = html
    s = _COMMENT_RE.sub(" ", s)
    s = _DROP_SUBTREE_RE.sub(" ", s)
    s = _BLOCK_TAG_RE.sub("\n", s)
    s = _ANY_TAG_RE.sub(" ", s)
    for ent, ch in _NAMED_ENTITIES.items():
        s = s.replace(ent, ch)
    s = _NUMERIC_ENTITY_RE.sub(lambda m: chr(int(m.group(1))), s)
    s = _HEX_ENTITY_RE.sub(lambda m: chr(int(m.group(1), 16)), s)
    s = collapse_space_runs(s)
    lines = [ln.strip() for ln in s.split("\n")]
    s = "\n".join(lines)
    s = _BLANK_LINES_RE.sub("\n", s).strip()
    return s

