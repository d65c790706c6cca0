"""Property-based checks (hypothesis) + skew-path equivalence.

- SurfaceMatcher ≡ the regex oracle on arbitrary generated text, including
  punctuation, adjacency and substring-surface traps.
- extract_text_py's space-run collapse ≡ collapsing every space/tab run.
- build_hierarchy invariants hold and parents are the most specific proper
  subsumer for arbitrary intent multisets.
- galois_closure ≡ the known×known intersection closure on arbitrary
  intents over alphabets wider than 64 items, the empty intent included.
"""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from concept_hierarchy_formation_in_property_graphs_spark.functions.mentions import (
    SurfaceMatcher,
    compile_surface_regex,
)

SURFACES = (
    "Acme Corporation", "Acme Corp.", "Acme", "A. Smith", "Smith",
    "University of X", "X University", "Widget",
)

_words = st.sampled_from(
    ["Acme", "Corporation", "Corp.", "A.", "Smith", "University", "of", "X",
     "Widget", "zeta", "the", "and,", "x(y)", "", "xAcme", "Acme5", "Smith_",
     "(Smith),", "WidgetX"]
)
_line = st.lists(_words, min_size=0, max_size=12).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(_line)
def test_matcher_equals_regex_property(line):
    rx = compile_surface_regex(SURFACES)
    mt = SurfaceMatcher(SURFACES)
    got_rx = [(m.start(), m.end(), m.group(0)) for m in rx.finditer(line)]
    got_mt = list(mt.finditer(line))
    assert got_rx == got_mt, line


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=" \t\na&;", max_size=80))
def test_space_run_collapse_equals_reference(s):
    """extract_text_py collapses space/tab runs with string methods; the
    result must equal the ``[ \\t]+`` regex rewrite."""
    import re

    from concept_hierarchy_formation_in_property_graphs_spark.functions.text import (
        collapse_space_runs,
    )

    assert collapse_space_runs(s) == re.sub(r"[ \t]+", " ", s)


def _rand_instances(seed: int, n: int):
    rng = random.Random(seed)
    items = list("abcdef")
    return [
        (f"i{k}", sorted(rng.sample(items, rng.randint(0, 4))))
        for k in range(n)
    ]


def test_hierarchy_invariants_random_intents(spark):
    from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
        build_hierarchy,
        invariant_violations,
    )

    for seed in (1, 2, 3):
        rows = _rand_instances(seed, 40)
        df = spark.createDataFrame(rows, "instance_id string, intent array<string>")
        h = build_hierarchy(df, galois=(seed % 2 == 0))
        assert invariant_violations(h["concepts"], h["assignments"]) == {
            "dup_instance": 0, "assign_to_inner": 0, "orphans": 0,
            "partition_counts": 0,
        }, seed
        # parent is a PROPER subsumer with maximal size (ties by min cid)
        concepts = {r["concept_id"]: r for r in h["concepts"].collect()}
        real = {
            cid: set(r["intent"])
            for cid, r in concepts.items()
            if "\x1e" not in cid
        }
        for cid, intent in real.items():
            pid = concepts[cid]["parent_id"]
            if pid is None:
                continue
            pin = set(concepts[pid]["intent"])
            assert pin < intent, (seed, cid, pid)
            best = max(
                (len(o) for ocid, o in real.items() if o < intent),
                default=None,
            )
            assert len(pin) == best, (seed, cid, pid)


@st.composite
def _intents(draw):
    """Up to 12 intents over a shared pool of up to 20 of 100 items, so they
    overlap, and maybe the whole alphabet as one more intent. With it, bit
    k is item k of the sorted alphabet, so masks span two 64-bit words."""
    pool = draw(st.lists(st.integers(0, 99), min_size=1, max_size=20, unique=True))
    intents = draw(st.lists(st.lists(st.sampled_from(pool), max_size=len(pool)), max_size=12))
    if draw(st.booleans()):
        intents.append(range(100))
    return [[f"x{k:02d}" for k in t] for t in intents]


@settings(max_examples=300, deadline=None)
@given(_intents())
def test_galois_closure_equals_known_by_known_closure(intents):
    """The one-pass bitmask closure equals the definition: intersect every
    pair of closed sets until nothing new appears, dropping empty
    intersections and keeping the input sets as given."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
        galois_closure,
    )

    closed = {frozenset(t) for t in intents}
    while True:
        new = {a & b for a in closed for b in closed if a & b} - closed
        if not new:
            break
        closed |= new
    assert galois_closure(intents) == closed


def test_connected_components_equals_union_find(spark):
    """Path-halving min-label CC == classic union-find on random graphs
    (self-loops dropped; component label = min member id)."""
    from concept_hierarchy_formation_in_property_graphs_spark.operators.linking import (
        connected_components,
    )

    for seed in (1, 2, 3):
        rnd = random.Random(seed)
        n = 40
        edges = [
            (f"v{rnd.randrange(n):02d}", f"v{rnd.randrange(n):02d}")
            for _ in range(45)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["id"]: r["component"] for r in connected_components(df).collect()}

        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in {x for e in edges for x in e}}
        assert got == want, seed


def test_sessionize_batch_equals_pure_python(spark):
    """Gap sessionization == a straightforward per-user Python scan on
    random integer-second event streams."""
    import datetime

    from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
        sessionize_batch,
    )

    rnd = random.Random(13)
    base = datetime.datetime(2024, 3, 1)
    rows = []
    for uid in range(6):
        t = 0
        for _ in range(rnd.randrange(5, 25)):
            t += rnd.randrange(1, 9000)
            rows.append((uid, base + datetime.timedelta(seconds=t), round(rnd.random(), 2)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["sum_value"], 2))
        for r in sessionize_batch(df, gap_sec=3600).collect()
    }

    want = set()
    by_user: dict[int, list] = {}
    for uid, ts, val in rows:
        by_user.setdefault(uid, []).append((ts, val))
    for uid, evs in by_user.items():
        evs.sort()
        cur = [evs[0]]
        for ts, val in evs[1:]:
            if (ts - cur[-1][0]).total_seconds() > 3600:
                want.add((uid, cur[0][0], cur[-1][0], len(cur),
                          round(sum(v for _, v in cur), 2)))
                cur = []
            cur.append((ts, val))
        want.add((uid, cur[0][0], cur[-1][0], len(cur),
                  round(sum(v for _, v in cur), 2)))
    assert got == want
