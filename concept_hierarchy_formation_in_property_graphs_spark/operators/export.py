"""Tree sinks + taxonomy scoring — the reference's post-processing layer.

T5 `printRec`/`getTexForrest`/`getTexTables` (`util/TreeUtils.java:101-211`):
ASCII / tikz-forest / LaTeX concept-table rendering with support pruning
(children with support <=5% dropped from tables, <=0.5% from the forest).
T6 `treesToTexFile` (`util/TreeUtils.java:234-285`).
P7 dendrogram→bracket-notation flattening (`tree_edit_distance.py:53-124`).
P8 taxonomy scoring — structural precision/recall on parent-child edges
(the JVM-free substitute for the apted.jar call in
`tree_edit_distance.py:18-24`).

All driver-side: the concept table is tiny relative to the corpus (one row
per distinct intent), so these are collect + format, exactly as the
reference walks its in-heap tree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

FOREST_MIN_SUPPORT = 0.005  # TreeUtils.java:199
TABLE_MIN_SUPPORT = 0.05    # TreeUtils.java:133


def _collect_tree(concepts: DataFrame, name_col: str = "label"):
    cols = ["concept_id", "parent_id", "depth", "label", "count"]
    if name_col not in cols:
        cols.append(name_col)
    rows = concepts.select(*cols).collect()
    info = {r["concept_id"]: r.asDict() for r in rows}
    children: dict[str, list[str]] = {}
    roots = []
    for cid, r in info.items():
        if r["parent_id"] is None:
            roots.append(cid)
        else:
            children.setdefault(r["parent_id"], []).append(cid)
    for lst in children.values():
        lst.sort(key=lambda c: info[c]["label"])
    return info, children, sorted(roots, key=lambda c: info[c]["label"])


def render_ascii(concepts: DataFrame) -> str:
    """T5 printRec — indented ASCII tree ordered by path label."""
    info, children, roots = _collect_tree(concepts)
    lines: list[str] = []

    def rec(cid: str, indent: int):
        r = info[cid]
        lines.append("  " * indent + f"{r['label']} (count={r['count']})")
        for kid in children.get(cid, ()):
            rec(kid, indent + 1)

    for root in roots:
        rec(root, 0)
    return "\n".join(lines)


def _support_ok(info, parent_row, kid: str, min_support: float) -> bool:
    if min_support <= 0:
        return True
    pc = parent_row["count"] or 1
    return info[kid]["count"] / pc > min_support


def to_bracket(concepts: DataFrame, name_col: str = "label",
               min_support: float = 0.0) -> str:
    """P7 — bracket notation `{root{kid}{kid...}}` (the format apted.jar
    consumes, `tree_edit_distance.py:53-124`)."""
    info, children, roots = _collect_tree(concepts, name_col)

    def rec(cid: str) -> str:
        name = str(info[cid][name_col])
        kids = "".join(
            rec(k) for k in children.get(cid, ())
            if _support_ok(info, info[cid], k, min_support)
        )
        return "{" + name + kids + "}"

    if len(roots) == 1:
        return rec(roots[0])
    return "{forest" + "".join(rec(r) for r in roots) + "}"


def to_tex_forest(concepts: DataFrame) -> str:
    """T5 getTexForrest — tikz forest body with 0.5% support pruning."""
    info, children, roots = _collect_tree(concepts)

    def rec(cid: str) -> str:
        r = info[cid]
        kids = " ".join(
            rec(k) for k in children.get(cid, ())
            if _support_ok(info, r, k, FOREST_MIN_SUPPORT)
        )
        body = f"{{{r['label']} ({r['count']})}}"
        return f"[{body} {kids}]" if kids else f"[{body}]"

    inner = " ".join(rec(r) for r in roots)
    return "\\begin{forest}\n" + inner + "\n\\end{forest}\n"


def to_tex_tables(concept_stats: DataFrame, concepts: DataFrame) -> str:
    """T5 getTexTables — one LaTeX tabular per kept concept: attribute →
    value histogram rows, concepts below 5% support of their parent pruned."""
    info, children, roots = _collect_tree(concepts)
    keep = set(roots)
    for cid, r in info.items():
        for k in children.get(cid, ()):
            if _support_ok(info, r, k, TABLE_MIN_SUPPORT):
                keep.add(k)
    stats = concept_stats.collect()
    by_cid: dict[str, list] = {}
    for s in stats:
        if s["concept_id"] in keep:
            by_cid.setdefault(s["concept_id"], []).append(s)
    parts = []
    for cid in sorted(keep, key=lambda c: info[c]["label"]):
        rows = by_cid.get(cid, [])
        lines = [
            "\\begin{tabular}{lll}",
            f"\\multicolumn{{3}}{{c}}{{{info[cid]['label']} "
            f"(count={info[cid]['count']})}} \\\\",
            "attribute & value & stat \\\\ \\hline",
        ]
        for s in sorted(rows, key=lambda x: (x["attr"], str(x["nom_value"]))):
            if s["kind"] == "nom":
                lines.append(f"{s['attr']} & {s['nom_value']} & n={s['cnt']} \\\\")
            else:
                lines.append(
                    f"{s['attr']} & gaussian & $\\mu$={s['num_mean']:.3f}, "
                    f"$\\sigma$={s['num_std']:.3f}, n={s['num_count']} \\\\"
                )
        lines.append("\\end{tabular}")
        parts.append("\n".join(lines))
    return "\n\n".join(parts) + "\n"


def trees_to_tex_file(concepts: DataFrame, path: str,
                      concept_stats: DataFrame | None = None) -> None:
    """T6 treesToTexFile — write `<path>Tree.tex` (+ `<path>Concepts.tex`)."""
    with open(path + "Tree.tex", "w") as f:
        f.write(to_tex_forest(concepts))
    if concept_stats is not None:
        with open(path + "Concepts.tex", "w") as f:
            f.write(to_tex_tables(concept_stats, concepts))


# ---------------------------------------------------------------------------
# taxonomy scoring (P8 substitute)
# ---------------------------------------------------------------------------


def hierarchy_edge_sets(concepts: DataFrame, name_expr) -> set[tuple[str, str]]:
    """(child_name, parent_name) edges of the built hierarchy, naming each
    concept by ``name_expr`` (a column/expression collected as string)."""
    rows = concepts.select(
        name_expr.alias("name"), "concept_id", "parent_id"
    ).collect()
    by_cid = {r["concept_id"]: r["name"] for r in rows}
    return {
        (r["name"], by_cid[r["parent_id"]])
        for r in rows
        if r["parent_id"] is not None and r["parent_id"] in by_cid
    }


def edge_precision_recall(got: set[tuple[str, str]],
                          truth: set[tuple[str, str]]) -> tuple[float, float]:
    tp = len(got & truth)
    return tp / max(len(got), 1), tp / max(len(truth), 1)


# ---------------------------------------------------------------------------
# P4 tail — single-linkage dendrogram: linkage matrix + bracket flattening
# (`clustering_survey.py:86-100`, `tree_edit_distance.py:53-124`)
# ---------------------------------------------------------------------------


def single_linkage_matrix(n: int,
                          dist_pairs: list[tuple[int, int, float]]
                          ) -> list[tuple[int, int, float, int]]:
    """scipy-format linkage matrix [(a, b, dist, size), ...] from pairwise
    distances, via Kruskal-order union-find — processing pairs by ascending
    distance IS single linkage (min inter-cluster distance ≡ MST edges).
    Leaves are 0..n−1; merge k creates cluster n+k. Driver-side by design:
    it scores a COLLECTED sample (the reference caps its survey at 6561
    samples); the distances come from the distributed
    `dedup.exact_jaccard_pairs` / LSH pipeline.

    Pairs omitted from ``dist_pairs`` are treated as infinitely far; the
    result is then a forest (fewer than n−1 merges).
    """
    parent = list(range(n)) + [-1] * max(n - 1, 0)
    cluster_of = list(range(n))  # root id -> current cluster id
    size = {i: 1 for i in range(n)}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    merges: list[tuple[int, int, float, int]] = []
    next_id = n
    for i, j, d in sorted(dist_pairs, key=lambda p: (p[2], p[0], p[1])):
        ri, rj = find(i), find(j)
        if ri == rj:
            continue
        ca, cb = sorted((cluster_of[ri], cluster_of[rj]))
        sz = size[ri] + size[rj]
        merges.append((ca, cb, d, sz))
        parent[rj] = ri
        cluster_of[ri] = next_id
        size[ri] = sz
        next_id += 1
        if len(merges) == n - 1:
            break
    return merges


def linkage_to_bracket(n: int,
                       merges: list[tuple[int, int, float, int]]) -> str:
    """Flatten a linkage matrix to the bracket notation apted.jar consumes
    (`tree_edit_distance.py:53-124`); leaf i is named i, internal nodes
    c<k>."""
    sub: dict[int, str] = {i: "{" + str(i) + "}" for i in range(n)}
    for k, (a, b, _d, _sz) in enumerate(merges):
        sub[n + k] = "{c" + str(k) + sub.pop(a) + sub.pop(b) + "}"
    roots = [sub[k] for k in sorted(sub)]
    if len(roots) == 1:
        return roots[0]
    return "{forest" + "".join(roots) + "}"


# ---------------------------------------------------------------------------
# P8 — tree edit distance (Zhang-Shasha) over bracket trees
# ---------------------------------------------------------------------------


def _parse_bracket(s: str) -> tuple[str, list]:
    """`{root{kid}{kid{grandkid}}}` → (label, [children]) — the format
    both `to_bracket` and the reference's apted.jar input use
    (`tree_edit_distance.py:53-124`)."""
    pos = 0

    def parse() -> tuple[str, list]:
        nonlocal pos
        if s[pos] != "{":
            raise ValueError(f"expected '{{' at {pos} in {s!r}")
        pos += 1
        start = pos
        while s[pos] not in "{}":
            pos += 1
        label = s[start:pos]
        kids = []
        while s[pos] == "{":
            kids.append(parse())
        if s[pos] != "}":
            raise ValueError(f"expected '}}' at {pos} in {s!r}")
        pos += 1
        return (label, kids)

    tree = parse()
    if pos != len(s):
        raise ValueError(f"trailing input at {pos} in {s!r}")
    return tree


def _postorder(tree: tuple[str, list]) -> tuple[list[str], list[int]]:
    """(labels, leftmost-leaf-descendant index) in postorder, by a
    recursive walk: one Python frame per tree level, so a tree deeper
    than the interpreter's recursion limit raises RecursionError (as
    `_parse_bracket` does on the same input)."""
    labels: list[str] = []
    lml: list[int] = []

    def visit(node) -> int:
        first = None
        for kid in node[1]:
            i = visit(kid)
            if first is None:
                first = i
        idx = len(labels)
        labels.append(node[0])
        lml.append(first if first is not None else idx)
        return lml[idx]

    visit(tree)
    return labels, lml


def tree_edit_distance(bracket_a: str, bracket_b: str) -> int:
    """Ordered tree edit distance with unit costs (insert = delete =
    relabel = 1) — the metric the reference's headline scoring computes
    through apted.jar (`tree_edit_distance.py:18-24`); this is the classic
    Zhang-Shasha O(n²·min-depth²) dynamic program, pure Python, JVM-free.
    Driver-side by design: it scores the COLLECTED concept tree (concept-
    sized) against a planted truth — never a distributed input."""
    la, lml_a = _postorder(_parse_bracket(bracket_a))
    lb, lml_b = _postorder(_parse_bracket(bracket_b))

    def keyroots(lml: list[int]) -> list[int]:
        last: dict[int, int] = {}
        for i, leaf in enumerate(lml):
            last[leaf] = i
        return sorted(last.values())

    m, n = len(la), len(lb)
    td = [[0] * n for _ in range(m)]
    for i in keyroots(lml_a):
        for j in keyroots(lml_b):
            li, lj = lml_a[i], lml_b[j]
            fm, fn = i - li + 2, j - lj + 2
            fd = [[0] * fn for _ in range(fm)]
            for x in range(1, fm):
                fd[x][0] = fd[x - 1][0] + 1
            for y in range(1, fn):
                fd[0][y] = fd[0][y - 1] + 1
            for x in range(1, fm):
                ai = li + x - 1
                for y in range(1, fn):
                    bj = lj + y - 1
                    if lml_a[ai] == li and lml_b[bj] == lj:
                        cost = 0 if la[ai] == lb[bj] else 1
                        fd[x][y] = min(
                            fd[x - 1][y] + 1,
                            fd[x][y - 1] + 1,
                            fd[x - 1][y - 1] + cost,
                        )
                        td[ai][bj] = fd[x][y]
                    else:
                        p = lml_a[ai] - li
                        q = lml_b[bj] - lj
                        fd[x][y] = min(
                            fd[x - 1][y] + 1,
                            fd[x][y - 1] + 1,
                            fd[p][q] + td[ai][bj],
                        )
    return td[m - 1][n - 1]
