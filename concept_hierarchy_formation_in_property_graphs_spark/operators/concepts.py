"""S5 — deterministic concept/subsumption hierarchy (the signature output).

The reference builds its tree with sequential hill-climbing Cobweb
(`algos/Cobweb.java:23-64`), which is order-dependent (it shuffles input,
`algos/PropertyGraphCobweb.java:315,347`) and single-threaded by its own
account (`doc/thesis/05-evaluation.tex:249`). Per SURVEY §7 this engine
keeps the reference's *concept model* — per-concept attribute/value
histograms with counts (`algos/ConceptNode.java:26-57`), one Gaussian per
numeric attribute merged Chan-style (`algos/NumericValue.java:56-70`), the
EAP with the 1/(7·(1+σ)) numeric rule and σ=0→0
(`algos/ConceptNode.java:214-242`), Fisher'87 CU
(`algos/Cobweb.java:259-272`), path labels (`util/TreeUtils.java:82-90`),
cutoff levels log2(depth)+1 (`util/MathUtils.java:20-25`) and all output
invariants (`PropertyGraphCobwebProcTest.java:122-199`) — while constructing
the hierarchy deterministically, FCA-style:

    concept  = distinct intent (e.g. characteristic set, F3)
    extent   = instances grouped under subset-subsumed intents
    parent   = most specific proper subsumer (ties → smallest id)
    root     = the empty intent ⊤

Instances attach only to LEAVES; a concept holding both exact-intent
instances and children gets a synthetic residual child leaf — the analogue
of Cobweb's "leaves stay leaves" intermediate-parent insertion
(`algos/Cobweb.java:113-160`).

Scale notes: #concepts = #distinct intents ≪ #instances, so one engine
serves every size: instance-sized work (intent dedup, assignment) is
distributed, and the concept table is collected once and built on the
driver. Subsumption candidates come from each intent's globally RAREST
item (not all items), so hub items (head-entity skew) never drive the
fan-out; containment is tested over NumPy item bitsets. Sizes measured
up to 379k concepts are in BASELINE.md ("One lattice engine").
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "\x1f"
RESIDUAL_SUFFIX = "\x1e*"
ROOT_ID = ""  # the empty intent


def _canonical_intents(instances: DataFrame) -> DataFrame:
    """(instance_id, intent sorted-distinct, cid)"""
    return instances.select(
        "instance_id",
        F.array_sort(F.array_distinct("intent")).alias("intent"),
    ).withColumn("cid", F.concat_ws(SEP, "intent"))


def build_hierarchy(instances: DataFrame, root_seed: str = "c",
                    galois: bool = False) -> dict[str, DataFrame]:
    """instances(instance_id, intent ARRAY<STRING>) → hierarchy tables.

    Returns dict with:
      concepts(concept_id, parent_id, depth, label, count, intent, is_leaf)
      assignments(instance_id, concept_id)   # leaf concepts only
      closure(desc, anc)                     # reflexive-transitive

    The instance-sized work (intent dedup, instance assignment) is
    distributed. The concept-sized work — Galois closure, subsumption,
    residual insertion, depth/label/closure/count — is one driver pass
    over the collected exact-intent table (``_hierarchy_from_state``):
    #concepts = #distinct intents, orders of magnitude below #instances.
    """
    spark = instances.sparkSession
    inst = _canonical_intents(instances)
    exact = intent_state(instances)
    return _hierarchy_from_state(spark, exact, inst, root_seed, galois)


def intent_state(instances: DataFrame) -> DataFrame:
    """(cid, intent, n_exact) — the exact-intent concept STATE of an
    instance batch: the only thing hierarchy construction needs besides
    the instance→cid map. Concept-sized, mergeable (``merge_intent_state``),
    and the unit of incremental maintenance."""
    inst = _canonical_intents(instances)
    return inst.groupBy("cid", "intent").agg(F.count("*").alias("n_exact"))


def merge_intent_state(a: DataFrame, b: DataFrame) -> DataFrame:
    """Additive merge of two intent states — one concept-sized groupBy.
    Reads only (cid, intent, n_exact) of each side, so a state written
    with extra columns still merges."""
    cols = ["cid", "intent", "n_exact"]
    return (
        a.select(*cols).unionByName(b.select(*cols))
        .groupBy("cid")
        .agg(F.first("intent").alias("intent"), F.sum("n_exact").alias("n_exact"))
    )


# Galois closure driver cap: the closure raises past this many closed sets.
DRIVER_CLOSURE_CAP = 250_000


def galois_closure(intents: Iterable[Iterable[str]]) -> set[frozenset]:
    """Close a set of intents under pairwise intersection: the Galois/FCA
    concept closure (Godin et al., cited by the thesis as the principled
    construction, `doc/thesis/06-conclusions.tex:13`). Internal concepts
    of a planted taxonomy are exactly the intersections of observed leaf
    intents, so closure turns a flat exact-intent lattice into the tree.

    One pass of Godin's incremental rule, closure(S ∪ {g}) = closure(S) ∪
    {c ∩ g : c ∈ closure(S)} ∪ {g}, over the generators (the distinct
    nonempty intents). Each intent is a Python int bitmask over the sorted
    item alphabet, so ∩ is ``&`` at any alphabet width. Generators go in
    ascending mask order, so the point where the cap is hit is
    reproducible. Empty intersections are dropped, as in the DuckDB
    recursive-CTE oracle (`queries.py kg_galois_closure`); the input sets,
    the empty intent included, are returned as given. Raises
    ``ValueError`` past ``DRIVER_CLOSURE_CAP`` closed sets.
    """
    sets = {frozenset(t) for t in intents}
    items = sorted(set().union(*sets))
    bit = {x: 1 << k for k, x in enumerate(items)}
    closed: set[int] = set()
    for g in sorted({sum(bit[x] for x in s) for s in sets if s}):
        closed |= {c & g for c in closed}
        closed.discard(0)
        closed.add(g)
        if len(closed) > DRIVER_CLOSURE_CAP:
            raise ValueError(
                f"Galois closure reached {len(closed)} closed sets, "
                f"over DRIVER_CLOSURE_CAP={DRIVER_CLOSURE_CAP}"
            )
    return sets | {frozenset(x for k, x in enumerate(items) if m >> k & 1) for m in closed}


def _hierarchy_from_state(spark, exact: DataFrame, inst: DataFrame,
                          root_seed: str, galois: bool) -> dict[str, DataFrame]:
    """The lattice engine. ONE Spark job collects the exact-intent state
    (cid, intent, n_exact); the concept side then runs on the driver:
      * Galois closure (``galois_closure``), when ``galois``
      * parent: most specific proper subsumer, ties → smallest cid
        (``_best_parents``)
      * residual leaves, then subtree counts (post-order from ROOT_ID) so
        instance-free subtrees — possible when Galois closure adds concepts
        nothing maps through — are pruned before labeling
      * one pre-order walk for depth, label and ancestor path, with the
        labeling rule of T3 (`util/TreeUtils.java:82-90`): child rank =
        ascending cid, label = parent label + rank
    The driver hands Spark ONE local table, ``tree``: the concept columns
    plus ``ancestors`` (the root-first path). Every output is a JVM
    projection of it: ``concepts`` drops ``ancestors``, ``closure``
    explodes ``[concept_id] ++ ancestors``, and ``assignments`` maps each
    instance's cid through the residual remap (the tree rows whose id is
    parent_id + RESIDUAL_SUFFIX, broadcast) with a left join.
    """
    intent_of: dict[str, tuple] = {}
    n_exact: dict[str, int] = defaultdict(int)  # 0 for closure-only concepts and ⊤
    for r in exact.collect():
        cid = r["cid"]
        intent_of[cid] = tuple(r["intent"])
        n_exact[cid] += int(r["n_exact"])

    if galois:
        for t in (tuple(sorted(s)) for s in galois_closure(intent_of.values())):
            intent_of.setdefault(SEP.join(t), t)
    intent_of.setdefault(ROOT_ID, ())

    # ROOT_ID is the only concept without a parent
    parent: dict[str, str | None] = _best_parents(intent_of)
    parent[ROOT_ID] = None
    children: dict[str, list[str]] = {}
    for cid, pid in parent.items():
        if pid is not None:
            children.setdefault(pid, []).append(cid)

    # residual leaves: concept has children AND exact-intent instances
    for cid in [c for c in intent_of if c in children and n_exact[c] > 0]:
        rcid = cid + RESIDUAL_SUFFIX
        intent_of[rcid] = intent_of[cid]
        n_exact[rcid] = n_exact[cid]
        n_exact[cid] = 0
        parent[rcid] = cid
        children[cid].append(rcid)

    order = [ROOT_ID]
    for cid in order:  # breadth-first; reversed, every child precedes its parent
        order.extend(children.get(cid, ()))
    count: dict[str, int] = {}
    for cid in reversed(order):
        count[cid] = n_exact[cid] + sum(count[k] for k in children.get(cid, ()))

    # one tree row per surviving concept: the root and each concept with a
    # nonzero subtree count, ancestors = the root-first path
    rows = []
    stack = [(ROOT_ID, 0, root_seed, [])]
    while stack:
        cid, d, lbl, path = stack.pop()
        kids = sorted(k for k in children.get(cid, ()) if count[k])
        rows.append((cid, parent[cid], d, lbl, count[cid], list(intent_of[cid]), not kids, path))
        for rank, kid in enumerate(kids):
            stack.append((kid, d + 1, lbl + str(rank), path + [cid]))
    tree = spark.createDataFrame(
        rows,
        "concept_id string, parent_id string, depth int, label string, "
        "count long, intent array<string>, is_leaf boolean, ancestors array<string>",
    )
    closure = tree.select(
        F.col("concept_id").alias("desc"),
        F.explode(F.concat(F.array("concept_id"), "ancestors")).alias("anc"),
    )
    remap = tree.where(
        F.col("concept_id") == F.concat("parent_id", F.lit(RESIDUAL_SUFFIX))
    ).select(F.col("parent_id").alias("cid"), F.col("concept_id").alias("res_cid"))
    assignments = inst.join(F.broadcast(remap), "cid", "left").select(
        "instance_id", F.coalesce("res_cid", "cid").alias("concept_id")
    )
    return {"concepts": tree.drop("ancestors"), "assignments": assignments, "closure": closure}


def _best_parents(intent_of: dict[str, tuple]) -> dict[str, str]:
    """Most specific proper subsumer of every nonempty intent: the largest
    proper subset among the intents, ties → smallest cid, none → ROOT_ID.

    Intents become uint64 bitset rows over the item alphabet. Each intent
    is a candidate ancestor only at its globally RAREST item (by (freq,
    item)), so hub items never drive the fan-out: an item's ancestors are
    tested against just the intents holding that item, in chunks of ~2^18
    bitset words to bound the temporaries. a ⊂ d iff a & ~d == 0 and
    |a| < |d|.
    """
    cids = sorted(c for c, t in intent_of.items() if t)
    n = len(cids)
    if n == 0:
        return {}
    alphabet = sorted({i for c in cids for i in intent_of[c]})
    m = len(alphabet)
    col = {item: k for k, item in enumerate(alphabet)}
    size = np.fromiter((len(intent_of[c]) for c in cids), np.int64, n)
    row = np.repeat(np.arange(n), size)
    item = np.fromiter((col[i] for c in cids for i in intent_of[c]), np.int64, len(row))
    bits = np.zeros((n, (m + 63) // 64), np.uint64)
    np.bitwise_or.at(
        bits, (row, item >> 6), np.left_shift(np.uint64(1), (item & 63).astype(np.uint64))
    )
    # item ids follow the sorted alphabet, so (freq, id) orders as (freq, item)
    freq = np.bincount(item, minlength=m)
    starts = np.concatenate(([0], np.cumsum(size)[:-1]))
    rare = np.minimum.reduceat(freq[item] * m + item, starts) % m
    # rows follow sorted cids: best parent = min position in (−size, cid) order
    by_rank = np.lexsort((np.arange(n), -size))
    rank = np.empty(n, np.int64)
    rank[by_rank] = np.arange(n)
    holders = np.split(row[np.argsort(item, kind="stable")], np.cumsum(freq)[:-1])
    registered = np.split(
        by_rank[np.argsort(rare[by_rank], kind="stable")],
        np.cumsum(np.bincount(rare, minlength=m))[:-1],
    )
    best = np.full(n, n)
    for k in np.unique(rare):
        anc, desc = registered[k], holders[k]
        a_bits, a_size = bits[anc], size[anc]
        step = max(1, (1 << 18) // (len(anc) * bits.shape[1]))
        for lo in range(0, len(desc), step):
            d = desc[lo:lo + step]
            ok = ((a_bits[None] & ~bits[d][:, None]) == 0).all(axis=2)
            ok &= a_size[None] < size[d][:, None]
            # anc is in rank order, so the first hit is the best
            first = ok.argmax(axis=1)
            hit = ok[np.arange(len(d)), first]
            best[d[hit]] = np.minimum(best[d[hit]], rank[anc[first[hit]]])
    return {
        c: cids[by_rank[b]] if b < n else ROOT_ID for c, b in zip(cids, best.tolist())
    }


# ---------------------------------------------------------------------------
# probabilistic concept descriptions: histograms, EAP (O7), CU (O6)
# ---------------------------------------------------------------------------


def concept_stats(attrs: DataFrame, assignments: DataFrame,
                  closure: DataFrame) -> DataFrame:
    """Long-form per-concept attribute histograms / Gaussians.

    attrs(instance_id, attr, kind, nom_value, num_value) joined through
    assignments and the closure — the distributed analogue of updateCounts
    (`algos/ConceptNode.java:159-207`): merging histograms up the tree IS
    Spark's partial+final hash aggregation; the Gaussian merge is Catalyst's
    CentralMomentAgg (same Chan formula as `algos/NumericValue.java:56-70`,
    population std per its sqrt(m2/totalCount)).

    Returns (concept_id, attr, kind, nom_value, cnt, num_count, num_mean,
    num_std).
    """
    routed = attrs.join(assignments, "instance_id").join(
        closure, F.col("concept_id") == F.col("desc")
    ).select(F.col("anc").alias("cid"), "attr", "kind", "nom_value", "num_value")
    noms = (
        routed.where(F.col("kind") == "nom")
        .groupBy("cid", "attr", "nom_value")
        .agg(F.count("*").alias("cnt"))
        .select(
            "cid", "attr", F.lit("nom").alias("kind"), "nom_value", "cnt",
            F.lit(None).cast("long").alias("num_count"),
            F.lit(None).cast("double").alias("num_mean"),
            F.lit(None).cast("double").alias("num_std"),
        )
    )
    nums = (
        routed.where(F.col("kind") == "num")
        .groupBy("cid", "attr")
        .agg(
            F.count("num_value").alias("num_count"),
            F.avg("num_value").alias("num_mean"),
            F.stddev_pop("num_value").alias("num_std"),
        )
        .select(
            "cid", "attr", F.lit("num").alias("kind"),
            F.lit(None).cast("string").alias("nom_value"),
            F.lit(None).cast("long").alias("cnt"),
            "num_count", "num_mean", "num_std",
        )
    )
    return noms.unionByName(nums).withColumnRenamed("cid", "concept_id")


def expected_attribute_prediction(stats: DataFrame, counts: DataFrame) -> DataFrame:
    """O7 — EAP per concept (`algos/ConceptNode.java:214-242`).

    nominal value: (cnt/total)²  summed over values
    numeric attr:  0 if σ=0 else 1/(7·(1+σ))   (7 = 4√π folded in,
                   `ConceptNode.java:231-233`)
    normalized by the number of attributes; 0 attributes → EAP 0.

    counts: (concept_id, count) — the concept's instance count (= the
    reference's ConceptNode.count, the EAP denominator `total`).
    """
    contrib = (
        stats.join(counts, "concept_id")
        .withColumn(
            "c",
            F.when(
                F.col("kind") == "nom",
                F.pow(F.col("cnt") / F.col("count"), F.lit(2.0)),
            ).otherwise(
                F.when(
                    F.coalesce(F.col("num_std"), F.lit(0.0)) == 0.0, F.lit(0.0)
                ).otherwise(1.0 / (7.0 * (1.0 + F.col("num_std"))))
            ),
        )
    )
    return contrib.groupBy("concept_id").agg(
        (F.sum("c") / F.countDistinct("attr")).alias("eap")
    )


def category_utility(concepts: DataFrame, eap: DataFrame) -> DataFrame:
    """O6 — Fisher'87 CU per parent (`algos/Cobweb.java:259-272`):

        CU(p) = Σ_k  count(C_k)/count(p) · (EAP(C_k) − EAP(p))  / |children|
    """
    child = (
        concepts.where(F.col("parent_id").isNotNull())
        .select("concept_id", "parent_id", F.col("count").alias("c_count"))
        .join(eap, "concept_id")
        .withColumnRenamed("eap", "c_eap")
    )
    parent = concepts.select(
        F.col("concept_id").alias("parent_id"), F.col("count").alias("p_count")
    ).join(
        eap.select(F.col("concept_id").alias("parent_id"), F.col("eap").alias("p_eap")),
        "parent_id",
    )
    return (
        child.join(parent, "parent_id")
        .groupBy(F.col("parent_id").alias("concept_id"))
        .agg(
            (
                F.sum(F.col("c_count") / F.col("p_count") * (F.col("c_eap") - F.col("p_eap")))
                / F.count("*")
            ).alias("cu")
        )
    )


def cluster_representatives(members: DataFrame, cluster_col: str,
                            items_col: str) -> DataFrame:
    """P5 two-step estimator representative (`clustering_survey.py:133-148`):
    collapse each cluster to the AND-intersection of its members' item sets
    — an item survives iff it appears in EVERY member. One explode + one
    count-match aggregate; no pairwise work."""
    sized = members.select(
        F.col(cluster_col).alias("cluster"),
        F.array_distinct(F.col(items_col)).alias("items"),
    )
    n = sized.groupBy("cluster").agg(F.count("*").alias("_n"))
    per_item = (
        sized.select("cluster", F.explode("items").alias("item"))
        .groupBy("cluster", "item")
        .agg(F.count("*").alias("_k"))
    )
    kept = per_item.join(F.broadcast(n), "cluster").where(F.col("_k") == F.col("_n"))
    return (
        n.select("cluster")
        .join(
            kept.groupBy("cluster").agg(
                F.array_sort(F.collect_list("item")).alias("representative")
            ),
            "cluster",
            "left",
        )
        .select(
            "cluster",
            F.coalesce("representative", F.array().cast("array<string>")).alias(
                "representative"
            ),
        )
    )


def cutoff_level(concepts: DataFrame) -> int:
    """log2(deepest)+1 with the reference's integer log2 (T7:
    `util/MathUtils.java:20-25`, −1 at 0)."""
    deepest = concepts.agg(F.max("depth")).first()[0] or 0
    return (deepest.bit_length() - 1 if deepest > 0 else -1) + 1


def cutoff_labels(concepts: DataFrame, level: int) -> DataFrame:
    """T4 getCutoffLabel — label prefix of `level` characters
    (`algos/ConceptNode.java:361-366`)."""
    return concepts.select(
        "concept_id",
        F.when(F.length("label") < level, F.col("label"))
        .otherwise(F.substring("label", 1, level))
        .alias("cutoff_label"),
    )


# ---------------------------------------------------------------------------
# output invariants (PropertyGraphCobwebProcTest.java:122-199)
# ---------------------------------------------------------------------------


def invariant_violations(concepts: DataFrame, assignments: DataFrame) -> dict[str, int]:
    """Returns violation counts; all must be 0 (see tests)."""
    leaves = concepts.where(F.col("is_leaf"))
    out: dict[str, int] = {}
    # checkIds L142-151: no instance assigned twice
    out["dup_instance"] = (
        assignments.groupBy("instance_id").count().where(F.col("count") > 1).count()
    )
    # checkLeafType L158-167: assignments reference leaves only
    out["assign_to_inner"] = (
        assignments.join(
            concepts.where(~F.col("is_leaf")).select(F.col("concept_id")), "concept_id"
        ).count()
    )
    # checkParent L174-181
    out["orphans"] = concepts.where(
        F.col("parent_id").isNull() & (F.col("depth") != 0)
    ).count()
    # checkPartitionCounts L188-199: parent count == Σ child counts
    child_sums = (
        concepts.where(F.col("parent_id").isNotNull())
        .groupBy(F.col("parent_id").alias("concept_id"))
        .agg(F.sum("count").alias("child_sum"))
    )
    out["partition_counts"] = (
        concepts.join(child_sums, "concept_id")
        .where(F.col("count") != F.col("child_sum"))
        .count()
    )
    return out
