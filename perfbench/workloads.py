"""The benchmark's workloads. Each one drives the package only through its
public functions, from this one driver process, against local[nproc].

A workload exposes:
  prepare_inputs()  seeded input generation (timed, part of set-up)
  op(i)             one measured operation; returns timings and gate results
  summarize(ops)    end-to-end values (op_s, items_per_s, py_peak_mb)
  layers(ops, log)  per-layer values for a traced run
"""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark.sql import functions as F

from concept_hierarchy_formation_in_property_graphs_spark.fixtures.pages import (
    PAGES_SCHEMA_DDL,
    generate_page,
    make_gazetteer,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.concepts import (
    build_hierarchy,
    invariant_violations,
)
from concept_hierarchy_formation_in_property_graphs_spark.operators.streaming import (
    hierarchy_from_state_dir,
    merge_batch_into_state,
)
from concept_hierarchy_formation_in_property_graphs_spark.plans.checkpoint import (
    drop_checkpoint_tables,
)
from concept_hierarchy_formation_in_property_graphs_spark.plans.pipeline import run_pipeline

from harness import (
    BailCounter,
    EventLog,
    Tracer,
    dir_mb,
    is_driver_branch,
    peak_rss_mb,
    reset_peak_rss,
    rows_hash,
)

STAGES = (
    "s1_text", "s2_mentions", "s3_links", "s3_triples", "s4_nodes",
    "s4_edges", "s5_struct_features", "s5_char_sets", "s6_concepts",
    "s6_assignments",
)
STAGE_FIELDS = (
    "wall_s", "rows", "jobs", "task_s", "jvm_cpu_s", "gc_s",
    "shuffle_write_mb", "task_skew", "ckpt_mb",
)
# the snapshots a job killed after S4 never committed
TAIL = ("s5_struct_features", "s5_char_sets", "s6_concepts", "s6_assignments")

# every per-layer name; a workload reports 0 for a layer it never runs
LAYER_NAMES = (
    [
        "session.start_s", "session.heap_gb",
        "session.jvm_peak_rss_mb", "setup.inputs_s",
    ]
    + [f"{s}.{f}" for s in STAGES for f in STAGE_FIELDS]
    + [
        "pipeline.jobs", "pipeline.spill_mb", "resume.read_s",
        "resume.s5_struct_features.wall_s", "resume.s5_char_sets.wall_s",
        "resume.s6.wall_s",
        "ingest.merge.wall_s", "ingest.merge.state_rows", "ingest.merge.state_mb",
        "ingest.materialize.wall_s", "ingest.materialize.jobs",
        "ingest.materialize.task_s", "ingest.concepts", "ingest.driver_branch",
        "ingest.budget_bail",
        "trace.op_s",
    ]
)


def _median(xs) -> float:
    return float(statistics.median(xs))


def triple_set(df) -> set[tuple]:
    """Rows of a (subj, pred, obj) table, fetched through Arrow."""
    return set(df.toPandas().itertuples(index=False, name=None))


class Workload:
    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed


# ---------------------------------------------------------------------------
# pipeline_crawl: cold run_pipeline, then a resume after losing S5/S6
# ---------------------------------------------------------------------------


class PipelineCrawl(Workload):
    """No warm-up: a crawl job runs ``run_pipeline`` once in a fresh JVM
    (``jobs/run_pipeline_job.py`` under spark-submit), so the cold phase
    pays the JVM's one-time class loading and code generation, as users do."""

    N_PAGES = 5000
    CONTENT_SCALE = 12
    N_ENTITIES = 500
    MIN_PR = 0.95

    def prepare_inputs(self) -> float:
        """The seeded corpus, written once: it costs 10-16 s to synthesize,
        and a second write does not fit the run-time budget ("Sizing" in
        perfbench/README.md); the lattice corpus is written three times."""
        self.pages_dir = os.path.join(self.work, "pages")
        with self.tracer.span("setup.inputs") as sp:
            self._synthesize().write.parquet(self.pages_dir)
        with self.tracer.span("gate.expected_triples"):
            truth = self.spark.read.parquet(self.pages_dir).select(
                F.explode("truth").alias("t")
            ).select("t.*")
            self.expected = triple_set(truth)
        return Tracer.seconds(sp)

    def _synthesize(self):
        """The rows of ``fixtures.pages.pages_spark_df_distributed`` plus a
        ``truth`` column holding each page's planted triples, so the page
        bodies are synthesized once for both the input and the P/R gate
        (the union of ``truth`` is ``expected_triples_for``)."""
        import pandas as pd

        n_ent, seed, scale = self.N_ENTITIES, self.seed, self.CONTENT_SCALE
        cols = ["url", "warc_ts", "html", "text", "lang", "truth"]

        def gen(batches):
            gaz = make_gazetteer(n_ent)
            n_hubs = max(1, n_ent // 50)
            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    row, planted = generate_page(int(i), gaz, n_hubs, seed, scale)
                    row["truth"] = [dict(zip(("subj", "pred", "obj"), t)) for t in planted]
                    rows.append(row)
                yield pd.DataFrame(rows, columns=cols)

        return self.spark.range(0, self.N_PAGES).mapInPandas(
            gen, PAGES_SCHEMA_DDL + ", truth array<struct<subj:string,pred:string,obj:string>>"
        )

    def _pages(self):
        return self.spark.read.parquet(self.pages_dir).drop("truth")

    def op(self, i: int) -> dict:
        wd = os.path.join(self.work, f"op{i}")
        pages = self._pages()
        reset_peak_rss()
        with self.tracer.span(f"op{i}.cold") as cold:
            out = run_pipeline(self.spark, pages, wd)
            n_triples = out["triples"].count()
            out["concepts"].count()
        py_peak_mb = peak_rss_mb()
        stages = {
            m["stage"]: {
                "wall_s": m["seconds"],
                "rows": m["rows"],
                "end": os.path.getmtime(os.path.join(wd, m["stage"], "_metrics.json")),
                "ckpt_mb": dir_mb(os.path.join(wd, m["stage"])),
            }
            for m in out["metrics"]
        }
        for s, st in stages.items():
            self.tracer.add(f"{cold['name']}.{s}", st["end"] - st["wall_s"], st["end"], cold["name"])
        failures = []
        with self.tracer.span(f"op{i}.gate.cold"):
            got = triple_set(out["triples"].select("subj", "pred", "obj"))
            tp = len(got & self.expected)
            precision = tp / max(len(got), 1)
            recall = tp / max(len(self.expected), 1)
            if min(precision, recall) < self.MIN_PR:
                failures.append(f"triple P/R {precision:.3f}/{recall:.3f}")
            if any(invariant_violations(out["concepts"], out["assignments"]).values()):
                failures.append("cold invariants")
            hashes = (rows_hash(out["concepts"]), rows_hash(out["assignments"]))
        for s in TAIL:
            shutil.rmtree(os.path.join(wd, s))
        reset_peak_rss()
        with self.tracer.span(f"op{i}.resume") as resume:
            out2 = run_pipeline(self.spark, pages, wd)
            out2["concepts"].count()
        py_peak_mb = max(py_peak_mb, peak_rss_mb())
        with self.tracer.span(f"op{i}.gate.resume"):
            resumed = [m["stage"] for m in out2["metrics"] if m.get("resumed")]
            if resumed != [s for s in STAGES if s not in TAIL]:
                failures.append(f"resumed stages {resumed}")
            if any(invariant_violations(out2["concepts"], out2["assignments"]).values()):
                failures.append("resumed invariants")
            if (rows_hash(out2["concepts"]), rows_hash(out2["assignments"])) != hashes:
                failures.append("resumed hierarchy differs from cold")
        resume_stages = {m["stage"]: m["seconds"] for m in out2["metrics"]}
        # the catalog still points at the stage dirs until dropped
        drop_checkpoint_tables(self.spark, wd)
        shutil.rmtree(wd)
        return {
            "cold_s": Tracer.seconds(cold),
            "resume_s": Tracer.seconds(resume),
            "cold_span": (cold["start"], cold["end"]),
            "triples": n_triples,
            "py_peak_mb": py_peak_mb,
            "stages": stages,
            "resume_stages": resume_stages,
            "failures": failures,
        }

    def summarize(self, ops: list[dict]) -> dict[str, float]:
        return {
            "op_s": _median(o["cold_s"] + o["resume_s"] for o in ops),
            "items_per_s": _median(o["triples"] / o["cold_s"] for o in ops),
            "py_peak_mb": _median(o["py_peak_mb"] for o in ops),
        }

    def layers(self, ops: list[dict], log: EventLog) -> dict[str, float]:
        o = ops[0]
        out: dict[str, float] = {}
        prev_end = o["cold_span"][0]
        for s in STAGES:
            st = o["stages"][s]
            folded = log.fold(log.jobs_in("op0.cold", after=prev_end, until=st["end"]))
            prev_end = st["end"]
            for f in STAGE_FIELDS:
                out[f"{s}.{f}"] = float(st[f] if f in st else folded[f])
        whole = log.fold(log.jobs_in("op0.cold"))
        rs = o["resume_stages"]
        out.update({
            "pipeline.jobs": whole["jobs"],
            "pipeline.spill_mb": whole["spill_mb"],
            "resume.read_s": sum(rs[s] for s in STAGES if s not in TAIL),
            "resume.s5_struct_features.wall_s": rs["s5_struct_features"],
            "resume.s5_char_sets.wall_s": rs["s5_char_sets"],
            "resume.s6.wall_s": rs["s6_concepts"] + rs["s6_assignments"],
        })
        return out


# ---------------------------------------------------------------------------
# lattice_ingest: closed-loop incremental lattice maintenance
# ---------------------------------------------------------------------------


def lattice_corpus(spark, lo: int, n: int, salt: str, batch=None):
    """``tools/big_lattice.py``'s shape, salted: a 40-item alphabet skewed
    quadratically toward hub items (u² of an md5-uniform u), intents of
    size 1-12. Generated executor-side from ``spark.range``; ``batch`` is
    an optional column expression over ``id`` kept alongside."""
    item = (
        f"concat('a', cast(cast(40 * pow(conv(substring(md5(concat('{salt}', id, ':', j)),"
        " 1, 6), 16, 10) / 16777216.0, 2) as double) as int))"
    )
    k = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))), 1, 4), 16, 10
    ).cast("long") % 12 + 1
    cols = [
        F.col("id").cast("string").alias("instance_id"),
        F.expr(f"array_sort(array_distinct(transform(sequence(0, k - 1), j -> {item})))")
        .alias("intent"),
    ]
    if batch is not None:
        cols.append(batch.alias("batch"))
    return spark.range(lo, lo + n).withColumn("k", k.cast("int")).select(*cols)


class LatticeIngest(Workload):
    BASE = 2000
    BATCH = 400
    N_BATCHES = 4
    # the base (batch 0) and batch 1 run each code path of a batch once,
    # untimed: they also pay the JVM's one-time class loading and codegen
    FIRST_TIMED = 2
    INPUT_REPS = 3

    def _salt(self) -> str:
        return f"seed{self.seed}:"

    def prepare_inputs(self) -> float:
        """Base and batches in one seeded write, partitioned by batch; it is
        written INPUT_REPS times and the median write counts."""
        n = self.BASE + self.N_BATCHES * self.BATCH
        batch = F.when(F.col("id") < self.BASE, 0).otherwise(
            F.floor((F.col("id") - self.BASE) / self.BATCH) + 1
        )
        times = []
        for r in range(self.INPUT_REPS):
            self.inputs = os.path.join(self.work, f"inputs{r}")
            with self.tracer.span(f"setup.inputs{r}") as sp:
                lattice_corpus(self.spark, 0, n, self._salt(), batch).write.partitionBy(
                    "batch"
                ).parquet(self.inputs)
            times.append(Tracer.seconds(sp))
            if r < self.INPUT_REPS - 1:
                shutil.rmtree(self.inputs)
        return _median(times)

    def _batch(self, b: int):
        return self.spark.read.parquet(os.path.join(self.inputs, f"batch={b}"))

    def op(self, i: int) -> dict:
        sd = os.path.join(self.work, f"state{i}")
        failures = []
        batches = []
        with BailCounter() as bails:
            for b in range(self.N_BATCHES + 1):
                if b == self.FIRST_TIMED:
                    reset_peak_rss()
                with self.tracer.span(f"op{i}.merge.b{b}") as merge:
                    merge_batch_into_state(self._batch(b), b, sd)
                with self.tracer.span(f"op{i}.materialize.b{b}") as mat:
                    h = hierarchy_from_state_dir(self.spark, sd)
                    n_concepts = h["concepts"].count()
                    n_assigned = h["assignments"].count()
                if n_assigned != self.BASE + b * self.BATCH:
                    failures.append(f"batch {b}: {n_assigned} assignments")
                batches.append({
                    "merge_s": Tracer.seconds(merge),
                    "materialize_s": Tracer.seconds(mat),
                    "concepts": n_concepts,
                    "driver": is_driver_branch(h["concepts"]),
                })
            py_peak_mb = peak_rss_mb()
        with self.tracer.span(f"op{i}.gate.batch_build"):
            union = self.spark.read.parquet(self.inputs).select("instance_id", "intent")
            ref = build_hierarchy(union)
            ref_c, ref_a = ref["concepts"].cache(), ref["assignments"].cache()
            # equal tables: the invariants of one hold for the other
            if any(invariant_violations(ref_c, ref_a).values()):
                failures.append("invariants")
            for part, table in (("concepts", ref_c), ("assignments", ref_a)):
                if rows_hash(table) != rows_hash(h[part]):
                    failures.append(f"incremental {part} differ from batch build")
            ref_c.unpersist()
            ref_a.unpersist()
        with self.tracer.span(f"op{i}.gate.state"):
            last = os.path.join(sd, "state", f"v{self.N_BATCHES}")
            state_rows = self.spark.read.parquet(last).count()
            state_mb = dir_mb(last)
        shutil.rmtree(sd)
        return {
            "batches": batches,
            "py_peak_mb": py_peak_mb,
            "bails": bails.bails,
            "state_rows": state_rows,
            "state_mb": state_mb,
            "failures": failures,
        }

    def summarize(self, ops: list[dict]) -> dict[str, float]:
        batch_s = [
            [x["merge_s"] + x["materialize_s"] for x in o["batches"][self.FIRST_TIMED:]]
            for o in ops
        ]
        return {
            "op_s": _median(t for ts in batch_s for t in ts),
            "items_per_s": _median(len(ts) * self.BATCH / sum(ts) for ts in batch_s),
            "py_peak_mb": _median(o["py_peak_mb"] for o in ops),
        }

    def layers(self, ops: list[dict], log: EventLog) -> dict[str, float]:
        o = ops[0]
        timed = o["batches"][self.FIRST_TIMED:]
        mat = [
            log.fold(log.jobs_in(f"op0.materialize.b{b}"))
            for b in range(self.FIRST_TIMED, self.N_BATCHES + 1)
        ]
        return {
            "ingest.merge.wall_s": _median(x["merge_s"] for x in timed),
            "ingest.merge.state_rows": float(o["state_rows"]),
            "ingest.merge.state_mb": o["state_mb"],
            "ingest.materialize.wall_s": _median(x["materialize_s"] for x in timed),
            "ingest.materialize.jobs": _median(m["jobs"] for m in mat),
            "ingest.materialize.task_s": _median(m["task_s"] for m in mat),
            "ingest.concepts": float(o["batches"][-1]["concepts"]),
            "ingest.driver_branch": float(all(x["driver"] for x in o["batches"])),
            "ingest.budget_bail": float(o["bails"]),
        }


WORKLOADS = {"pipeline_crawl": PipelineCrawl, "lattice_ingest": LatticeIngest}
