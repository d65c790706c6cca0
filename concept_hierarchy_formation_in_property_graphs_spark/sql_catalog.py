"""SQL surface over the engine: every registered query as a temp view.

A user who lives in SQL should not need the Python API to consume the
engine's outputs. :class:`LazyCatalog` registers (a) the raw tables of an
sf directory and (b) every ``queries.registry()`` entry as a view, so

    cat = LazyCatalog(spark, sf_dir)
    cat.sql("SELECT * FROM kg_concept_hierarchy").show()
    cat.sql(\"\"\"SELECT p.id, p.scaled_rank4, d.deg
               FROM kg_pagerank p JOIN kg_degrees d ON p.id = d.id
               ORDER BY p.scaled_rank4 DESC LIMIT 10\"\"\")

works, composes (views join against views and raw tables), and inherits
every physical-plan property of the DataFrame implementations — the view
is the SAME lazy plan, so Catalyst fuses user SQL on top of it (filters
push into the view, unused columns prune out of it).

Registration records only the builder thunks. Most builders are cheap
(one plan analysis), but the driver-coordinated ones (the hierarchy
family, pagerank's checkpointed iteration loop, the pipeline/fixture
``pl_*``/``mm_*`` stages) do real work when invoked, so a view's builder
runs on the FIRST ``catalog.sql(...)`` that references it: a session that
only ever touches three views pays for three.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from . import queries as _q
from .sources.tables import TPCH_TABLES, load_table

CATALOG_TABLES = tuple(TPCH_TABLES)  # already includes events/documents/embeddings

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class LazyCatalog:
    """SQL surface with deferred view construction.

    Registration stores only builder thunks (zero Spark work beyond the
    raw-table views); a query view is built the first time a
    ``catalog.sql(...)`` statement references its name. Referenced-name
    detection is a plain identifier scan of the SQL text — views never
    reference each other (builders compose in Python), so one level of
    materialization suffices, and a false positive (the name inside a
    string literal) merely builds a view early, never breaks a query.

        cat = LazyCatalog(spark, sf_dir)
        cat.sql("SELECT * FROM kg_pagerank ORDER BY scaled_rank4 DESC")
        # ^ pagerank's iteration loop ran here, not at construction

    Once built, a view is an ordinary temp view: later statements (and
    plain ``spark.sql``) see it at zero additional cost.
    """

    def __init__(self, spark: SparkSession, sf_dir: str,
                 include: list[str] | None = None):
        self._spark = spark
        self._sf_dir = sf_dir
        for t in CATALOG_TABLES:
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
        self._pending = {
            name: fn for name, fn in _q.registry().items()
            if include is None or name in include
        }
        self._built: dict[str, DataFrame] = {}

    @property
    def pending(self) -> list[str]:
        """View names registered but not yet built."""
        return sorted(self._pending)

    @property
    def built(self) -> list[str]:
        """View names whose builders have run."""
        return sorted(self._built)

    def materialize(self, name: str) -> DataFrame:
        """Force one view's builder now; idempotent.

        The builder stays in ``_pending`` until BOTH it and the view
        registration succeed — a builder that raises (transient executor
        loss, a missing fixture) must surface its own error on every
        retry, not a misleading TABLE_OR_VIEW_NOT_FOUND after the first.
        """
        if name in self._built:
            return self._built[name]
        fn = self._pending[name]
        df = fn(self._spark, self._sf_dir)
        df.createOrReplaceTempView(name)
        self._built[name] = df
        del self._pending[name]
        return df

    def sql(self, query: str) -> DataFrame:
        """Run SQL, building any referenced not-yet-built views first."""
        for ident in _IDENT.findall(query):
            if ident in self._pending:
                self.materialize(ident)
        return self._spark.sql(query)
