"""The benchmark's workloads, each driving the package's public API.

A workload generates its fixture (:meth:`Workload.prepare`, no JVM),
registers its inputs on a fresh session (:meth:`Workload.register`,
part of the timed set-up), runs one batch job per iteration
(:meth:`Workload.iterate`, returns what it observed while the job
ran) and checks that, untimed (:meth:`Workload.check`), against an
answer computed once per run (:meth:`Workload.reference`) or against
the fixture's planted truth. Traced runs also dump the final plans
(:meth:`Workload.plans`).

The iteration context ``ctx`` (see ``run.py``) provides ``span(name)``
for layer spans, ``phase("plan"|"action")`` to tag the Spark jobs run
while the plan is built apart from those of the terminal action, and
``scope()`` for the package's cache scope, ``pipeline_session``.
"""

from __future__ import annotations

import os
from dataclasses import replace

from perfbench import fixtures
from perfbench.harness import digest_of, observe_digest, row_hash


class CheckFailed(Exception):
    """An output did not match its answer."""


def _norm(v):
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.10g}"
    return str(v)


class Workload:
    name = ""
    input_rows = 0
    warm_iterations = 10  # unmeasured iterations after the cold one
    min_measured = 5      # measured iterations even past --seconds

    def __init__(self, root: str):
        self.root = root
        self.expected = None

    def prepare(self, work: str, seed: int) -> None:
        raise NotImplementedError

    def register(self, spark, ctx) -> None:
        raise NotImplementedError

    def iterate(self, spark, ctx):
        raise NotImplementedError

    def reference(self, spark, ctx) -> None:
        raise NotImplementedError

    def check(self, observed) -> None:
        if observed != self.expected:
            raise CheckFailed(f"observed {observed} != expected {self.expected}")

    def plans(self, spark, ctx) -> dict[str, object]:
        return {}

    def sink_files(self) -> str | None:
        return None


# ---------------------------------------------------------------------------
# topn_job: the reference config job, partitioned parquet out
# ---------------------------------------------------------------------------

class TopNJob(Workload):
    """``run_topn_job`` with the shipped ``config_dev`` processing
    block, input and output paths pointed at the fixture."""

    name = "topn_job"
    SF = 0.07  # TPC-H scale factor of the star join: about 420k line items

    def prepare(self, work, seed):
        import duckdb

        self.input = os.path.join(work, "top_products_input")
        self.output = os.path.join(work, "top_products_output")
        self.input_rows = fixtures.topn_table(self.input, seed, self.SF)
        con = duckdb.connect()
        try:
            self.answer = sorted(
                tuple(_norm(v) for v in r) for r in con.execute(f"""
                SELECT region, product, sales, rn AS "rank" FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY region ORDER BY sales DESC, product ASC) AS rn
                    FROM read_parquet('{self.input}/*.parquet'))
                WHERE rn <= 3""").fetchall()
            )
        finally:
            con.close()

    def register(self, spark, ctx):
        from top_produce_etl_spark.config import load_config

        with ctx.span("config.load_config"):
            cfg = load_config("dev", os.path.join(self.root, "configs"))
        self.cfg = replace(
            cfg,
            input=replace(cfg.input, path=self.input),
            output=replace(cfg.output, path=self.output),
        )

    def iterate(self, spark, ctx):
        from top_produce_etl_spark.plans.builder import run_topn_job

        metrics: dict[str, int] = {}
        with ctx.phase("plan"), ctx.span("plans.builder.run_topn_job"):
            self.last_out = run_topn_job(spark, self.cfg, metrics_out=metrics)
        return metrics

    def check(self, observed):
        """The job's observed ``rows_out``, the rows read back from the
        written files (with DuckDB, outside Spark) and the partition
        directories must match the oracle."""
        import duckdb

        parts = sorted(
            d for d in os.listdir(self.output)
            if os.path.isdir(os.path.join(self.output, d))
        )
        con = duckdb.connect()
        try:
            rows = sorted(
                tuple(_norm(v) for v in r) for r in con.execute(f"""
                SELECT region, product, sales, "rank" FROM read_parquet(
                    '{self.output}/*/*.parquet', hive_partitioning = true)""").fetchall()
            )
        finally:
            con.close()
        got = (int(observed.get("rows_out", -1)), tuple(rows), tuple(parts))
        if got != self.expected:
            raise CheckFailed(f"wrote {got}, expected {self.expected}")

    def reference(self, spark, ctx):
        self.expected = (
            len(self.answer), tuple(self.answer),
            tuple(f"region={r}" for r in fixtures.REGIONS),
        )
        if len(self.answer) != 15:
            raise CheckFailed(f"oracle gave {len(self.answer)} rows, want 15")

    def sink_files(self):
        return self.output

    def plans(self, spark, ctx):
        return {"topn_job": self.last_out}


# ---------------------------------------------------------------------------
# headline_mix: headline registry queries
# ---------------------------------------------------------------------------

# The star join and top-N window, session windows and vector
# similarity. The other ten headline queries, MinHash LSH and n-gram
# Jaccard pairs among them, are left out: with them a run cannot warm
# up and measure enough passes within the benchmark's time budget.
HEADLINE = (
    "flagship_top3_region", "session_windows_30m", "cosine_topk_bruteforce",
)


class HeadlineMix(Workload):
    """One iteration runs each :data:`HEADLINE` query once, each in
    its own cache scope, into the noop sink."""

    name = "headline_mix"
    SF = 0.001  # TPC-H scale factor: about 6k line items
    # a pass is mostly driver work: its JIT settles later than the
    # executor kernels of topn_job, and its median takes more passes
    warm_iterations = 12
    min_measured = 12

    def prepare(self, work, seed):
        self.sf_dir = os.path.join(work, "sf")
        self.input_rows = fixtures.star_schema(self.sf_dir, seed, self.SF)

    def register(self, spark, ctx):
        from top_produce_etl_spark.queries import get_all_queries

        with ctx.span("queries.registry"):
            reg = get_all_queries()
            self.queries = {q: reg[q] for q in HEADLINE}

    def iterate(self, spark, ctx):
        out = {}
        for q, fn in self.queries.items():
            with ctx.span(f"queries.{q}.wall"), ctx.scope():
                with ctx.phase("plan"), ctx.span(f"queries.{q}"):
                    df = fn(spark, self.sf_dir)
                df, obs = observe_digest(df, f"{q}_{ctx.iteration}")
                with ctx.phase("action"), ctx.span("io.sinks.noop"):
                    df.write.format("noop").mode("overwrite").save()
                ctx.after_action()
            out[q] = digest_of(obs)
        return out

    def reference(self, spark, ctx):
        """Each query's rows against its DuckDB oracle, compared as
        ``tests/oracle_check.py`` compares them."""
        import duckdb

        from top_produce_etl_spark.io.sources import TABLES
        from top_produce_etl_spark.queries import get_all_oracles

        oracles = get_all_oracles()
        con = duckdb.connect()
        expected, bad = {}, []
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
            for q, fn in self.queries.items():
                with ctx.scope():
                    df = fn(spark, self.sf_dir)
                    cols = sorted(df.columns)
                    got = df.select(*cols, row_hash(df).alias("__h")).collect()
                res = con.execute(oracles[q])
                dcols = [d[0] for d in res.description]
                order = sorted(range(len(dcols)), key=lambda i: dcols[i])
                want = sorted(tuple(_norm(r[i]) for i in order) for r in res.fetchall())
                mine = sorted(tuple(_norm(r[c]) for c in cols) for r in got)
                if [dcols[i] for i in order] != cols or mine != want:
                    bad.append(q)
                expected[q] = (len(got), sum(r["__h"] for r in got))
        finally:
            con.close()
        if bad:
            raise CheckFailed(f"oracle mismatch: {bad}")
        self.expected = expected

    def plans(self, spark, ctx):
        return {q: fn(spark, self.sf_dir) for q, fn in self.queries.items()}


WORKLOADS = {w.name: w for w in (TopNJob, HeadlineMix)}
