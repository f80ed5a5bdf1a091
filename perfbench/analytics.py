"""analytics_mix: registered relational and pipeline queries, built and
materialized one after another.

This is the floor-bound regime: at this scale each query's time is mostly
driver-side build (py4j and Catalyst analysis), job count and scheduling, so
it measures the registry and operator layers and Spark's per-job floor. The
vector index code is not exercised: queries that read an index, a bucketed
layout or a trained tokenizer are left out, because each would need a build
of 2 to 20 seconds in every run's set-up (the other workload measures the
index builds).
"""

from __future__ import annotations

import os

from . import datagen

# The workload: the first query of each of bench.py's nine families, in the
# order of bench.py's HEADLINE list, leaving out the queries whose build reads
# an index, bucketed layout or trained tokenizer that set-up would have to
# write first. Frozen here, with each query's family as bench.py names it, so
# that a later edit to bench.py cannot change the workload.
QUERIES = {
    "tpch_q1": "tpch",
    "window_topn_per_group": "relational",
    "knn_l2": "vector",
    "dedup_minhash_lsh": "dedup",
    "text_simhash": "text_fts",
    "events_sliding_window": "events",
    "db4ai_linreg_ols": "db4ai",
    "corpus_curation_pipeline": "pipeline",
    "multimodal_feature_stats": "multimodal",
}
FAMILIES = sorted(set(QUERIES.values()))

PASSES = 3  # timed passes over the queries per step
SF = 0.01  # 60,000 lineitem rows
CHECKED_PER_RUN = 3  # seed-drawn queries compared with their DuckDB oracles


class AnalyticsMix:
    name = "analytics_mix"

    def __init__(self, ctx, sf: float = SF):
        self.ctx = ctx
        self.sf = sf
        self.queries = list(QUERIES)
        self.order = [self.queries[i] for i in ctx.rng.permutation(len(self.queries))]
        self.checked = sorted(
            ctx.rng.choice(len(self.queries), CHECKED_PER_RUN, replace=False)
        )
        self.last_op: dict[str, object] = {}

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.ctx.work, "sf")
        datagen.write_star(self.sf_dir, self.sf, self.ctx.rng)

    def setup(self) -> None:
        from opengauss_vectordb_spark import registry

        registry.load_all_queries()
        self.fns = registry.QUERIES
        spark = self.ctx.spark
        # untimed warm-up: one pass compiles every plan the timed loop runs
        for name in self.queries:
            self.fns[name](spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    def step(self) -> None:
        """PASSES passes over every query, in the seed's order: each run
        times the same queries the same number of times, so runs differ only
        in data and order."""
        tracer, spark = self.ctx.tracer, self.ctx.spark
        for _ in range(PASSES):
            for name in self.order:
                def op():
                    with tracer.span("registry.build"):
                        df = self.fns[name](spark, self.sf_dir)
                    with tracer.span("spark.exec"):
                        df.write.format("noop").mode("overwrite").save()

                self.last_op[name], _ = self.ctx.loop.run(name, op)

    def check(self) -> None:
        """Compare the seed-drawn queries with their DuckDB oracles; a
        mismatch marks that query's last timed operation as failed."""
        from opengauss_vectordb_spark import registry
        from tests.oracle_harness import compare

        for i in self.checked:
            name = self.queries[i]
            op = self.last_op.get(name)
            if op is None:
                continue
            try:
                problems = compare(
                    self.fns[name](self.ctx.spark, self.sf_dir),
                    registry.ORACLES[name], self.sf_dir,
                )
            except Exception as exc:  # noqa: BLE001 - a failed check is a wrong result
                problems = [f"{type(exc).__name__} while checking"]
            if problems:
                self.ctx.loop.mark_wrong(op, f"{name}: {problems[0]}")

    def layer_metrics(self, spans, own) -> dict[str, float]:
        """registry.build_s overall and per family, spark.exec_s per family:
        mean seconds per query."""
        kinds = {o.op_id: o.kind for o in self.ctx.loop.ops}
        build: dict[str, list[float]] = {f: [] for f in FAMILIES}
        execs: dict[str, list[float]] = {f: [] for f in FAMILIES}
        for s in spans:
            if s.op is None or s.op not in kinds:
                continue
            fam = QUERIES[kinds[s.op]]
            if s.name == "registry.build":
                build[fam].append(s.end - s.start)
            elif s.name == "spark.exec":
                execs[fam].append(s.end - s.start)
        all_b = [x for v in build.values() for x in v]
        all_e = [x for v in execs.values() for x in v]
        out = {
            "registry.build_s": _mean(all_b),
            "registry.build_share": sum(all_b) / max(sum(all_b) + sum(all_e), 1e-12),
        }
        for f in FAMILIES:
            out[f"registry.build_s.{f}"] = _mean(build[f])
            out[f"spark.exec_s.{f}"] = _mean(execs[f])
        return out


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
