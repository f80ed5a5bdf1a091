"""vector_ingest: datavec's write path (index appends, vacuum, compaction and
managed-table DML) interleaved with its read path (canonical ANN SQL routed
to IVF, filtered ANN, Engine.knn routed to HNSW, exact scans and batch k-NN
joins).

Writes and reads run against the same indexes in one closed loop, so a change
that speeds reads at the expense of writes, or of on-disk space, shows here.
Every output is checked after the timed region against numpy ground truth
over the vectors that were live in the structure the operation read.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from . import datagen
from .harness import Op, data_files, dir_bytes

K = 10
PROBES = 3
READS = 3  # passes over the four search shapes per round
# Mean recall@10 below these floors fails the run: the index then returns
# wrong neighbours, not merely approximate ones.
IVF_RECALL_FLOOR = 0.5
HNSW_RECALL_FLOOR = 0.7
FIRST_APPENDED_ID = 1_000_000


@dataclass
class Scale:
    base: int = 1_000  # indexed vectors at set-up
    lists: int = 8  # IVF lists
    flat: int = 10_000  # rows of the exact-scan table
    batch: int = 100  # vectors appended per round
    vacuum: int = 20  # vectors deleted per round
    rounds: int = 8  # rounds of inputs generated; a timed region runs one or two
    queries: int = 256  # pool of query vectors
    join_queries: int = 8  # queries of the batch k-NN joins


def _lit(v: np.ndarray) -> str:
    return "[" + ",".join(repr(float(x)) for x in v) + "]"


def topk(X: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int = K) -> np.ndarray:
    """Exact top-k ids by L2 distance, ties broken by id (the engine's
    order), in float64 from the float32 values."""
    d = ((X.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
    return ids[np.lexsort((ids, d))[:k]]


class VectorIngest:
    name = "vector_ingest"

    def __init__(self, ctx, scale: Scale | None = None):
        self.ctx = ctx
        self.s = scale or Scale()
        self.pending: list[tuple[Op, Callable[[], str | None]]] = []
        self.recall: dict[str, list[float]] = {"ivf": [], "hnsw": []}
        self.texts: list[str] = []
        self.appended = 0
        self.round = 0

    # ------------------------------------------------------------ inputs
    def generate(self) -> None:
        s, rng, work = self.s, self.ctx.rng, self.ctx.work
        self.sf_dir = os.path.join(work, "sf")
        centres = datagen.mixture_centres(rng)
        X0, c0 = datagen.mixture(rng, s.base, centres)
        datagen.write_star(self.sf_dir, 0.0001, rng, embeddings=(X0, c0 % 10))
        # embeddings_h is a directory table: each round adds its batch file,
        # so the HNSW-indexed table holds every inserted vector
        self.h_dir = os.path.join(self.sf_dir, "embeddings_h.parquet")
        os.makedirs(self.h_dir)
        datagen.write_embeddings(self.h_dir, "base", np.arange(s.base), X0, c0 % 10)
        XF, cF = datagen.mixture(rng, s.flat, centres)
        datagen.write_embeddings(self.sf_dir, "flat", np.arange(s.flat), XF, cF % 10)
        self.batch_dir = os.path.join(work, "batches")
        os.makedirs(self.batch_dir)
        Xs, labels = [X0], [c0 % 10]
        for r in range(s.rounds):
            Xb, cb = datagen.mixture(rng, s.batch, centres)
            ids = FIRST_APPENDED_ID + r * s.batch + np.arange(s.batch)
            datagen.write_embeddings(self.batch_dir, f"b{r}", ids, Xb, cb % 10)
            Xs.append(Xb)
            labels.append(cb % 10)
        # every vector of the run, base first, then the batches in order
        self.all_X = np.concatenate(Xs)
        self.all_labels = np.concatenate(labels)
        self.all_ids = np.concatenate(
            [np.arange(s.base), FIRST_APPENDED_ID + np.arange(s.rounds * s.batch)])
        self.queries, qc = datagen.mixture(rng, s.queries, centres)
        self.query_labels = qc % 10
        self.vacuum_draws = rng.random((s.rounds, s.vacuum))
        self.XF = XF
        # which vectors each structure holds now
        self.live = {
            name: np.arange(len(self.all_ids)) < s.base
            for name in ("ivf", "hnsw", "table")
        }
        self.qi = 0

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        from opengauss_vectordb_spark.engine import Engine

        s, tracer = self.s, self.ctx.tracer
        with tracer.span("engine.init"):
            self.eng = Engine(self.ctx.spark, sf_dir=self.sf_dir)
        self._sql(f"CREATE INDEX ON embeddings USING ivfflat "
                  f"(embedding vector_l2_ops) WITH (lists = {s.lists})")
        self._sql("CREATE INDEX ON embeddings_h USING hnsw (embedding vector_l2_ops)")
        self._sql(f"SET ivfflat.probes = {PROBES}")
        self.ivf = self.eng.ann.lookup("embeddings", "embedding")
        self.hnsw = self.eng.ann.lookup("embeddings_h", "embedding")
        with tracer.span("ddl_tables.ctas"):
            self._sql("CREATE TABLE vec_rows AS SELECT vec_id, label FROM embeddings")
        # untimed warm-up of each read shape, on a base vector
        q = self.all_X[0]
        self._sql(self._ann_text(q)).collect()
        self._sql(self._ann_text(q, label=int(self.all_labels[0]))).collect()
        self._knn(q).collect()
        self._exact(q).collect()
        self.texts.clear()

    def _sql(self, text: str):
        self.texts.append(text)
        with self.ctx.tracer.span("engine.sql"):
            return self.eng.sql(text)

    def _ann_text(self, q: np.ndarray, label: int | None = None) -> str:
        where = f"WHERE label = {label} " if label is not None else ""
        return f"SELECT * FROM embeddings {where}ORDER BY embedding <-> '{_lit(q)}' LIMIT {K}"

    def _knn(self, q: np.ndarray):
        return self.eng.knn("embeddings_h", "embedding", q.tolist(), K, id_col="vec_id")

    def _exact(self, q: np.ndarray):
        from opengauss_vectordb_spark.vector import exact

        return exact.knn(self.eng.table("flat"), "embedding", q.tolist(), K, id_col="vec_id")

    def _collect(self, df):
        with self.ctx.tracer.span("spark.exec"):
            return df.collect()

    def _next_query(self) -> tuple[np.ndarray, int]:
        i = self.qi % len(self.queries)
        self.qi += 1
        return self.queries[i], int(self.query_labels[i])

    # ------------------------------------------------------------ timed loop
    def step(self) -> None:
        """One round: append a batch to every structure, read it back, search,
        join a query batch, delete a seeded slice from every structure and
        compact the IVF layout. Every round runs the same operations, so
        runs differ only in data."""
        from pyspark.sql import functions as F

        from opengauss_vectordb_spark.catalog import invalidate_table_cache
        from opengauss_vectordb_spark.vector import exact, maintenance

        s, spark, run = self.s, self.ctx.spark, self.ctx.loop.run
        r = self.round
        if r == s.rounds:
            raise RuntimeError(f"the timed loop outran the {s.rounds} generated rounds")
        self.round += 1
        rows = slice(s.base + r * s.batch, s.base + (r + 1) * s.batch)
        ids, Xb = self.all_ids[rows], self.all_X[rows]
        path = os.path.join(self.batch_dir, f"b{r}.parquet")
        bdf = spark.read.parquet(path)
        bdf.createOrReplaceTempView("ingest_batch")

        run("ivf_append", lambda: maintenance.append_to_index(spark, self.ivf, bdf, "embedding"))
        self.live["ivf"][rows] = True
        shutil.copy(path, os.path.join(self.h_dir, f"b{r}.parquet"))
        invalidate_table_cache(self.sf_dir)
        run("hnsw_append", lambda: self.hnsw.append(spark, bdf, "embedding", "vec_id"))
        self.live["hnsw"][rows] = True
        run("table_insert", lambda: self._sql(
            "INSERT INTO vec_rows SELECT vec_id, label FROM ingest_batch").collect())
        self.live["table"][rows] = True
        self.appended += len(ids)

        j = r % s.batch
        op, got = run("ivf_self_lookup", lambda: self._collect(self._sql(self._ann_text(Xb[j]))))
        self._expect_self(op, got, int(ids[j]), "vec_id", "ivf")
        op, got = run("hnsw_self_lookup", lambda: self._collect(
            self.hnsw.search(spark, Xb[j].tolist(), K, ef_search=None)))
        self._expect_self(op, got, int(ids[j]), "id", "hnsw")
        for _ in range(READS):
            q, _c = self._next_query()
            op, got = run("ann_sql", lambda: self._collect(self._sql(self._ann_text(q))))
            self._expect_recall(op, got, "ivf", q, None)
            q, c = self._next_query()
            op, got = run("ann_sql_filtered",
                          lambda: self._collect(self._sql(self._ann_text(q, label=c))))
            self._expect_recall(op, got, "ivf", q, c)
            q, _c = self._next_query()
            op, got = run("hnsw_knn", lambda: self._collect(self._knn(q)))
            self._expect_recall(op, got, "hnsw", q, None)
            q, _c = self._next_query()
            op, got = run("exact_knn", lambda: self._collect(self._exact(q)))
            self._expect_exact(op, got, [q])
        Q = np.stack([self._next_query()[0] for _ in range(s.join_queries)])
        qdf = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(Q)], "qid INT, qv ARRAY<DOUBLE>")
        op, got = run("ivf_knn_join", lambda: self._collect(self.ivf.knn_join(
            spark, qdf, "qv", "embedding", k=K, probes=PROBES,
            query_id="qid", cand_id="vec_id")))
        self._expect_join_recall(op, got, Q)
        op, got = run("exact_knn_join", lambda: self._collect(exact.knn_join(
            qdf, self.eng.table("flat"), "qv", "embedding", k=K,
            query_id="qid", cand_id="vec_id")))
        self._expect_exact(op, got, Q)

        # vacuum a seeded slice of the vectors live in the IVF index
        live_pos = np.flatnonzero(self.live["ivf"])
        pick = live_pos[np.unique((self.vacuum_draws[r] * len(live_pos)).astype(int))]
        gone = [int(x) for x in self.all_ids[pick]]
        run("ivf_vacuum", lambda: maintenance.vacuum_delete(
            spark, self.ivf, F.col("vec_id").isin(gone)))
        self.live["ivf"][pick] = False
        run("hnsw_vacuum", lambda: self.hnsw.vacuum_delete(spark, F.col("id").isin(gone)))
        self.live["hnsw"][pick] = False
        run("table_delete", lambda: self._sql(
            f"DELETE FROM vec_rows WHERE vec_id IN ({','.join(map(str, gone))})").collect())
        self.live["table"][pick] = False
        run("compact", lambda: maintenance.compact(spark, self.ivf))

    # ------------------------------------------------------------ checks
    # Each read's check is built when the read returns, from a copy of the
    # live set it read, and run after the timed region.
    def _live(self, index: str, label: int | None = None):
        m = self.live[index].copy()
        if label is not None:
            m &= self.all_labels == label
        return self.all_ids[m], self.all_X[m]

    def _expect_self(self, op, rows, vid: int, id_col: str, index: str) -> None:
        live_ids = set(self._live(index)[0].tolist())

        def check():
            if not rows or int(rows[0][id_col]) != vid or abs(rows[0]["distance"]) > 1e-9:
                return f"self-lookup of {vid} returned {rows[0][id_col] if rows else None}"
            return _only_live(rows, id_col, live_ids)
        self.pending.append((op, check))

    def _expect_recall(self, op, rows, index: str, q, label) -> None:
        ids, X = self._live(index, label)

        def check():
            got = [int(r["vec_id"]) for r in rows]
            truth = topk(X, ids, q).tolist()
            self.recall[index].append(len(set(truth) & set(got)) / len(truth))
            if len(got) != len(truth):
                return f"{len(got)} rows, expected {len(truth)}"
            return _only_live(rows, "vec_id", set(ids.tolist()))
        self.pending.append((op, check))

    def _expect_join_recall(self, op, rows, Q) -> None:
        ids, X = self._live("ivf")

        def check():
            for qi, q in enumerate(Q):
                got = {int(r["vec_id"]) for r in rows if r["qid"] == qi}
                truth = set(topk(X, ids, q).tolist())
                self.recall["ivf"].append(len(truth & got) / len(truth))
            return _only_live(rows, "vec_id", set(ids.tolist()))
        self.pending.append((op, check))

    def _expect_exact(self, op, rows, Q) -> None:
        """Exact results must equal numpy's ids, in order. ``rows`` is a
        top-k scan (one query) or a k-NN join (rows tagged qid and _rn)."""
        def check():
            ids = np.arange(self.s.flat)
            for qi, q in enumerate(Q):
                mine = rows if len(Q) == 1 else sorted(
                    (r for r in rows if r["qid"] == qi), key=lambda r: r["_rn"])
                got = [int(r["vec_id"]) for r in mine]
                want = topk(self.XF, ids, q).tolist()
                if got != want:
                    return f"exact ids {got[:3]}... differ from numpy {want[:3]}..."
            return None
        self.pending.append((op, check))

    def check(self) -> None:
        """Run the deferred output checks, then compare the final contents of
        both indexes and the managed table with the live sets; a wrong final
        state fails the run's last operation."""
        loop, spark = self.ctx.loop, self.ctx.spark
        for op, check in self.pending:
            if op.error is None:
                reason = check()
                if reason:
                    loop.mark_wrong(op, reason)
        last = loop.ops[-1]
        ivf_rows = [r.vec_id for r in self.ivf.data(spark).select("vec_id").collect()]
        self.layout_rows = len(ivf_rows)
        held = {
            "ivf": set(ivf_rows),
            "hnsw": {r.id for r in self.hnsw.graph(spark).select("id").collect()},
            "table": {r.vec_id for r in self.eng.sql("SELECT vec_id FROM vec_rows").collect()},
        }
        for name, ids in held.items():
            want = set(self._live(name)[0].tolist())
            if ids != want:
                loop.mark_wrong(last, f"{name} holds {len(ids)} ids, {len(want)} live")
        for index, floor in (("ivf", IVF_RECALL_FLOOR), ("hnsw", HNSW_RECALL_FLOOR)):
            vals = self.recall[index]
            if vals and np.mean(vals) < floor:
                loop.mark_wrong(last, f"{index} recall@10 {np.mean(vals):.3f} < {floor}")

    # ------------------------------------------------------------ metrics
    def layer_metrics(self, spans, own) -> dict[str, float]:
        from opengauss_vectordb_spark.functions.sql_compat import translate

        ops = self.ctx.loop.ops
        kind_of = {o.op_id: o.kind for o in ops}
        secs: dict[str, list[float]] = {}
        for o in ops:
            secs.setdefault(o.kind, []).append(o.seconds)
        ivf_reads = {"ivf_self_lookup", "ann_sql", "ann_sql_filtered"}

        def in_ops(name, kinds=None):
            return [s.end - s.start for s in spans if s.name == name and s.op is not None
                    and (kinds is None or kind_of.get(s.op) in kinds)]

        def in_setup(name):
            return sum(s.end - s.start for s in spans if s.name == name and s.op is None)

        start = time.perf_counter()
        for text in self.texts:
            translate(text)
        translate_s = (time.perf_counter() - start) / max(len(self.texts), 1)

        counts = self.ctx.tracer.op_counts
        ivf_ops = [o for o in ops if o.kind in ivf_reads]
        records = (self.ctx.event_log or {}).get("per_group_input_records", {})
        build_s = in_setup("ivf.build") + in_setup("hnsw.build")
        append_s = sum(secs.get("ivf_append", [])) + sum(secs.get("hnsw_append", []))
        live_bytes = int(self.live["ivf"].sum()) * datagen.DIM * 4
        ivf_data = os.path.join(self.ivf.path, "data")
        route = [t for s, t in zip(spans, own) if s.name == "ann_rewrite.topk" and s.op]
        return {
            "catalog.register_views_s": in_setup("catalog.register_views"),
            "engine.sql_s": _mean(in_ops("engine.sql")),
            "engine.translate_s": translate_s,
            "ann_rewrite.route_s": _mean(route),
            "ivf.build_s": in_setup("ivf.build"),
            "ivf.search_call_s": _mean(in_ops("ivf.search", ivf_reads)),
            "ivf.search_exec_s": _mean(in_ops("spark.exec", ivf_reads)),
            "ivf.jobs_per_search": _mean([counts[o.op_id][0] for o in ivf_ops]),
            "ivf.rows_read_per_result": sum(records.get(o.op_id, 0) for o in ivf_ops)
            / max(K * len(ivf_ops), 1),
            "ivf.recall_at_10": _mean(self.recall["ivf"]),
            "ivf.knn_join_s": _mean(secs.get("ivf_knn_join", [])),
            "hnsw.build_s": in_setup("hnsw.build"),
            "hnsw.search_s": _mean(secs.get("hnsw_knn", []) + secs.get("hnsw_self_lookup", [])),
            "hnsw.append_s": _mean(secs.get("hnsw_append", [])),
            "hnsw.recall_at_10": _mean(self.recall["hnsw"]),
            "exact.knn_s": _mean(secs.get("exact_knn", [])),
            "exact.knn_join_s": _mean(secs.get("exact_knn_join", [])),
            "exact.rows_per_s": self.s.flat * len(secs.get("exact_knn", []))
            / max(sum(secs.get("exact_knn", [])), 1e-12),
            "maintenance.append_s": _mean(secs.get("ivf_append", [])),
            "maintenance.vacuum_delete_s": _mean(secs.get("ivf_vacuum", [])),
            "maintenance.compact_s": _mean(secs.get("compact", [])),
            "maintenance.files_per_list": data_files(ivf_data) / self.s.lists,
            "maintenance.layout_rows_per_live_vector":
                self.layout_rows / max(int(self.live["ivf"].sum()), 1),
            "ddl_tables.ctas_s": in_setup("ddl_tables.ctas"),
            "ddl_tables.insert_s": _mean(secs.get("table_insert", [])),
            "ddl_tables.delete_s": _mean(secs.get("table_delete", [])),
            "ddl_tables.files_written": float(
                data_files(os.path.join(self.eng.managed_tables.root, "vec_rows"))),
            # both indexes over the base, then every appended vector twice
            "vector.ingest_vectors_per_s":
                (2 * self.s.base + 2 * self.appended) / max(build_s + append_s, 1e-12),
            "vector.index_bytes_per_vector_byte":
                (dir_bytes(ivf_data) + dir_bytes(os.path.join(self.hnsw.path, "graph")))
                / max(live_bytes, 1),
        }


def _only_live(rows, id_col: str, live_ids: set[int]) -> str | None:
    """Reason to fail when ``rows`` hold an id not live in the structure
    read (a vacuumed or never-inserted vector)."""
    dead = {int(r[id_col]) for r in rows} - live_ids
    return f"ids not live returned: {sorted(dead)[:3]}" if dead else None


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
