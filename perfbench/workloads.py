"""The benchmark's workloads: inputs, set-up, operations and checks.

Every workload is a closed loop with one client: the next operation is
issued only when the previous one has returned. ``op(i)`` returns an
:class:`Op` whose ``run`` is timed; its ``check`` runs after the timed
loop. Calls into the engine are wrapped in tracer spans named after the
engine module they enter (``plans.build``, ``operators.sparse.search``,
``federation.fetch``, ...); the spans record nothing in untraced runs.
"""

from __future__ import annotations

import random
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import datagen


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    # read-only operations can be repeated, which the traced run uses to
    # pair a traced and an untraced execution of the same request
    read_only: bool = True


class Workload:
    name = ""
    # ops come in whole passes of this many (0: any op count)
    pass_len = 0
    # latency_tail_s: the highest percentile that keeps ten samples beyond
    # it at the op count a --seconds 10 run reaches, where there is one
    tail_pct: float

    def __init__(self, spark, tracer, run_dir: Path, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.data = run_dir / "data"
        self.seed = seed
        self.rng = random.Random(seed)

    def inputs(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def may_stop(self, n_done: int) -> bool:
        return not self.pass_len or n_done % self.pass_len == 0

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics the workload derives from its checks."""
        return {}

    def close(self) -> None:
        pass


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


# --------------------------------------------------------------------- #
# tpch_power
# --------------------------------------------------------------------- #
TPCH_SF = 0.01
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


class TpchPower(Workload):
    """All 22 registered TPC-H queries per pass, in a seed-permuted
    order; a run always ends on a pass boundary. Results are a few
    hundred rows at most, so ``collect()`` materializes them and every
    timed result is checked."""

    name = "tpch_power"
    pass_len = 22
    tail_pct = 0.545  # ten of a pass's 22 queries beyond it

    def inputs(self) -> None:
        datagen.star_tables(self.data, TPCH_SF, self.seed, TPCH_TABLES)

    def setup(self) -> None:
        from distributed_query_engine_spark.registry import all_oracles, all_queries

        qs = all_queries()
        self.names = ["flagship"] + sorted(n for n in qs if n.startswith("tpch_q"))
        if len(self.names) != self.pass_len:
            raise RuntimeError(f"expected 22 TPC-H queries, found {self.names}")
        self.queries = {n: qs[n] for n in self.names}
        oracles = all_oracles()
        self.oracles = {n: oracles[n] for n in self.names}
        self._want: dict[str, tuple] = {}
        self.duck = duckdb.connect()
        for t in TPCH_TABLES:
            self.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        # warm-up: one untimed pass, four queries at a time (same JIT and
        # codegen warm-up as a serial pass in about two thirds the time)
        sf = str(self.data)
        with ThreadPoolExecutor(4) as ex:
            for f in [ex.submit(lambda n=n: self.queries[n](self.spark, sf).collect())
                      for n in self.names]:
                f.result()
        self.order: list[str] = []

    def op(self, i: int) -> Op:
        if i % self.pass_len == 0:
            self.order = list(self.names)
            self.rng.shuffle(self.order)
        name = self.order[i % self.pass_len]
        tr, sf = self.tracer, str(self.data)

        def run():
            with tr.span("plans.build", jobs=True):
                df = self.queries[name](self.spark, sf)
            with tr.span("plans.exec", jobs=True):
                return _collect(df)

        return Op(name, run, lambda got: self._check(name, got))

    def _check(self, name: str, got) -> str | None:
        if name not in self._want:
            rel = self.duck.sql(self.oracles[name])
            self._want[name] = rel.columns, rel.fetchall()
        want_cols, want_rows = self._want[name]
        return checks.compare_rows(got[0], got[1], want_cols, want_rows)

    def close(self) -> None:
        self.duck.close()


# --------------------------------------------------------------------- #
# search_mixed
# --------------------------------------------------------------------- #
SEARCH_CORPUS = 2000  # indexed vectors / documents at set-up
SEARCH_HELD_OUT = 200  # seed-held-out rows, appended during the run
APPEND_BATCH = 20
PANEL = 5  # query rows per search request
TOP_K = 5
# A run is whole cycles, so every run has the same mix: both append kinds
# first, then four searches that see the appended rows.
SEARCH_CYCLE = ("append_vectors", "append_documents", "ann", "bm25", "ann", "bm25")


class SearchMixed(Workload):
    """Retrieval serving against indexes built at set-up: IVF-PQ ANN and
    BM25 searches over seed-drawn query panels, with appends of
    seed-held-out vectors and documents in the same loop."""

    name = "search_mixed"
    pass_len = len(SEARCH_CYCLE)
    # one or two cycles of six requests have no percentile with ten beyond
    # it; the tail is the second or third slowest request
    tail_pct = 0.8

    def inputs(self) -> None:
        n = SEARCH_CORPUS + SEARCH_HELD_OUT
        vecs = datagen.embeddings(self.data, n, self.seed, name="embeddings_all")
        texts = datagen.documents(self.data, n, self.seed, name="documents_all")
        held = set(random.Random(self.seed * 7 + 1).sample(range(n), SEARCH_HELD_OUT))
        self.held_out = sorted(held)
        self.base_ids = [i for i in range(n) if i not in held]
        self.all_vecs = {i: vecs[i] for i in range(n)}
        self.all_texts = dict(enumerate(texts))
        # the indexed corpus and one parquet file per append batch
        for src, dst in (("embeddings_all", "embeddings"), ("documents_all", "documents")):
            tbl = pq.read_table(self.data / f"{src}.parquet")
            key = tbl.column_names[0]
            mask = np.isin(tbl.column(key).to_numpy(), self.held_out, invert=True)
            pq.write_table(tbl.filter(mask), self.data / f"{dst}.parquet")
            for b in range(SEARCH_HELD_OUT // APPEND_BATCH):
                ids = self.held_out[b * APPEND_BATCH : (b + 1) * APPEND_BATCH]
                part = tbl.filter(np.isin(tbl.column(key).to_numpy(), ids))
                pq.write_table(part, self.data / f"{dst}_new_{b}.parquet")

    def setup(self) -> None:
        from distributed_query_engine_spark import catalog
        from distributed_query_engine_spark.operators import similarity as S
        from distributed_query_engine_spark.operators import sparse as SP

        self.S, self.SP, self.catalog = S, SP, catalog
        self.emb = catalog.read_parquet_table(self.spark, str(self.data / "embeddings.parquet"))
        self.docs = catalog.read_parquet_table(self.spark, str(self.data / "documents.parquet"))
        self.ivf = str(self.run_dir / "ivfpq_index")
        self.bm25 = self.run_dir / "bm25_index"
        self.tbl = f"perfbench_bm25_{self.seed}"
        tr = self.tracer

        def build_ivfpq():
            with tr.span("operators.similarity.build", jobs=True):
                S.build_ivfpq_index(self.emb, self.ivf)

        def build_bm25():
            with tr.span("operators.sparse.build", jobs=True):
                SP.write_bm25_index(self.spark, self.docs, self.bm25, self.tbl)

        # the two indexes are independent, so they build side by side, and
        # the warm-up sends one request of each search kind side by side
        # (results unchecked)
        _concurrently(build_ivfpq, build_bm25)
        _concurrently(*(self._search(kind, self._panel()) for kind in ("ann", "bm25")))
        self.vectors = {i: self.all_vecs[i] for i in self.base_ids}
        self.texts = {i: self.all_texts[i] for i in self.base_ids}
        self.appended = {"vectors": 0, "documents": 0}
        self.recalls: list[float] = []

    def _panel(self) -> list[int]:
        return sorted(self.rng.sample(self.base_ids, PANEL))

    def _search(self, kind: str, panel: list[int]):
        tr, S, SP = self.tracer, self.S, self.SP
        if kind == "ann":
            def run():
                with tr.span("operators.similarity.search", jobs=True):
                    df = S.topk_l2_ivfpq_index(self.spark, self.ivf, self.emb, panel, k=TOP_K)
                    return [tuple(r) for r in df.collect()]
        else:
            def run():
                with tr.span("operators.sparse.tokenize", jobs=True):
                    rel = SP.tf_dl_relation(self.docs.filter(F.col("doc_id").isin(panel)))
                    qterms = [
                        (r["q_id"], r["tok"])
                        for r in rel.select(F.col("doc_id").alias("q_id"), "tok").collect()
                    ]
                with tr.span("operators.sparse.search", jobs=True):
                    df = SP.bm25_search_index(
                        self.spark, str(self.data), qterms, k=TOP_K, base=self.bm25, tbl=self.tbl
                    )
                    return [tuple(r) for r in df.select("q_id", "doc_id", "score_milli", "rn").collect()]
        return run

    def op(self, i: int) -> Op:
        kind = SEARCH_CYCLE[i % len(SEARCH_CYCLE)]
        if kind.startswith("append_"):
            return self._append_op(kind.removeprefix("append_"))
        panel = self._panel()
        run = self._search(kind, panel)
        if kind == "ann":
            # the corpus as this request sees it (appends land between requests)
            vectors = dict(self.vectors)

            def check(got):
                recall, why = checks.ann_recall(got, vectors, panel, TOP_K)
                self.recalls.append(recall)
                return why

            return Op("ann", run, check)
        texts = dict(self.texts)
        return Op("bm25", run, lambda got: checks.check_bm25(got, texts, panel, TOP_K))

    def _append_op(self, what: str) -> Op:
        b = self.appended[what]
        if b >= SEARCH_HELD_OUT // APPEND_BATCH:
            raise RuntimeError("out of held-out rows to append; raise SEARCH_HELD_OUT")
        ids = self.held_out[b * APPEND_BATCH : (b + 1) * APPEND_BATCH]
        self.appended[what] += 1
        tr, S, SP = self.tracer, self.S, self.SP
        if what == "vectors":
            self.vectors.update((i, self.all_vecs[i]) for i in ids)

            def run():
                new = self.catalog.read_parquet_table(
                    self.spark, str(self.data / f"embeddings_new_{b}.parquet"))
                with tr.span("operators.similarity.append", jobs=True):
                    S.append_to_ivfpq_index(self.spark, new, self.ivf)
        else:
            self.texts.update((i, self.all_texts[i]) for i in ids)

            def run():
                new = self.catalog.read_parquet_table(
                    self.spark, str(self.data / f"documents_new_{b}.parquet"))
                with tr.span("operators.sparse.append", jobs=True):
                    SP.append_to_bm25_index(self.spark, new, self.bm25, self.tbl)

        # an append is checked through every later search, whose
        # reference corpus includes the appended rows
        return Op(f"append_{what}", run, lambda got: None, read_only=False)

    def layer_metrics(self) -> dict[str, float]:
        if not self.recalls:
            return {}
        return {"operators.similarity.recall_at_5": float(np.mean(self.recalls))}

    def close(self) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self.tbl}")


# --------------------------------------------------------------------- #
# federated_lookup
# --------------------------------------------------------------------- #
FED_SF = 0.1
FED_ORDERS = round(1_500_000 * FED_SF)  # datagen's row counts at FED_SF
FED_CUSTOMERS = round(150_000 * FED_SF)
FED_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
FED_KINDS = ("range", "point", "top")


class FederatedLookup(Workload):
    """Request-sized reads of an ``orders`` table that lives in an
    embedded Derby database, each through ``federated_scan`` (the
    dialect-shaped pushdown SELECT) and collected: key ranges, point
    predicates on a non-key column, and ordered ``limit`` pages."""

    name = "federated_lookup"
    tail_pct = 0.8  # 70-160 requests a run, 14-32 beyond it

    def inputs(self) -> None:
        datagen.star_tables(self.data, FED_SF, self.seed, ("orders",))

    def setup(self) -> None:
        from distributed_query_engine_spark import federation as FED
        from distributed_query_engine_spark.catalog import read_parquet_table

        self.FED = FED
        derby = FED.DerbyDatabase(
            name="warehouse", host="", port=0, database=str(self.run_dir / "derby" / "orders")
        )
        orders = read_parquet_table(self.spark, str(self.data / "orders.parquet"))
        with self.tracer.span("federation.seed", jobs=True):
            (
                orders.select(*FED_COLS)
                .coalesce(1)
                .write.mode("overwrite")
                .option("driver", derby.driver)
                .option("createTableColumnTypes", "o_orderstatus VARCHAR(1)")
                .jdbc(derby.connection_string(), "orders_fed", properties=derby.jdbc_properties())
            )
        registry = FED.RdbmsRegistry()
        registry.register(derby)
        # the scan consults the JSON round-tripped registry, as a
        # deployment that persists its connector entries would
        self.registry = FED.RdbmsRegistry.from_json(registry.to_json())
        import duckdb

        self.duck = duckdb.connect()
        self.duck.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{self.data}/orders.parquet')"
        )
        for i in range(6):
            self.op(i).run()

    def _request(self, i: int) -> tuple[str, dict]:
        kind = FED_KINDS[i % len(FED_KINDS)]
        r = self.rng
        if kind == "range":
            lo = r.randrange(FED_ORDERS - 100)
            return kind, {"predicates": [f'"o_orderkey" BETWEEN {lo} AND {lo + 99}']}
        if kind == "point":
            return kind, {"predicates": [f'"o_custkey" = {r.randrange(FED_CUSTOMERS)}']}
        lo = r.randrange(FED_CUSTOMERS - 200)
        status = r.choice("FOP")
        return kind, {
            "predicates": [
                f"\"o_orderstatus\" = '{status}'",
                f'"o_custkey" BETWEEN {lo} AND {lo + 199}',
            ],
            "order_by": ["o_totalprice", "o_orderkey"],
            "limit": 10,
        }

    def op(self, i: int) -> Op:
        kind, req = self._request(i)
        tr = self.tracer

        def run():
            with tr.span("federation.scan", jobs=True):
                df = self.FED.federated_scan(
                    self.spark, self.registry, "warehouse", "ORDERS_FED", columns=FED_COLS, **req
                )
            with tr.span("federation.fetch", jobs=True) as sp:
                out = _collect(df)
                sp["rows"] = len(out[1])
                return out

        return Op(kind, run, lambda got: self._check(req, got))

    def _check(self, req: dict, got) -> str | None:
        where = " AND ".join(f"({p})" for p in req["predicates"]).replace('"', "")
        sql = f"SELECT {', '.join(FED_COLS)} FROM orders WHERE {where}"
        if "order_by" in req:
            sql += f" ORDER BY {', '.join(req['order_by'])} LIMIT {req['limit']}"
        rel = self.duck.sql(sql)
        return checks.compare_rows(
            got[0], got[1], rel.columns, rel.fetchall(), ordered="order_by" in req
        )

    def close(self) -> None:
        self.duck.close()


def _concurrently(*fns) -> None:
    with ThreadPoolExecutor(len(fns)) as ex:
        for f in [ex.submit(fn) for fn in fns]:
            f.result()


WORKLOADS = {w.name: w for w in (TpchPower, SearchMixed, FederatedLookup)}
