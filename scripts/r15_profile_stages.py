#!/usr/bin/env python
"""Stage-level decomposition of the heavy bench lines (guide §1):
each named sub-pipeline is materialized with the noop sink from a COLD
lineage (recompute included), so stage cost = t(stage) - t(prefix).

Usage: python scripts/r15_profile_stages.py [ivfpq|minhash|bm25] ...
"""
from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
import os

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from pyspark.sql import functions as F  # noqa: E402

from distributed_query_engine_spark.catalog import Tables  # noqa: E402
from distributed_query_engine_spark.session import get_spark  # noqa: E402

spark = get_spark("r15-profile")
spark.sparkContext.setLogLevel("ERROR")


def t(label, df, n=3):
    # warm-up once, then median-ish: report all
    secs = []
    for i in range(n + 1):
        spark.sparkContext.setJobDescription(f"{label} [{i}]")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        secs.append(round(time.perf_counter() - t0, 3))
    print(f"{label:42s} warm={secs[0]:7.3f}  passes={secs[1:]}", flush=True)


def prof_ivfpq():
    from distributed_query_engine_spark.operators import similarity as S
    from distributed_query_engine_spark.operators.dedup import _spread_narrow_scan
    from distributed_query_engine_spark.plans.llm._shared import _QUERY_IDS

    e = Tables(spark, SF).embeddings
    narrow = S.with_int_vec(e).filter(F.size("ivec") > 0).select("vec_id", "ivec")
    dim, narrow = S._probe_dim_strict(narrow, S.PQ_M_SUB)
    base = _spread_narrow_scan(narrow, key="vec_id")
    t("ivfpq/base scan+spread", base)
    full = S.topk_l2_ivfpq(e, _QUERY_IDS, k=5)
    t("ivfpq/FULL", full)


def prof_minhash():
    from distributed_query_engine_spark.operators import dedup as D

    d = Tables(spark, SF).documents
    sigs = D.signatures_rowlocal(d)
    t("minhash/signatures_rowlocal", sigs)
    dsets = D.doc_hash_sets_rowlocal(d)
    t("minhash/doc_hash_sets_rowlocal", dsets)
    pairs = D.candidate_pairs_grouped(sigs)
    t("minhash/candidates (cum)", pairs)
    full = D.minhash_dedup_pairs(d, threshold=0.5)
    t("minhash/FULL", full)


def prof_bm25():
    from distributed_query_engine_spark.operators import sparse as SP
    from distributed_query_engine_spark.plans.retrieval import _BM25_K, _Q_IDS

    d = Tables(spark, SF).documents
    t0 = time.perf_counter()
    SP.build_bm25_index(spark, d, SF)
    print(f"bm25/build_or_fingerprint_hit: {time.perf_counter()-t0:.3f}")
    qterms_df = SP.tf_dl_relation(d.filter(F.col("doc_id").isin(_Q_IDS))).select(
        F.col("doc_id").alias("q_id"), "tok")
    for i in range(3):
        t0 = time.perf_counter()
        qterms = [(r["q_id"], r["tok"]) for r in qterms_df.collect()]
        print(f"bm25/qterms collect [{i}]: {time.perf_counter()-t0:.3f}")
    for i in range(3):
        t0 = time.perf_counter()
        res = SP.bm25_search_index(spark, SF, qterms, k=_BM25_K)
        res.write.format("noop").mode("overwrite").save()
        print(f"bm25/search [{i}]: {time.perf_counter()-t0:.3f}")


if __name__ == "__main__":
    which = sys.argv[1:] or ["ivfpq", "minhash", "bm25"]
    for w in which:
        print(f"== {w} @ {SF} ==")
        {"ivfpq": prof_ivfpq, "minhash": prof_minhash, "bm25": prof_bm25}[w]()
    spark.stop()
