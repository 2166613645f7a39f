"""Index requests served from driver-side index metadata: an IVF-PQ or
BM25 search collects the small index relations (centroids, codebooks,
query-term stats, corpus scalars) and the query panel, does its shape
checks, probing and stats merging on the driver, and leaves Spark only
the pruned scan and the ranking. These tests pin the results against
the in-memory search, and the Spark work per request: no
schema-inference job, and a bounded job count. The in-memory searches
(plain PQ, raw and residual IVF-PQ) run the same driver-side search and
are pinned against their DuckDB oracles, including panels whose ids
fall outside the training collect."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from distributed_query_engine_spark.catalog import Tables
from distributed_query_engine_spark.operators import similarity as S
from distributed_query_engine_spark.operators import sparse as SP
from distributed_query_engine_spark.plans.llm import vector as V
from distributed_query_engine_spark.plans.llm._shared import _QUERY_IDS

from .conftest import partition_filter_values
from .oracle_diff import assert_same_result

# Jobs per collected search at the unit SF, measured on this code and
# pinned. IVF-PQ: the panel, centroid and codebook collects, then the
# query — the distance table's broadcast, the scan with the partial
# aggregate, the final aggregate and the ranking. BM25: the stats and
# corpus collects, then the same four-job query over the bucket-pruned
# postings. The earlier Spark-side form ran 17 and 10 (schema
# inference, a shape aggregate, broadcast chains for the index
# relations).
IVFPQ_SEARCH_JOBS = 7
BM25_SEARCH_JOBS = 6

ABSENT_ID = 10**9
# Panel ids beyond the training collect's lowest-K window (32 rows raw,
# 64 residual at the default knobs), so their vectors take the extra
# panel collect.
OUT_OF_WINDOW = [0, 3, 100, 250, 499]


def _jobs_and_stages(spark, fn):
    """Run ``fn`` under a job group of its own; return (result, jobs
    Spark ran, names of their stages)."""
    sc = spark.sparkContext
    group = f"test-index-requests-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [
        info.name
        for j in jobs
        for sid in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else ())
        if (info := st.getStageInfo(sid)) is not None
    ]
    return out, len(jobs), stages


@pytest.fixture(scope="module")
def ivfpq_index(spark, sf_dir, tmp_path_factory):
    e = Tables(spark, sf_dir).embeddings
    index = str(tmp_path_factory.mktemp("ivfpq") / "index")
    S.build_ivfpq_index(e, index)
    return e, index


@pytest.mark.parametrize(
    "panel", [[0, 1, 2], [5, 17, 40, 99, 123], [3, 64, ABSENT_ID]]
)
def test_ivfpq_index_rows_equal_residual_search(spark, ivfpq_index, panel):
    e, index = ivfpq_index
    got = sorted(
        map(tuple, S.topk_l2_ivfpq_index(spark, index, e, panel, k=5).collect())
    )
    want = sorted(
        map(tuple, S.topk_l2_ivfpq(e, panel, k=5, residual=True).collect())
    )
    assert got == want
    present = [q for q in panel if q != ABSENT_ID]
    assert {r[0] for r in got} == set(present)
    assert len(got) == 5 * len(present)


def test_ivfpq_index_search_jobs(spark, ivfpq_index):
    e, index = ivfpq_index
    rows, jobs, stages = _jobs_and_stages(
        spark, lambda: S.topk_l2_ivfpq_index(spark, index, e, [7, 8], k=5).collect()
    )
    assert len(rows) == 10
    assert not [s for s in stages if s.startswith("parquet at ")], stages
    assert jobs <= IVFPQ_SEARCH_JOBS, stages
    # a one-query panel reads exactly its n_probe cells
    df = S.topk_l2_ivfpq_index(spark, index, e, [7], k=5)
    (cells,) = partition_filter_values(df, "cell_id")
    assert len(cells) == S.N_PROBE, cells


def test_bm25_index_search_jobs(spark, sf_dir):
    docs = Tables(spark, sf_dir).documents
    SP.build_bm25_index(spark, docs, sf_dir)
    panel = [1, 2, 3]
    qterms = [
        (r["q_id"], r["tok"])
        for r in SP.tf_dl_relation(docs.filter(F.col("doc_id").isin(panel)))
        .select(F.col("doc_id").alias("q_id"), "tok")
        .collect()
    ]
    rows, jobs, stages = _jobs_and_stages(
        spark, lambda: SP.bm25_search_index(spark, sf_dir, qterms, k=5).collect()
    )
    assert {r["q_id"] for r in rows} == set(panel)
    assert not [s for s in stages if s.startswith("parquet at ")], stages
    assert jobs <= BM25_SEARCH_JOBS, stages


@pytest.mark.parametrize(
    "panel", [_QUERY_IDS, OUT_OF_WINDOW], ids=["default", "out_of_window"]
)
@pytest.mark.parametrize(
    "search, oracle",
    [
        (lambda e, p: S.topk_l2_pq(e, p, k=5), V._pq_oracle),
        (lambda e, p: S.topk_l2_ivfpq(e, p, k=5), V._ivfpq_oracle),
        (
            lambda e, p: S.topk_l2_ivfpq(e, p, k=5, residual=True),
            V._ivfpq_residual_oracle,
        ),
    ],
    ids=["pq", "ivfpq", "ivfpq_residual"],
)
def test_in_memory_pq_search_matches_oracle(
    spark, duck, sf_dir, search, oracle, panel
):
    want = duck.sql(oracle(",".join(map(str, panel))))
    assert_same_result(search(Tables(spark, sf_dir).embeddings, panel), want)
    assert len(want.fetchall()) == 5 * len(panel)
