"""Index requests served from driver-side index metadata: an IVF-PQ,
cosine IVF, graph, SQ8 or BM25 search collects the small index
relations (centroids, codebooks, query-term stats, corpus scalars) and
the query panel, does its shape checks, probing and stats merging on
the driver, and leaves Spark only the pruned scan and the ranking.
These tests pin the results against the in-memory search, and the
Spark work per request: no schema-inference job, and a bounded job
count. The in-memory searches (plain PQ, raw and residual IVF-PQ) run
the same driver-side search and are pinned against their DuckDB
oracles, including panels whose ids fall outside the training
collect."""

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
# Cosine IVF: the centroid and panel collects, then three query jobs
# (the probe relation's broadcast, the probed-cells scan, the ranking);
# the Spark-side probe form ran 8. Graph: the same two collects and six
# query jobs (was 11). SQ8: four query jobs (was 6). None of them runs
# a schema-inference job any more.
IVF_SEARCH_JOBS = 5
GRAPH_SEARCH_JOBS = 8
SQ8_SEARCH_JOBS = 4

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


PANELS = [[0, 1, 2], [5, 17, 40, 99, 123], [3, 64, ABSENT_ID]]


@pytest.fixture(scope="module")
def ivfpq_index(spark, sf_dir, tmp_path_factory):
    e = Tables(spark, sf_dir).embeddings
    index = str(tmp_path_factory.mktemp("ivfpq") / "index")
    S.build_ivfpq_index(e, index)
    return e, index


@pytest.mark.parametrize("panel", PANELS)
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


@pytest.fixture(scope="module")
def cosine_indexes(spark, sf_dir, tmp_path_factory):
    e = Tables(spark, sf_dir).embeddings
    root = tmp_path_factory.mktemp("cosine")
    S.build_ivf_index(e, str(root / "ivf"))
    S.build_graph_index(e, str(root / "graph"))
    S.build_sq8_index(e, str(root / "sq8"))
    return e, str(root)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("panel", PANELS)
def test_cosine_index_rows_equal_in_memory_search(spark, cosine_indexes, panel):
    e, root = cosine_indexes
    ivf = _rows(S.topk_cosine_ivf_index(spark, f"{root}/ivf", panel, k=5))
    assert ivf == _rows(S.topk_cosine_ivf(e, panel, k=5))
    graph = _rows(S.topk_cosine_graph_index(spark, f"{root}/graph", panel, k=5))
    assert graph == _rows(S.topk_cosine_ivf_graph(e, panel, k=5))
    present = [q for q in panel if q != ABSENT_ID]
    for got in (ivf, graph):
        assert {r[0] for r in got} == set(present)
        assert len(got) == 5 * len(present)


@pytest.mark.parametrize(
    "index, search, bound",
    [
        ("ivf", S.topk_cosine_ivf_index, IVF_SEARCH_JOBS),
        ("graph", S.topk_cosine_graph_index, GRAPH_SEARCH_JOBS),
        ("sq8", S.topk_cosine_sq8_index, SQ8_SEARCH_JOBS),
    ],
)
def test_cosine_index_search_jobs(spark, cosine_indexes, index, search, bound):
    _, root = cosine_indexes
    path = f"{root}/{index}"
    search(spark, path, [7, 8], k=5).collect()  # warm
    rows, jobs, stages = _jobs_and_stages(
        spark, lambda: search(spark, path, [7, 8], k=5).collect()
    )
    assert len(rows) == 10
    assert not [s for s in stages if s.startswith("parquet at ")], stages
    assert jobs <= bound, stages


def test_ivf_index_one_query_reads_n_probe_cells(spark, cosine_indexes):
    _, root = cosine_indexes
    df = S.topk_cosine_ivf_index(spark, f"{root}/ivf", [7], k=5)
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
