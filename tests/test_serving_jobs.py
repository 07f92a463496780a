"""Job budget of the light-query path: on a warm ``IndexHandle`` a query
whose Σ df fits ``SERVING_DRIVER_MAX`` is answered from the handle's
pinned reader and caches without launching a single Spark job; a query
above the budget still runs the distributed plan. Jobs are counted per
job group through ``SparkStatusTracker``."""

from __future__ import annotations

import itertools

import pytest

from searchengine_spark import api
from searchengine_spark.index import engine as E

_GROUPS = itertools.count()


def _jobs(spark, fn) -> tuple[list[int], object]:
    """(Spark job ids launched while ``fn`` ran, its result), with ``fn``
    run under a job group of its own."""
    sc = spark.sparkContext
    group = f"serving-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.fixture(scope="module")
def ix(spark, transcripts, tmp_path_factory):
    from searchengine_spark.index.build import build_index
    from searchengine_spark.index.catalog import IndexCatalog

    cat = IndexCatalog(str(tmp_path_factory.mktemp("jobs") / "ix"))
    build_index(spark, transcripts, cat, n_buckets=8)
    return E.open_index(spark, cat)


def _pairs(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


FILTER = {"one-select": [{"name": "role", "value": "assistant"}]}


def test_light_queries_launch_no_jobs(spark, ix, oracle_index):
    batch = {"qa": ["spark"], "qb": ["query", "plan", "shuffle"]}

    def search(terms, **kw):
        return E.search_index(ix, terms, **kw).collect()

    ops = {
        "search_index": lambda: search(["query", "plan", "shuffle"]),
        "search_index_and": lambda: search(["query", "plan"], mode="and"),
        "simple_search": lambda: api.simple_search(ix, "spark query").collect(),
        "advanced_filtered": lambda: api.advanced_search(
            ix, "spark", filter_request=FILTER, fuzzy=False
        ).collect(),
        "advanced_page2": lambda: api.advanced_search(ix, "spark query", from_=10).collect(),
        "search_many": lambda: E.search_many(ix, batch).collect(),
    }

    for fn in ops.values():  # first use pins the caches and the filter set
        fn()
    for name, fn in ops.items():
        jobs, rows = _jobs(spark, fn)
        assert jobs == [], (name, jobs)
        assert rows, name  # non-vacuous: every op answers something

    # the zero-job answers are the right ones
    _, rows = _jobs(spark, ops["search_index"])
    assert _pairs(rows) == oracle_index.search("query plan shuffle")
    _, rows = _jobs(spark, ops["advanced_filtered"])
    want = oracle_index.search("spark", predicate=lambda d: d["role"] == "assistant")
    assert [r["doc_id"] for r in rows] == [d for d, _ in want]
    _, rows = _jobs(spark, ops["search_many"])
    assert [(r["doc_id"], r["score"]) for r in rows if r["qid"] == "qa"] == oracle_index.search(
        "spark"
    )


def test_query_above_budget_runs_distributed(spark, ix, monkeypatch):
    terms = ["query", "plan", "shuffle"]
    _, light = _jobs(spark, lambda: E.search_index(ix, terms).collect())
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)
    jobs, heavy = _jobs(spark, lambda: E.search_index(ix, terms).collect())
    assert jobs, "a query above SERVING_DRIVER_MAX must take the distributed plan"
    assert _pairs(heavy) == _pairs(light)


def test_live_stream_search_launches_no_jobs(spark, live_stream, monkeypatch):
    """A light ``StreamingIndex.search`` over base + live deltas reads,
    scores, excludes dead versions and hydrates without a Spark job; the
    same query above the budget takes the distributed plan and answers
    the same rows."""
    sidx, _, _ = live_stream
    terms = ["spark", "zebraoracle", "run"]
    sidx.search(terms).collect()  # first use pins the base reader
    jobs, light = _jobs(spark, lambda: sidx.search(terms).collect())
    assert jobs == [], jobs
    assert light  # non-vacuous
    monkeypatch.setattr(E, "SERVING_DRIVER_MAX", 0)
    jobs, heavy = _jobs(spark, lambda: sidx.search(terms).collect())
    assert jobs, "a query above SERVING_DRIVER_MAX must take the distributed plan"
    assert _pairs(heavy) == _pairs(light)
