"""SQL table-function serving surface (SURVEY §4.2 item 5):
``SELECT * FROM search('query')`` must be rank- AND score-identical to
the DataFrame serving path (`engine.search_index`) on the same
snapshot — the reference's HTTP Search endpoint
(`internal/server/handler.go:179`) re-expressed as pure SQL."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.build import build_index
from searchengine_spark.index.catalog import IndexCatalog
from searchengine_spark.index.engine import open_index, search_index
from searchengine_spark.sql import register_search_sql, search_snapshot_rows

ROOT = "/tmp/seng_sql_surface"


@pytest.fixture(scope="module")
def catalog(spark, transcripts):
    shutil.rmtree(ROOT, ignore_errors=True)
    cat = IndexCatalog(os.path.join(ROOT, "index"))
    build_index(spark, transcripts, cat)
    yield cat
    shutil.rmtree(ROOT, ignore_errors=True)


@pytest.fixture(scope="module")
def registered(spark, catalog):
    register_search_sql(spark, catalog.root)
    return catalog


def _api_rows(spark, catalog, terms, k=10, mode="or"):
    ix = open_index(spark, catalog)
    return [
        (r["doc_id"], r["score"])
        for r in search_index(ix, terms, k=k, mode=mode).collect()
    ]


QUERIES = [
    (["spark"], "spark", "or"),
    (["query", "plan", "shuffle"], "query plan shuffle", "or"),
    (["data", "model", "run"], "data model run", "or"),  # heavy terms
    (["query", "plan"], "query plan", "and"),
]


@pytest.mark.parametrize("terms,q,mode", QUERIES)
def test_sql_matches_dataframe_api(spark, registered, terms, q, mode):
    sql_rows = spark.sql(
        f"SELECT rank, doc_id, score FROM search('{q}', 10, '{mode}') ORDER BY rank"
    ).collect()
    api = _api_rows(spark, registered, terms, k=10, mode=mode)
    assert [(r["doc_id"], r["score"]) for r in sql_rows] == api
    assert [r["rank"] for r in sql_rows] == list(range(1, len(api) + 1))


def test_sql_k_and_analyzer(spark, registered):
    # k=3; query goes through the full analyzer: case-fold + stopword
    # drop ("the"/"a" vanish) + punctuation split
    rows = spark.sql("SELECT * FROM search('The SPARK!', 3)").collect()
    api = _api_rows(spark, registered, ["spark"], k=3)
    assert [(r["doc_id"], r["score"]) for r in rows] == api
    assert len(rows) == 3


def test_sql_no_hits_and_stopword_only(spark, registered):
    assert spark.sql("SELECT * FROM search('zzzzqqqq')").count() == 0
    assert spark.sql("SELECT * FROM search('the and of')").count() == 0
    # AND with one absent term: empty even though the other term matches
    assert spark.sql("SELECT * FROM search('spark zzzzqqqq', 10, 'and')").count() == 0


def test_sql_null_args_degrade_to_defaults(spark, registered):
    # NULL query → no rows; NULL k / NULL mode → defaults, not a
    # Python-worker crash
    assert spark.sql("SELECT * FROM search(CAST(NULL AS STRING))").count() == 0
    rows = spark.sql(
        "SELECT doc_id, score FROM search('spark', CAST(NULL AS INT), "
        "CAST(NULL AS STRING)) ORDER BY rank"
    ).collect()
    api = _api_rows(spark, registered, ["spark"], k=10)
    assert [(r["doc_id"], r["score"]) for r in rows] == api


def test_sql_composes_with_sql(spark, registered):
    # the point of a table function: composable inside larger SQL
    n = spark.sql(
        "SELECT count(*) AS n FROM search('query plan shuffle') WHERE score > 0"
    ).collect()[0]["n"]
    assert n == 10


def test_chunked_matches_one_shot(spark, registered):
    """Force the seg-chunked blob path (budget below any seg's postings
    sum → one chunk per seg) and require bit-identical output to the
    one-shot read — the running top-k merge must be exact."""
    one = search_snapshot_rows(registered.root, "query plan shuffle", 10, "or")
    chunked = search_snapshot_rows(
        registered.root, "query plan shuffle", 10, "or", chunk_budget=1
    )
    assert chunked == one
    assert len(one) == 10


def test_sql_sees_snapshot_swap(spark, registered, transcripts, oracle_index):
    """The pointer is re-read per call: publish a new snapshot (smaller
    corpus) and the SQL surface serves it without re-registration;
    rollback restores the old results (S8/S12 parity for SQL). A handle
    opened before the publish stays pinned to its own snapshot: its
    light answers (pinned reader, no Spark job) keep equalling the
    oracle of the corpus it indexed."""
    from searchengine_spark.index.engine import search_many

    before = spark.sql("SELECT doc_id FROM search('spark')").collect()
    old_id = registered.current_id()
    ix_old = open_index(spark, registered)
    build_index(spark, transcripts.limit(200), registered)
    after = spark.sql("SELECT doc_id, score FROM search('spark') ORDER BY rank").collect()
    assert [r["doc_id"] for r in after] != [r["doc_id"] for r in before]
    # SQL serves the NEW snapshot: what a handle opened on it answers
    assert [(r["doc_id"], r["score"]) for r in after] == _api_rows(spark, registered, ["spark"])

    for q in ("spark", "query plan shuffle"):
        got = search_index(ix_old, q.split()).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == oracle_index.search(q), q
    many = search_many(ix_old, {"q": ["query", "plan", "shuffle"]}).collect()
    assert [(r["doc_id"], r["score"]) for r in many] == oracle_index.search("query plan shuffle")

    registered.rollback(old_id)
    restored = spark.sql("SELECT doc_id FROM search('spark')").collect()
    assert [r["doc_id"] for r in restored] == [r["doc_id"] for r in before]
