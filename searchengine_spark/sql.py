"""SQL serving surface: ``SELECT * FROM search('query' [, k [, mode]])``.

The reference exposes search over HTTP (`internal/server/handler.go:179`
``Server.Search`` / `handler.go:247` ``Server.SimpleSearch``, routed in
`internal/server/router.go`); this module is the Spark-native analogue —
the engine usable from PURE SQL (SURVEY §4.2 item 5, the last line of
the survey's build plan). No Catalyst extension is required: a Python
UDTF (`spark.udtf.register`) gives the table-function call syntax.

Execution model
---------------
A table-function call evaluates on ONE executor's Python worker, so it
must not assume driver-resident state. The UDTF therefore serves
straight from the published snapshot on shared storage (the same
parquet artifacts every executor already reads):

- snapshot resolution via the catalog's CURRENT pointer file on every
  call — plain file IO, so config hot-swap/rollback (S12/S8) is visible
  to the NEXT SQL call with no re-registration (an ``IndexHandle``, by
  contrast, stays pinned to the snapshot it opened);
- the term dictionary and docmap are point-read with pyarrow *dataset*
  filters (``term IN``, ``doc_int IN``), pushed to parquet row groups
  (`engine.SnapshotReader.term_meta` / ``.docmap`` — the same reads the
  live streaming search uses);
- postings are read and scored by the engine's light-query function
  (`engine.light_topk` over an `engine.SnapshotReader` of the resolved
  snapshot) — the same read, numpy scorer and (−score, doc_int) top-k
  cut the DataFrame API serves light queries with, so the BM25
  expression shape and the HALF_UP rounding (`semantics.round_score`)
  are byte-for-byte shared by every path;
- memory is bounded by the engine's budget (`engine.SERVING_DRIVER_MAX`):
  when Σ df exceeds it, a metadata-only pass (term, seg, n — no blobs)
  sizes the work and the blobs are read and scored in seg-aligned
  chunks. Segments are doc-aligned across terms (seg = doc_int >> 16),
  so per-chunk scores are exact and final per doc; the running top-k
  across chunks is rank-identical to the one-shot path (pinned by
  tests/test_sql_surface.py::test_chunked_matches_one_shot).

Scope: OR / AND modes over the standard analyzer. Query-time synonym
and fuzzy expansion stay on the DataFrame API (`api.advanced_search`)
— they need the live term dictionary for edit-distance windows.
"""

from __future__ import annotations

import os

from . import semantics as S

_RESULT_SCHEMA = "rank INT, doc_id STRING, score DOUBLE"


# --------------------------------------------------------------------------
# snapshot-reading core (pure pyarrow + numpy — runs on the Python worker)
# --------------------------------------------------------------------------

def _analyze(query: str) -> list[str]:
    """Distinct, order-preserving analyzed query terms — the SAME
    split+normalize core the DataFrame API uses (oracle.query_terms,
    one home, no drift); engine.expand_query adds synonym/fuzzy stages
    on top of it."""
    from .oracle import query_terms

    return list(dict.fromkeys(query_terms(query)))


def _seg_chunks(meta_tbl, budget: int) -> list[list[int]]:
    """Greedy seg-aligned chunks with Σ postings ≤ budget each (a chunk
    never splits a seg — per-doc score completeness needs every query
    term's postings for that doc's one seg together)."""
    per_seg: dict[int, int] = {}
    for seg, n in zip(meta_tbl["seg"].to_pylist(), meta_tbl["n"].to_pylist()):
        per_seg[seg] = per_seg.get(seg, 0) + int(n)
    chunks: list[list[int]] = []
    cur: list[int] = []
    acc = 0
    for seg in sorted(per_seg):
        if cur and acc + per_seg[seg] > budget:
            chunks.append(cur)
            cur, acc = [], 0
        cur.append(seg)
        acc += per_seg[seg]
    if cur:
        chunks.append(cur)
    return chunks


def search_snapshot_rows(
    catalog_root: str,
    query: str,
    k: int = S.TOP_K,
    mode: str = "or",
    chunk_budget: int | None = None,
) -> list[tuple[int, str, float]]:
    """Top-k (rank, doc_id, score) from the published snapshot — the
    UDTF body, importable for direct testing. Rank-identical to
    ``engine.search_index`` on the same snapshot (both select by
    (-raw_score, doc order) and round via semantics.round_score)."""
    import numpy as np

    from .index import engine as E
    from .index.catalog import IndexCatalog

    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    k = int(k)
    if k <= 0:
        return []
    terms = _analyze(query)
    if not terms:
        return []
    snap = IndexCatalog(catalog_root).current()
    if snap is None:
        raise FileNotFoundError(f"no published snapshot under {catalog_root}")
    budget = E.SERVING_DRIVER_MAX if chunk_budget is None else chunk_budget

    reader = E.SnapshotReader(snap)
    meta = reader.term_meta(terms)
    if mode == "and" and len(meta) < len(terms):
        return []  # an absent term can never satisfy the conjunction
    terms = [t for t in terms if t in meta]
    if not terms:
        return []
    idfs = {t: S.idf(snap.stats["n_docs"], meta[t][0]) for t in terms}
    buckets = E.buckets_of(meta, terms)

    # Σ df from the term dictionary already bounds total postings, so a
    # light query (the engine's own gate) is one read with no seg
    # predicate; only a heavy query pays the (term, seg, n — no blobs)
    # sizing read that drives seg-aligned chunking
    if sum(meta[t][0] for t in terms) <= budget:
        chunks = [None]
    else:
        chunks = _seg_chunks(reader.read(terms, buckets, ("term", "seg", "n")), budget)
    tops = [
        E.light_topk(reader, {"": idfs}, buckets, k, mode=mode, segs=segs)[""]
        for segs in chunks
    ]
    docs = np.concatenate([d for d, _ in tops])
    scores = np.concatenate([s for _, s in tops])
    if not len(docs):
        return []
    order = np.lexsort((docs, -scores))[:k]
    sel = {int(docs[i]): float(scores[i]) for i in order}

    names = E.doc_names_of(reader.docmap("doc_int", list(sel)))
    return [(rank, d, s) for rank, (d, s) in enumerate(E._ranked(names, list(sel.items())), 1)]


# --------------------------------------------------------------------------
# UDTF registration (driver-side)
# --------------------------------------------------------------------------

def register_search_sql(spark, catalog_root: str, *, name: str = "search") -> None:
    """Register ``name('query'[, k[, mode]])`` as a SQL table function
    serving the catalog's CURRENT snapshot. The root is baked into the
    UDTF class at registration; the snapshot pointer is re-read per
    call, so publish/rollback is picked up live."""
    from pyspark.sql.functions import udtf

    root = os.path.abspath(catalog_root)

    class _SearchTF:
        def eval(self, query: str, k: int = S.TOP_K, mode: str = "or"):
            if query is None:
                return
            # SQL NULLs degrade to the defaults rather than crashing
            # the Python worker with int(None)/'None'
            k = S.TOP_K if k is None else int(k)
            mode = "or" if mode is None else str(mode)
            yield from search_snapshot_rows(root, query, k, mode)

    spark.udtf.register(name, udtf(_SearchTF, returnType=_RESULT_SCHEMA))
