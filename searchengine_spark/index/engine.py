"""Query engine over the materialized postings index.

Mirrors the reference's query path (``internal/search/search.go:114-165``:
term split → fuzzy/synonym expansion → boolean MUST filters → score →
top-k). An :class:`IndexHandle` pins one published snapshot: the Spark
frames of its artifacts, a pyarrow reader over its postings, the term
dictionary, the doc names and a few filter sets are read once and reused
by every later query (snapshots are write-once).

**Light queries** — Σ df of the query terms at most
``SERVING_DRIVER_MAX``, known from the pinned term dictionary before any
read — launch NO Spark job on a warm handle: :func:`light_topk` reads
the ``(term, postings)`` rows of the query's buckets through the pinned
pyarrow dataset (bucket directories pruned, ``term IN`` pushed to parquet
row groups), scores them in driver numpy, applies the AND term count and
the cached filter set, and cuts the exact top-k; doc_ids come from the
pinned doc-name column. Only first uses pay jobs (term dictionary, doc
names, a filter set). The SQL table function, the explicit-sort match
set and the live streaming search (base + delta postings,
``streaming.ingest``) run the same function. Heavier queries take the
distributed plan, over the handle's pinned Spark frames:

1. driver: expand + dedup query terms, look up per-term df and bucket
   in the term dictionary, compute idf per term;
2. scan only the postings **buckets** the query terms hash to
   (directory partition pruning) with ``term IN (...)`` pushed to
   parquet row groups;
3. **block-max pruning** (WAND-style, north_rule): segments are
   doc-aligned across terms (``seg = doc_int >> 16``), so
   ``ub(seg) = Σ_t idf_t · seg_max_tfnorm(t, seg)`` bounds the total
   BM25 score of every doc in that segment. A metadata-only pass (no
   postings bytes read — column pruning) scores the richest segments
   first, establishes θ = k-th best exact score, and prunes every
   segment with ``ub ≤ θ``. Exactness is preserved: a pruned segment
   cannot contain a doc beating θ.
4. decode+score survivors in an Arrow ``mapInPandas`` (vectorized
   numpy; per-128-entry block bounds skip cold blocks within a
   segment), aggregate per doc, global top-k via
   ``orderBy().limit(k)`` (TakeOrderedAndProject);
5. hydrate doc_id (and any payload) from the pinned doc names, or a
   ``docmap`` ``isin``-pushdown point lookup on corpora too large to pin.

Both paths are rank-identical to :func:`..query.bm25.search_direct`
(tested in tests/test_index_engine.py): same float64 expression shape
(:func:`..semantics.tfnorm`), same score-desc/doc_id-asc tie-break.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import semantics as S
from .catalog import IndexCatalog, Snapshot
from .codec import BLOCK, SEG_SPAN, decode_postings


# hold the term dictionary driver-side below this vocabulary size — the
# analogue of Bleve keeping its FST term dictionary in memory. Above it
# (web-scale vocabularies) term lookups stay distributed point-reads.
# Budgeted honestly for CPython dict overhead (~150-250 B/entry
# measured, tests/test_index_engine.py::test_driver_cache_budgets):
# 1 M entries ≈ 150-250 MB driver heap.
TERM_CACHE_MAX = 1_000_000
# gate for the doc_int → doc_id table. The pinned form is ONE Arrow
# string column indexed by the dense doc_int (no per-entry CPython
# objects): ~(avg doc_id bytes + 8) per entry ≈ 25-30 B → 5 M entries
# ≈ 150 MB driver heap (budget-tested alongside the term cache).
DOC_NAME_CACHE_MAX = 5_000_000


class _DocNames:
    """Dense doc_int → doc_id lookup over one Arrow string column —
    doc_int is the array index (dense 0..N-1 numbering from the
    build). No per-entry CPython objects are held; ``nbytes`` is the
    real pinned footprint."""

    def __init__(self, arr):
        self._arr = arr  # pyarrow (Chunked)Array of doc_id, doc_int order

    def __getitem__(self, doc_int: int) -> str:
        return self._arr[doc_int].as_py()

    def __len__(self) -> int:
        return len(self._arr)

    @property
    def nbytes(self) -> int:
        return int(self._arr.nbytes)

# light-query budget: when the query terms' TOTAL posting count (Σ df,
# known driver-side from the term dictionary before any read) is at
# most this, the matching segment blobs are read through the handle's
# pinned pyarrow reader and scored in driver numpy (:func:`light_topk`)
# — no Spark job, no Python workers, no shuffle. This is the
# Lucene/Bleve serving shape (one node scores a query); heavy queries
# above the cap keep the distributed block-max path, so no unbounded
# driver read can occur: Σ df bounds the decoded entries.
import os as _os

SERVING_DRIVER_MAX = int(_os.environ.get("SENG_SERVING_DRIVER_MAX", "2000000"))
# cached filter sets pinned per snapshot (Lucene filter-cache analogue)
_FILTER_CACHE_ENTRIES = 8


def point_read(path: str, key: str, values, columns: tuple[str, ...]):
    """Arrow table of ``columns`` over the rows of the parquet directory
    ``path`` with ``key`` ∈ ``values`` — a pyarrow dataset filter pushed
    to parquet row groups, no Spark job. The term-dictionary, docmap and
    delta reads of the job-free serving paths all go through here."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(
        columns=list(columns), filter=pc.field(key).isin(values)
    )


class SnapshotReader:
    """Pinned read side of one snapshot for light queries: a pyarrow
    dataset over the bucket-partitioned postings directory, discovered
    once (hive ``bucket=`` partitions prune whole directories before any
    file IO), plus point-reads of its term dictionary and docmap.
    Iceberg-backed snapshots pass their pinned Spark postings frame
    instead — pyarrow cannot read a pinned Iceberg table version — and
    pay one Spark read per call."""

    def __init__(self, snapshot: Snapshot, frame: DataFrame | None = None):
        self.snapshot = snapshot
        self.stats = snapshot.stats
        self._frame = frame
        if frame is None:
            import pyarrow.dataset as ds

            self._ds = ds.dataset(snapshot.postings_dir, format="parquet", partitioning="hive")

    def read(
        self,
        terms: list[str],
        buckets: list[int] | None,
        columns: tuple[str, ...] = ("term", "postings"),
        segs: list[int] | None = None,
    ):
        """Arrow table of ``columns`` over the postings rows with term ∈
        ``terms``, bucket ∈ ``buckets`` (None: every bucket) and, when
        given, seg ∈ ``segs``."""
        import pyarrow.compute as pc

        col = F.col if self._frame is not None else pc.field
        cond = col("term").isin(terms)
        for name, vals in (("bucket", buckets), ("seg", segs)):
            if vals is not None:
                cond = cond & col(name).isin(vals)
        if self._frame is not None:
            return self._frame.where(cond).select(*columns).toArrow()
        return self._ds.to_table(columns=list(columns), filter=cond)

    def term_meta(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term → (df, bucket) for the ``terms`` present in the snapshot's
        parquet term dictionary (``term IN`` point-read)."""
        tbl = point_read(self.snapshot.terms_dir, "term", terms, ("term", "df", "bucket"))
        return {
            t: (int(df), int(b))
            for t, df, b in zip(*(tbl[c].to_pylist() for c in ("term", "df", "bucket")))
        }

    def docmap(self, key: str, values):
        """``(doc_int, doc_id)`` rows of the snapshot's parquet docmap
        with ``key`` ∈ ``values`` — hydration reads by ``doc_int``,
        tombstone lookups by ``doc_id``."""
        return point_read(self.snapshot.docmap_dir, key, values, ("doc_int", "doc_id"))


def doc_names_of(docmap_rows) -> dict[int, str]:
    """``(doc_int, doc_id)`` Arrow rows → doc_int → doc_id."""
    return dict(zip(docmap_rows["doc_int"].to_pylist(), docmap_rows["doc_id"].to_pylist()))


@dataclass
class IndexHandle:
    """Query handle pinned to one published snapshot. Everything read
    from it is kept for the handle's lifetime — snapshots are
    write-once, so a pinned frame or cache can never go stale; a publish
    after the handle opened is seen by opening a new handle."""

    spark: SparkSession
    snapshot: Snapshot
    _frames: dict = field(default_factory=dict, init=False, repr=False, compare=False)
    _reader: SnapshotReader | None = field(default=None, init=False, repr=False, compare=False)

    @property
    def stats(self) -> dict:
        return self.snapshot.stats

    def _artifact(self, name: str, parquet_dir: str) -> DataFrame:
        """Parquet dirs (sandbox) or pinned Iceberg tables (prod): the
        snapshot's ``iceberg_snapshots`` pin makes the read VERSION AS
        OF publish time, so concurrent republish never tears a query.
        Read once per handle: re-reading would redo file listing and
        schema inference (a Spark job) on every query."""
        df = self._frames.get(name)
        if df is None:
            t = (self.snapshot.tables or {}).get(name)
            if t is None:
                df = self.spark.read.parquet(parquet_dir)
            else:
                reader = self.spark.read.format("iceberg")
                if t.get("snapshot_id") is not None:
                    reader = reader.option("snapshot-id", t["snapshot_id"])
                df = reader.load(t["table"])
            self._frames[name] = df
        return df

    def postings(self) -> DataFrame:
        return self._artifact("postings", self.snapshot.postings_dir)

    def terms(self) -> DataFrame:
        return self._artifact("terms", self.snapshot.terms_dir)

    def docmap(self) -> DataFrame:
        return self._artifact("docmap", self.snapshot.docmap_dir)

    def reader(self) -> SnapshotReader:
        """The pinned postings reader of the light-query path."""
        if self._reader is None:
            iceberg = "postings" in (self.snapshot.tables or {})
            self._reader = SnapshotReader(self.snapshot, self.postings() if iceberg else None)
        return self._reader

    def doc_names(self) -> "_DocNames | None":
        """Driver-cached doc_int → doc_id (indexable by doc_int), or
        None when the corpus is too large to pin (callers fall back to
        a docmap point-read). The serving analogue of keeping the docID
        lookup table hot — saves the hydration job. Pinned as a single
        Arrow string column (doc_int = array index; the numbering is
        dense by construction), so the footprint is the string bytes +
        offsets, not CPython dict entries; the transfer itself is
        Arrow-native (``toArrow``), never row objects."""
        cached = getattr(self, "_doc_names", False)
        if cached is not False:
            return cached
        if self.stats["n_docs"] > DOC_NAME_CACHE_MAX:
            self._doc_names = None
        else:
            tbl = (
                self.docmap()
                .select("doc_int", "doc_id")
                .toArrow()
                .sort_by("doc_int")
            )
            self._doc_names = _DocNames(tbl.column("doc_id").combine_chunks())
        return self._doc_names

    def filter_doc_ints(self, doc_predicate: Column) -> "object | None":
        """Lucene-style cached filter set: the sorted doc_int array
        satisfying ``doc_predicate``, evaluated against docmap ONCE per
        (snapshot, predicate) and pinned driver-side — repeated
        filtered queries then run with zero Spark jobs. None when the
        corpus is too large to pin a filter set (callers fall back to
        the distributed semi-join). Bounded: ≤ _FILTER_CACHE_ENTRIES
        arrays of ≤ n_docs int64 each, evicted FIFO."""
        if self.stats["n_docs"] > DOC_NAME_CACHE_MAX:
            return None
        import numpy as np

        key = str(doc_predicate._jc)
        cache: dict = getattr(self, "_filter_cache", None) or {}
        arr = cache.get(key)
        if arr is None:
            pdf = self.docmap().where(doc_predicate).select("doc_int").toPandas()
            arr = np.sort(pdf["doc_int"].to_numpy(dtype=np.int64))
            while len(cache) >= _FILTER_CACHE_ENTRIES:
                cache.pop(next(iter(cache)))
            cache[key] = arr
            self._filter_cache = cache
        return arr

    def term_dict(self) -> dict[str, tuple[int, int | None]] | None:
        """Driver-cached term → (df, bucket), or None if the vocabulary
        is too large to pin (callers fall back to point-reads)."""
        cached = getattr(self, "_term_dict", False)
        if cached is not False:
            return cached
        t = self.terms()
        has_bucket = "bucket" in t.columns
        cols = ["term", "df"] + (["bucket"] if has_bucket else [])
        rows = t.select(*cols).limit(TERM_CACHE_MAX + 1).collect()
        if len(rows) > TERM_CACHE_MAX:
            self._term_dict = None
        else:
            self._term_dict = {
                r["term"]: (int(r["df"]), int(r["bucket"]) if has_bucket else None)
                for r in rows
            }
        return self._term_dict


def open_index(spark: SparkSession, catalog: IndexCatalog) -> IndexHandle:
    snap = catalog.current()
    if snap is None:
        raise FileNotFoundError(f"no published snapshot under {catalog.root}")
    return IndexHandle(spark, snap)


# --------------------------------------------------------------------------
# term lookup / expansion
# --------------------------------------------------------------------------

def term_meta(ix: IndexHandle, terms: list[str]) -> dict[str, tuple[int, int | None]]:
    """term → (df, bucket): a driver-dict lookup when the vocabulary is
    pinned (TERM_CACHE_MAX), else one point-read of the terms table.
    bucket is None on snapshots older than the bucket-in-terms layout."""
    if not terms:
        return {}
    td = ix.term_dict()
    if td is not None:
        return {t: td[t] for t in terms if t in td}
    t = ix.terms()
    has_bucket = "bucket" in t.columns
    cols = ["term", "df"] + (["bucket"] if has_bucket else [])
    rows = t.where(F.col("term").isin(terms)).select(*cols).collect()
    return {
        r["term"]: (int(r["df"]), int(r["bucket"]) if has_bucket else None)
        for r in rows
    }


def expand_fuzzy(ix: IndexHandle, term: str) -> list[str]:
    """Fuzziness=1 expansion against the term dictionary (reference
    ``internal/search/search.go:122``; FST automaton → here a scan of
    the pinned driver dictionary, or a pruned distributed scan: length
    ±1 window pushed to parquet, then exact Levenshtein ≤ 1)."""
    td = ix.term_dict()
    if td is not None:
        from ..oracle import levenshtein_leq1

        lo, hi = len(term) - 1, len(term) + 1
        return sorted(v for v in td if lo <= len(v) <= hi and levenshtein_leq1(term, v))
    cand = (
        ix.terms()
        .where(F.length("term").between(len(term) - 1, len(term) + 1))
        .where(F.levenshtein(F.col("term"), F.lit(term)) <= 1)
        .select("term")
        .collect()
    )
    return sorted(r["term"] for r in cand)


def expand_query(
    ix: IndexHandle, query: str, *, fuzzy: bool = False, synonyms: bool = False
) -> list[str]:
    """Whitespace split (reference search.go:116) → analyzer-normalize →
    synonym-group then fuzzy expansion → distinct, order-preserving.
    The split+normalize core is shared with the SQL surface
    (oracle.query_terms — one home, no drift)."""
    from ..oracle import query_terms

    base = query_terms(query)
    syn = S.synonym_map()
    out: list[str] = []
    for t in base:
        group = list(syn[t]) if synonyms and t in syn else [t]
        for g in group:
            out.extend(expand_fuzzy(ix, g) if fuzzy else [g])
    return list(dict.fromkeys(out))


def buckets_of(meta: dict[str, tuple[int, int | None]], terms) -> list[int] | None:
    """Sorted postings buckets of ``terms`` (from :func:`term_meta`), or
    None when a term's bucket is unknown — then every bucket is read."""
    bs = {meta[t][1] for t in terms}
    return None if None in bs else sorted(bs)


def term_postings(ix: IndexHandle, terms: list[str], buckets: list[int] | None) -> DataFrame:
    """The pinned postings frame restricted to ``terms`` (pushed to
    parquet row groups) and their ``buckets`` (partition pruning)."""
    segs = ix.postings().where(F.col("term").isin(terms))
    return segs if buckets is None else segs.where(F.col("bucket").isin(buckets))


# --------------------------------------------------------------------------
# scoring
# --------------------------------------------------------------------------

_idf = S.idf


# absolute slack on the block bound: survivors of float rounding in the
# cross-term complement (ub − idf·segmax vs the exact Σ_{u≠t}) must not
# be dropped; only widens what is kept, never prunes more
_THETA_EPS = 1e-9


def _decode_tfnorm(blob: bytes, avgdl: float) -> tuple["object", "object"]:
    """Decode one postings blob → (doc_ints, tfnorm) arrays. Every
    scorer (executor mapInPandas and driver numpy) decodes through here
    and :func:`..semantics.tfnorm`, so the plans can never
    desynchronize."""
    docs, tfs, dls = decode_postings(blob)
    return docs, S.tfnorm(tfs, dls, avgdl)


def _make_scorer(idfs: dict[str, float], avgdl: float, theta: float = 0.0):
    """mapInPandas stage: decode segments → per-entry contributions.

    Emits (doc_int, contrib). Block-max WAND skip (north_star), exact
    for ANY number of query terms: segments are doc-aligned across
    terms (codec.SEG_SPAN), so for block b of term t in segment s

        bound(t, b) = idf_t·block_max_tfnorm(b) + Σ_{u≠t} idf_u·seg_max_tfnorm(u, s)

    upper-bounds the TOTAL BM25 score of every doc in that block. The
    cross-term complement arrives as the ``seg_ub`` column (segment
    ub = Σ_t idf_t·seg_max, attached by ``_prune_segments``), so
    other = seg_ub − idf_t·seg_max_t — exactly 0.0 for single-term
    queries. Dropping a block with bound < θ − ε is exact even though
    the doc's OTHER term contributions still flow: its total score is
    provably < θ, so its (partial) aggregate can never reach the top-k
    boundary, ties at θ included.
    """

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            outs_d, outs_s = [], []
            prune = theta > 0.0 and "seg_ub" in pdf.columns
            seg_ubs = pdf["seg_ub"] if prune else pdf["term"]
            seg_maxes = pdf["seg_max_tfnorm"] if prune else pdf["term"]
            for term, blob, bmax, seg_ub, seg_max in zip(
                pdf["term"], pdf["postings"], pdf["block_max_tfnorm"], seg_ubs, seg_maxes
            ):
                idf = idfs[term]
                docs, tfn = _decode_tfnorm(bytes(blob), avgdl)
                contrib = idf * tfn
                if prune:
                    other = float(seg_ub) - idf * float(seg_max)
                    bm = np.asarray(bmax, dtype=np.float64) * idf + other
                    keep_block = bm >= theta - _THETA_EPS
                    if not keep_block.all():
                        mask = np.repeat(keep_block, BLOCK)[: len(docs)]
                        docs, contrib = docs[mask], contrib[mask]
                outs_d.append(docs)
                outs_s.append(contrib)
            if outs_d:
                yield pd.DataFrame(
                    {
                        "doc_int": np.concatenate(outs_d),
                        "contrib": np.concatenate(outs_s),
                    }
                )

    return score_batches


def _result_df(spark: SparkSession, rows: list[tuple], names=("doc_id", "score")) -> DataFrame:
    """Driver-side result rows (string columns, then the score) → a
    DataFrame built from Arrow: a local relation, so collecting it
    launches no Spark job, empty or not (a frame built from an empty
    list or pandas frame runs one)."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(names)
    types = [pa.string()] * (len(names) - 1) + [pa.float64()]
    return spark.createDataFrame(
        pa.Table.from_arrays([pa.array(c, t) for c, t in zip(cols, types)], names=list(names))
    )


def _decode_per_term(tbl, avgdl: float) -> dict[str, list]:
    """Arrow ``(term, postings)`` rows → term → [(doc_ints, tfnorm)],
    each blob decoded once."""
    per_term: dict[str, list] = {}
    for term, blob in zip(tbl.column("term").to_pylist(), tbl.column("postings").to_pylist()):
        per_term.setdefault(term, []).append(_decode_tfnorm(blob, avgdl))
    return per_term


def _score_rows_driver(
    per_term: dict[str, list], idfs: dict[str, float]
) -> tuple["object", "object", "object"]:
    """One query's exact per-doc BM25 over decoded rows in driver numpy
    — the same float64 expression shape as :func:`_make_scorer`.
    Returns (doc_ints ascending, scores, matched_term_counts)."""
    import numpy as np

    ds, cs = [], []
    for t, idf in idfs.items():
        for docs, tfn in per_term.get(t, ()):
            ds.append(docs)
            cs.append(idf * tfn)
    if not ds:
        z = np.zeros(0, dtype=np.int64)
        return z, np.zeros(0), z
    docs = np.concatenate(ds)
    contribs = np.concatenate(cs)
    uniq, inv, counts = np.unique(docs, return_inverse=True, return_counts=True)
    sums = np.bincount(inv, weights=contribs, minlength=len(uniq))
    return uniq, sums, counts


def light_topk(
    reader: SnapshotReader,
    queries: dict[str, dict[str, float]],
    buckets: list[int] | None,
    k: int | None,
    *,
    mode: str = "or",
    allowed=None,
    dead=None,
    segs: list[int] | None = None,
) -> dict[str, tuple["object", "object"]]:
    """The light-query scorer every serving surface shares. ONE read of
    the ``(term, postings)`` rows with bucket ∈ ``buckets`` ∧ term ∈ the
    queries' union (∧ seg ∈ ``segs`` for a seg-chunked read), each row
    decoded once; then per query (qid → {term: idf}): exact per-doc
    scores, the AND term count (``mode="and"``), the cached filter set
    ``allowed`` (sorted doc_int array, :meth:`IndexHandle.filter_doc_ints`),
    the excluded doc set ``dead`` (doc_int array; the live streaming
    search's superseded versions) and the exact (−score, doc_int) top-k
    cut (``k=None`` keeps every match). Returns qid → (doc_ints, raw
    scores) in rank order.

    Exact because segments are doc-aligned across terms: any read that
    keeps whole segments holds every query-term posting of each doc it
    returns. Callers bound the read by Σ df (SERVING_DRIVER_MAX), known
    before any IO."""
    import numpy as np

    terms = sorted({t for idfs in queries.values() for t in idfs})
    per_term = _decode_per_term(reader.read(terms, buckets, segs=segs), reader.stats["avgdl"])
    out = {}
    for qid, idfs in queries.items():
        docs, sums, counts = _score_rows_driver(per_term, idfs)
        keep = counts == len(idfs) if mode == "and" else np.ones(len(docs), dtype=bool)
        if allowed is not None:
            keep &= np.isin(docs, allowed)
        if dead is not None:
            keep &= np.isin(docs, dead, invert=True)
        docs, sums = docs[keep], sums[keep]
        order = np.lexsort((docs, -sums))[:k]
        out[qid] = docs[order], sums[order]
    return out


# pruning pays only when there are enough doc-aligned segments for the
# metadata pass to skip some; below this the extra driver round-trips
# cost more than scanning every segment
PRUNE_MIN_DOCS = 4 * (1 << 16)
# batch-path pruning additionally requires a real decode volume: below
# this Σ df (known driver-side from the term dictionary, no job) the
# direct one-pass decode is cheaper than the θ-establishment round.
# Measured on a 4 M-doc index: the prune pass costs ~2.5 s of fixed
# metadata/θ jobs and skips ~10 % of a multi-term batch's decode
# (≥50 % for single-term qids, where the WAND bound is tight) — at
# ~1 M decoded postings/s/core that breaks even around 10⁷ postings
PRUNE_MIN_POSTINGS = 4 * SERVING_DRIVER_MAX
# MUST-filtered θ establishment: extra ×4 pick-set expansion rounds
# before giving up (θ=0) when the picked segments hold <k ALLOWED docs.
# 3 rounds × overfetch 4 × k 10 reaches a 2560-doc candidate pool —
# enough for ~0.5 % selectivity filters — while every round stays a
# bounded metadata collect + a ≤2560-doc scoring job
_PRUNE_FILTER_ROUNDS = 3
# per-seg (qid, ub) block-skip metadata is broadcast onto the scan only
# below this (#qids × max-possible-segs) bound — ~32 B/entry → ≤128 MB
_QUBS_BROADCAST_MAX = 4_000_000
# the batch prune's per-(term, seg) metadata is collected and the whole
# pick/ub/survivor computation runs in driver numpy when
# #terms × max-possible-segs fits this bound (~80 B/row → ≤80 MB): one
# narrow JVM collect replaces the metadata shuffle + per-qid window +
# persist of the distributed pass (which remains the fallback for
# huge-corpus × many-term batches)
_META_COLLECT_MAX = 1_000_000

# last batch search's persisted segment-metadata frame (see
# _prune_segments_many); released when the next batch search starts
_BATCH_META_CACHE = None

# diagnostic: the last θ-pass pick set and its EXACT postings volume
# (Σ n over every queried (term, seg) row landing in the picked segs —
# the quantity the SERVING_DRIVER_MAX collect gate bounds); tests
# assert it against an independent recount
_LAST_PICKED: dict | None = None


def clear_batch_meta_cache() -> None:
    """Release the persisted batch segment-metadata frame (owned here;
    external callers must use this rather than touching the global)."""
    global _BATCH_META_CACHE
    if _BATCH_META_CACHE is not None:
        try:
            _BATCH_META_CACHE.unpersist()
        except Exception:
            pass
        _BATCH_META_CACHE = None


from ..metrics import timed


@timed("search_index")
def search_index(
    ix: IndexHandle,
    terms: list[str],
    *,
    k: int = S.TOP_K,
    doc_predicate: Column | None = None,
    prune: bool = True,
    overfetch: int = 4,
    mode: str = "or",
) -> DataFrame:
    """Top-k (doc_id, score) over the postings index — rank-identical to
    the direct path. ``doc_predicate`` filters candidate docs via docmap
    (MUST block, reference search.go:133-139); df/idf stay corpus-global.
    ``mode="and"`` keeps only docs matching every term (posting-list
    intersection, J4; pruning is disabled there — the OR-score θ bound
    is not sound for conjunctive top-k).

    Job budget on a warm handle: a light query (Σ df ≤
    SERVING_DRIVER_MAX) launches none — :func:`light_topk` over the
    pinned reader, a filter's pinned doc set (its first use runs one
    docmap job), hydration from the pinned doc names; the returned frame
    is a local relation. A heavier query (or a filtered one on a corpus
    too large to pin filter sets) runs the distributed plan: 1
    score+top-k job (TakeOrderedAndProject over the pruned postings
    scan), plus 2 metadata jobs only when block-max pruning engages
    (large corpora)."""
    spark = ix.spark
    terms = list(dict.fromkeys(terms))
    meta = term_meta(ix, terms)
    if mode == "and" and len(meta) < len(terms):
        # a term absent from the corpus can never satisfy the conjunction
        return _result_df(spark, [])
    terms = [t for t in terms if t in meta]  # OR: unseen terms match nothing
    if not terms:
        return _result_df(spark, [])
    st = ix.stats
    idfs = {t: _idf(st["n_docs"], meta[t][0]) for t in terms}
    buckets = buckets_of(meta, terms)

    if sum(meta[t][0] for t in terms) <= SERVING_DRIVER_MAX:
        doc_set = None if doc_predicate is None else ix.filter_doc_ints(doc_predicate)
        if doc_predicate is None or doc_set is not None:
            docs, raw = light_topk(
                ix.reader(), {"": idfs}, buckets, k, mode=mode, allowed=doc_set
            )[""]
            return _hydrate_pairs(ix, list(zip(docs.tolist(), raw.tolist())))

    segs = term_postings(ix, terms, buckets)
    # ONE allowed-docs frame serves both the θ-establishment inside
    # _prune_segments and the post-aggregation MUST semi-join below —
    # the pruning proof requires both sides to use the same predicate
    allowed = (
        ix.docmap().where(doc_predicate).select("doc_int")
        if doc_predicate is not None
        else None
    )
    theta = 0.0
    if prune and mode == "or" and st["n_docs"] >= PRUNE_MIN_DOCS:
        # MUST-filtered queries prune too: θ is established among
        # ALLOWED docs only (a θ from the unfiltered corpus could
        # exceed the k-th allowed score → unsound), and every bound
        # still upper-bounds every doc, allowed or not
        segs, theta = _prune_segments(ix, segs, idfs, k, overfetch, allowed=allowed)
    if mode == "and" and len(terms) > 1:
        # conjunctive segment pruning (exact): segments are doc-aligned
        # across terms, so a doc matching ALL terms can only live in a
        # segment where EVERY term has postings — intersect the per-term
        # segment sets from metadata columns alone (the OR θ-bound is
        # not sound for AND; this intersection is, and it is usually
        # far stronger for selective conjunctions)
        full = (
            segs.groupBy("seg")
            .agg(F.count_distinct("term").alias("_nt"))
            .where(F.col("_nt") == len(terms))
            .select("seg")
        )
        segs = segs.join(F.broadcast(full), "seg", "left_semi")

    score_cols = ["term", "postings", "block_max_tfnorm"]
    if theta > 0.0 and "seg_ub" in segs.columns:
        score_cols += ["seg_max_tfnorm", "seg_ub"]
    scored = segs.select(*score_cols).mapInPandas(
        _make_scorer(idfs, st["avgdl"], theta), "doc_int LONG, contrib DOUBLE"
    )

    agg = scored.groupBy("doc_int").agg(
        F.sum("contrib").alias("score_raw"), F.count(F.lit(1)).alias("_nt")
    )
    if allowed is not None:
        # MUST filter commutes with per-doc aggregation (it drops whole
        # docs, never individual term contributions) — joining AFTER the
        # groupBy semi-joins the few aggregated rows instead of every
        # (term, doc) contribution row
        agg = agg.join(allowed, "doc_int", "left_semi")
    if mode == "and":
        # one scorer row per (term, doc) → row count == matched terms
        agg = agg.where(F.col("_nt") == len(terms))
    top_rows = (
        # doc_int order == doc_id order (monotone numbering) → the
        # tie-break at the k boundary is exact before hydration
        agg.orderBy(F.desc("score_raw"), F.asc("doc_int"))
        .limit(k)
        .collect()
    )
    return _hydrate_pairs(ix, [(int(r["doc_int"]), float(r["score_raw"])) for r in top_rows])


def _doc_names_for(ix: IndexHandle, doc_ints) -> "_DocNames | dict[int, str] | None":
    """doc_int → doc_id covering ``doc_ints``: the pinned doc names, or
    one docmap point-read over them (isin pushdown) when the corpus is
    too large to pin."""
    names = ix.doc_names()
    if names is None and doc_ints:
        names = {
            int(r["doc_int"]): r["doc_id"]
            for r in ix.docmap()
            .where(F.col("doc_int").isin(sorted(doc_ints)))
            .select("doc_int", "doc_id")
            .collect()
        }
    return names


def _ranked(names, sel: list[tuple[int, float]]) -> list[tuple[str, float]]:
    """(doc_int, raw score) → (doc_id, rounded score) in the final rank
    order: score desc, doc_id asc."""
    out = sorted(((names[d], s) for d, s in sel), key=lambda x: (-x[1], x[0]))
    return [(d, S.round_score(s)) for d, s in out]


def _hydrate_pairs(ix: IndexHandle, sel: list[tuple[int, float]]) -> DataFrame:
    """≤k (doc_int, raw score) → ordered (doc_id, score) result frame."""
    return _result_df(ix.spark, _ranked(_doc_names_for(ix, {d for d, _ in sel}), sel))


def _by_qid(term_q: dict[str, list[tuple[str, float]]]) -> dict[str, dict[str, float]]:
    """term → [(qid, idf)] → qid → {term: idf}."""
    out: dict[str, dict[str, float]] = {}
    for t, lst in term_q.items():
        for qid, idf in lst:
            out.setdefault(qid, {})[t] = idf
    return out


@timed("search_many")
def search_many(
    ix: IndexHandle,
    queries: dict[str, list[str]],
    *,
    k: int = S.TOP_K,
    prune: bool = True,
    overfetch: int = 4,
    driver: bool | None = None,
) -> DataFrame:
    """Batched top-k for MANY queries in ONE distributed pass →
    (qid, doc_id, score), ordered (qid, score desc, doc_id).

    The offline-evaluation path: one postings scan over the union of
    all query terms, segments decoded once and fanned out to every
    query containing the term, per-query top-k via a window — per-job
    scheduling cost amortizes over the whole batch (serving N queries
    one-by-one pays it N times).

    Like the serving path, a batch whose UNION posting volume (Σ df
    over the distinct terms, known driver-side before any read) fits
    SERVING_DRIVER_MAX is a light batch: :func:`light_topk` reads the
    union's blobs once through the pinned reader and scores every query
    in driver numpy — no Spark job on a warm handle. ``driver=False``
    forces the distributed plan (e.g. to keep a huge result set on the
    cluster); ``driver=True`` forces the driver read.

    On large corpora (PRUNE_MIN_DOCS) with a real decode volume
    (Σ df ≥ PRUNE_MIN_POSTINGS — both known driver-side from the term
    dictionary, no job) the distributed scan is pruned per query
    before any postings byte is decoded, at two granularities:

    - SEGMENT level: a metadata pass establishes a per-qid θ (k-th
      exact candidate score inside each query's richest segments —
      computed in driver numpy when the pick set is Σ-n bounded), and
      a ``(term, seg)`` row is decoded only if SOME query containing
      the term has ``ub(qid, seg) ≥ θ_qid``;
    - BLOCK level: inside the scorer, each 128-posting block is skipped
      PER QID when ``idf_t·block_max + (ub(qid,seg) − idf_t·seg_max)``
      falls below θ_qid — the same cross-term-complement WAND bound as
      the serving scorer, exact for any term count because doc-aligned
      segments carry a doc's complete per-query score. Measured on a
      4 M-doc index: the segment bound is loose for common terms (seg
      maxima ≈ the global max) but the block bound skips ~99 % of a
      heavy term's blocks.

    See :func:`_prune_segments_many`."""
    from pyspark.sql import Window

    spark = ix.spark
    qterms = {q: list(dict.fromkeys(ts)) for q, ts in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    meta = term_meta(ix, all_terms)
    st = ix.stats
    term_q: dict[str, list[tuple[str, float]]] = {}
    for qid, ts in qterms.items():
        for t in ts:
            if t in meta:
                term_q.setdefault(t, []).append((qid, _idf(st["n_docs"], meta[t][0])))
    names = ("qid", "doc_id", "score")
    if not term_q:
        return _result_df(spark, [], names)

    buckets = buckets_of(meta, term_q)
    total_df = sum(meta[t][0] for t in term_q)
    if driver is None:
        driver = total_df <= SERVING_DRIVER_MAX
    if driver:
        top = light_topk(ix.reader(), _by_qid(term_q), buckets, k)
        sel = {q: list(zip(d.tolist(), s.tolist())) for q, (d, s) in top.items()}
        doc_names = _doc_names_for(ix, {d for pairs in sel.values() for d, _ in pairs})
        return _result_df(
            spark,
            [(q, d, s) for q in sorted(sel) for d, s in _ranked(doc_names, sel[q])],
            names,
        )
    full = term_postings(ix, list(term_q), buckets)
    # NOTE a whole-query hybrid split (light qids answered by a driver
    # collect, heavy qids distributed) was measured on the 4 M-doc
    # corpus and REJECTED: the heavy remainder pays the same fixed
    # plan costs and the light qids ride the shared distributed scan
    # nearly free, so the split only serialized work the cluster was
    # doing in parallel (4.4 s both ways). The win that survives is
    # folding the prune pass's METADATA machinery driver-side — see
    # _prune_segments_many_driver.
    thetas: dict[str, float] | None = None
    if (
        prune
        and st["n_docs"] >= PRUNE_MIN_DOCS
        and total_df >= PRUNE_MIN_POSTINGS
    ):
        segs, thetas = _prune_segments_many(ix, full, term_q, k, overfetch)
    else:
        segs = full.select("term", "postings")
    scored = segs.mapInPandas(
        _make_batch_scorer(term_q, st["avgdl"], thetas),
        "qid STRING, doc_int LONG, contrib DOUBLE",
    )
    agg = scored.groupBy("qid", "doc_int").agg(F.sum("contrib").alias("score_raw"))
    w = Window.partitionBy("qid").orderBy(F.desc("score_raw"), F.asc("doc_int"))
    top = agg.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    return (
        top.join(ix.docmap().select("doc_int", "doc_id"), "doc_int")
        .select("qid", "doc_id", F.round("score_raw", S.SCORE_DECIMALS).alias("score"), "score_raw")
        .orderBy("qid", F.desc("score_raw"), F.asc("doc_id"))
        .drop("score_raw")
    )


def _make_batch_scorer(
    term_q: dict[str, list[tuple[str, float]]],
    avgdl: float,
    thetas: dict[str, float] | None = None,
):
    """mapInPandas stage for the batch path: decode each (term, seg)
    row ONCE and fan its contributions out to every query containing
    the term — (qid, doc_int, contrib) rows.

    When the pruning pass supplied per-qid θ values AND the input rows
    carry block metadata, each 128-posting block is skipped PER QID via
    the same cross-term-complement WAND bound as the serving scorer
    (:func:`_make_scorer`):

        bound(qid, t, b) = idf_t·block_max(b) + (ub(qid,seg) − idf_t·seg_max(t,seg))

    where ``ub(qid,seg)`` arrives as the row's ``qubs`` list (attached
    by a broadcast join of per-seg metadata). For single-term qids the
    complement is identically 0.0, so those skip even when ``qubs`` is
    absent (the attach is size-gated). Dropping a block for a qid is
    exact: every doc in it provably scores below θ_qid in TOTAL, so its
    partial contribution can never reach that query's top-k boundary."""
    qid_nterms: dict[str, int] = {}
    for lst in term_q.values():
        for qid, _ in lst:
            qid_nterms[qid] = qid_nterms.get(qid, 0) + 1

    def score_batches(batches):
        import numpy as np

        for pdf in batches:
            qids, dints, contribs = [], [], []
            blocks_on = thetas is not None and "block_max_tfnorm" in pdf.columns
            bm_col = pdf["block_max_tfnorm"] if blocks_on else pdf["term"]
            sm_col = pdf["seg_max_tfnorm"] if blocks_on else pdf["term"]
            qu_col = pdf["qubs"] if blocks_on and "qubs" in pdf.columns else pdf["term"]
            for term, blob, bmax, seg_max, qubs in zip(
                pdf["term"], pdf["postings"], bm_col, sm_col, qu_col
            ):
                docs, tfn = _decode_tfnorm(bytes(blob), avgdl)
                if blocks_on:
                    bm = np.asarray(bmax, dtype=np.float64)
                    ubd = (
                        {e["qid"]: float(e["ub"]) for e in qubs}
                        if qubs is not None and not isinstance(qubs, str)
                        else None
                    )
                for qid, idf in term_q[term]:
                    d, c = docs, idf * tfn
                    theta = thetas.get(qid, 0.0) if thetas else 0.0
                    if blocks_on and theta > 0.0:
                        if qid_nterms[qid] == 1:
                            other = 0.0
                        elif ubd is not None and qid in ubd:
                            other = ubd[qid] - idf * float(seg_max)
                        else:
                            other = None  # complement unknown → no skip
                        if other is not None:
                            keep = bm * idf + other >= theta - _THETA_EPS
                            if not keep.all():
                                mask = np.repeat(keep, BLOCK)[: len(docs)]
                                d, c = docs[mask], c[mask]
                    qids.append(np.full(len(d), qid, dtype=object))
                    dints.append(d)
                    contribs.append(c)
            if dints:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(qids),
                        "doc_int": np.concatenate(dints),
                        "contrib": np.concatenate(contribs),
                    }
                )

    return score_batches


def _establish_batch_thetas(
    ix: IndexHandle,
    full: DataFrame,
    term_q: dict[str, list[tuple[str, float]]],
    k: int,
    picked_segs: set[int],
    picked_n: int,
) -> dict[str, float]:
    """Per-qid θ = k-th best exact candidate score inside the picked
    segments. The pick set's posting count is known from metadata, so
    when it fits SERVING_DRIVER_MAX this is ONE bounded JVM collect
    scored in driver numpy; only an oversized pick set pays a
    distributed candidate job. Shared by both metadata paths of
    :func:`_prune_segments_many`."""
    from pyspark.sql import Window

    spark = ix.spark
    pick_df = spark.createDataFrame(
        pd.DataFrame({"seg": sorted(picked_segs)}), schema="seg LONG"
    )
    head = full.join(F.broadcast(pick_df), "seg", "left_semi")
    if picked_n <= SERVING_DRIVER_MAX:
        tbl = head.select("term", "postings").toArrow()  # Σ-n bounded pick set
        return _batch_thetas_driver(tbl, term_q, ix.stats["avgdl"], k)
    cand = (
        head.select("term", "postings")
        .mapInPandas(
            _make_batch_scorer(term_q, ix.stats["avgdl"]),
            "qid STRING, doc_int LONG, contrib DOUBLE",
        )
        .groupBy("qid", "doc_int")
        .agg(F.sum("contrib").alias("sc"))
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("sc"))
    kth = (
        cand.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") == k)
        .select("qid", "sc")
        .collect()  # ≤ #qids rows; a qid with < k candidates gets θ=0
    )
    return {r["qid"]: float(r["sc"]) for r in kth}


def _prune_segments_many_driver(
    ix: IndexHandle,
    full: DataFrame,
    term_q: dict[str, list[tuple[str, float]]],
    k: int,
    overfetch: int,
) -> tuple[DataFrame, dict[str, float]]:
    """Driver-numpy metadata path of :func:`_prune_segments_many` —
    identical semantics (same ub definition, greedy pick, θ, survivor
    rule, qubs attach), but the per-(term, seg) metadata is ONE narrow
    JVM collect (≤ #terms × max_segs rows, gated by _META_COLLECT_MAX)
    and the pick/ub/survivor computation is plain dict/loop work over
    it: no metadata shuffle, no per-qid window, no persist — the fixed
    prune cost a near-break-even batch pays drops ~2.5×."""
    spark = ix.spark
    mrows = full.select("term", "seg", "n", "seg_max_tfnorm").collect()
    # per-seg posting totals (over ALL queried terms — the exact number
    # the θ pass collects if the segment is picked) and per-(qid, seg)
    # ub sums / per-qid coverage counts
    seg_tot: dict[int, int] = {}
    ubs: dict[tuple[str, int], float] = {}
    cnts: dict[tuple[str, int], int] = {}
    for r in mrows:
        s, n, smax = int(r["seg"]), int(r["n"]), float(r["seg_max_tfnorm"])
        seg_tot[s] = seg_tot.get(s, 0) + n
        for qid, idf in term_q[r["term"]]:
            key = (qid, s)
            ubs[key] = ubs.get(key, 0.0) + idf * smax
            cnts[key] = cnts.get(key, 0) + n
    per_qid: dict[str, list[tuple[float, int]]] = {}
    for (qid, s), ub in ubs.items():
        per_qid.setdefault(qid, []).append((ub, s))
    picked_segs: set[int] = set()
    picked_n = 0
    for qid in sorted(per_qid):  # deterministic pick order
        lst = sorted(per_qid[qid], key=lambda x: (-x[0], x[1]))
        acc = 0
        for ub, s in lst[: overfetch * k]:
            if acc >= overfetch * k:
                break
            if s not in picked_segs:
                picked_segs.add(s)
                picked_n += seg_tot[s]
            acc += cnts[(qid, s)]
    global _LAST_PICKED, _BATCH_META_CACHE
    clear_batch_meta_cache()  # release any previous batch's cache
    _LAST_PICKED = {"segs": sorted(picked_segs), "n": picked_n}
    scan_cols = ["term", "seg", "postings", "block_max_tfnorm", "seg_max_tfnorm"]
    if not picked_segs:
        return full.select("term", "postings"), {}
    thetas = _establish_batch_thetas(ix, full, term_q, k, picked_segs, picked_n)
    if not thetas:
        return full.select("term", "postings"), {}
    # survivor rule (identical to the distributed path): a (term, seg)
    # row is decoded iff SOME qid containing the term has
    # ub(qid, seg) ≥ θ_qid − ε; a θ-less qid (<k candidates) keeps all
    # its rows (θ treated as 0)
    surv_pairs = [
        (r["term"], int(r["seg"]))
        for r in mrows
        if any(
            ubs[(qid, int(r["seg"]))] >= thetas.get(qid, 0.0) - _THETA_EPS
            for qid, _ in term_q[r["term"]]
        )
    ]
    if not surv_pairs:
        return full.select("term", "postings"), {}
    surv_df = spark.createDataFrame(
        pd.DataFrame({"term": [t for t, _ in surv_pairs], "seg": [s for _, s in surv_pairs]}),
        schema="term STRING, seg LONG",
    )
    scan = full.join(F.broadcast(surv_df), ["term", "seg"], "left_semi")
    n_qids = len(per_qid)
    max_segs = -(-ix.stats["n_docs"] // SEG_SPAN)
    if n_qids * max_segs <= _QUBS_BROADCAST_MAX:
        surv_segs = {s for _, s in surv_pairs}
        qub_rows = [
            (s, [(qid, ubs[(qid, s)]) for qid in sorted(per_qid) if (qid, s) in ubs])
            for s in sorted(surv_segs)
        ]
        seg_ubs = spark.createDataFrame(
            qub_rows, "seg LONG, qubs ARRAY<STRUCT<qid: STRING, ub: DOUBLE>>"
        )
        scan = scan.join(F.broadcast(seg_ubs), "seg", "left")
        return scan.select(*scan_cols, "qubs"), thetas
    return scan.select(*scan_cols), thetas


def _prune_segments_many(
    ix: IndexHandle,
    full: DataFrame,
    term_q: dict[str, list[tuple[str, float]]],
    k: int,
    overfetch: int,
) -> tuple[DataFrame, dict[str, float]]:
    """Per-query pruning for the batch path (:func:`search_many`).
    Returns ``(scan, thetas)``: the (term, seg) rows to decode — with
    block metadata attached so the scorer can skip per-qid — and the
    per-qid θ values.

    All metadata-only until the θ pass; exactness argument:

    1. ``ub(qid, seg) = Σ_{t ∈ qid ∩ seg} idf_t · seg_max_tfnorm``
       upper-bounds every doc's FULL score for ``qid`` inside ``seg``
       (doc-aligned segments: a doc's postings for all of a query's
       terms live in its one segment);
    2. θ_qid = k-th best exact candidate score inside the query's
       greedily-picked richest segments. The pick set's total posting
       count is known from metadata BEFORE any decode, so when it fits
       SERVING_DRIVER_MAX the θ pass is ONE bounded JVM collect scored
       in driver numpy (the common case: ≤ overfetch·k docs of
       coverage per qid); only an oversized pick set pays a
       distributed candidate job. Contributions from OTHER queries'
       picked segments only tighten θ;
    3. a ``(term, seg)`` row is decoded in the main pass iff SOME qid
       containing ``term`` has ``ub(qid, seg) ≥ θ_qid`` (ties kept).
       A dropped row covers only docs provably below θ for every query
       that could reach them through it — exact. (Measured: this seg
       bound is loose for common terms — the real skip happens at
       block granularity inside the scorer, which is why ``scan``
       carries ``block_max_tfnorm``/``seg_max_tfnorm``/``qubs``.);
    4. ``qubs`` (per-seg list of (qid, ub)) rides a BROADCAST join onto
       the scan — postings blobs never shuffle. The attach is gated by
       a driver-computed size bound (#qids × max possible segs); when
       skipped, single-term qids still block-skip (complement ≡ 0).

    The per-qid metadata window is ``partitionBy(qid)`` — parallel
    across the batch; each task sorts one query's segment METADATA
    (~24 B/row), never postings.

    When ``#terms × max_segs`` fits ``_META_COLLECT_MAX`` the whole
    metadata computation instead runs in driver numpy off one narrow
    collect (:func:`_prune_segments_many_driver`) — measured 1.6 s →
    ~0.6 s of fixed prune cost on a 4 M-doc 24-term batch, which is
    what lets ``PRUNE_MIN_POSTINGS`` sit at 2× the driver collect cap
    instead of 4×."""
    from pyspark.sql import Window

    max_segs = -(-ix.stats["n_docs"] // SEG_SPAN)
    if len(term_q) * max_segs <= _META_COLLECT_MAX:
        return _prune_segments_many_driver(ix, full, term_q, k, overfetch)

    spark = ix.spark
    qt_pairs = [(q, t) for t, lst in term_q.items() for q, _ in lst]
    tq = spark.createDataFrame(
        [(t, [(q, float(i)) for q, i in lst]) for t, lst in term_q.items()],
        "term STRING, qs ARRAY<STRUCT<qid: STRING, idf: DOUBLE>>",
    )
    # seg_tot = Σ n over ALL queried (term, seg) rows of the segment —
    # computed BEFORE the per-qid explode so shared terms aren't double
    # counted. This is the exact number of postings the θ pass collects
    # if the segment is picked (`head` below filters on seg only), which
    # is what the SERVING_DRIVER_MAX gate must bound; a per-qid cnt
    # would undercount segments rich for several queries' terms.
    w_seg = Window.partitionBy("seg")
    meta_q = (
        full.select("term", "seg", "n", "seg_max_tfnorm")
        .join(F.broadcast(tq), "term")
        .withColumn("seg_tot", F.sum("n").over(w_seg))
        .select("seg", "n", "seg_tot", "seg_max_tfnorm", F.explode("qs").alias("q"))
        .select(
            F.col("q.qid").alias("qid"),
            "seg",
            "n",
            "seg_tot",
            (F.col("q.idf") * F.col("seg_max_tfnorm")).alias("part"),
        )
        .groupBy("qid", "seg")
        .agg(
            F.sum("part").alias("ub"),
            F.sum("n").alias("cnt"),
            F.first("seg_tot").alias("seg_tot"),
        )
    )
    # meta_q feeds three plans (top-meta collect, survivor semi-join,
    # seg_ubs broadcast) — cache it so the metadata scan + shuffle run
    # once per batch; the previous batch's cache is released here (the
    # stale handle would only recompute, never mis-answer).
    global _BATCH_META_CACHE
    clear_batch_meta_cache()
    meta_q = meta_q.persist()
    _BATCH_META_CACHE = meta_q
    w = Window.partitionBy("qid").orderBy(F.desc("ub"), F.asc("seg"))
    top_meta = (
        meta_q.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= overfetch * k)
        .select("qid", "seg", "cnt", "seg_tot")
        .collect()  # ≤ #qids · overfetch·k metadata rows
    )
    by_qid: dict[str, list] = {}
    for r in top_meta:
        by_qid.setdefault(r["qid"], []).append(r)
    picked_segs: set[int] = set()
    picked_n = 0
    for rows in by_qid.values():  # rows arrive in (ub desc, seg) order per qid
        acc = 0
        for r in rows:
            if acc >= overfetch * k:
                break
            if int(r["seg"]) not in picked_segs:
                picked_segs.add(int(r["seg"]))
                picked_n += int(r["seg_tot"])
            acc += int(r["cnt"])
    scan_cols = ["term", "seg", "postings", "block_max_tfnorm", "seg_max_tfnorm"]
    global _LAST_PICKED
    _LAST_PICKED = {"segs": sorted(picked_segs), "n": picked_n}
    if not picked_segs:
        return full.select("term", "postings"), {}

    thetas = _establish_batch_thetas(ix, full, term_q, k, picked_segs, picked_n)
    if not thetas:
        return full.select("term", "postings"), {}
    theta_map = F.create_map(
        *[F.lit(v) for q, t in thetas.items() for v in (q, t - _THETA_EPS)]
    )
    survivors = meta_q.where(
        F.col("ub") >= F.coalesce(theta_map[F.col("qid")], F.lit(0.0))
    )
    qt = spark.createDataFrame(qt_pairs, "qid STRING, term STRING")
    surv_ts = (
        survivors.join(F.broadcast(qt), "qid").select("term", "seg").distinct()
    )
    scan = full.join(surv_ts, ["term", "seg"], "left_semi")
    # block-skip complement metadata: per-seg (qid, ub) list. Size bound
    # is driver-computable with no job: every queried term spans at most
    # ceil(n_docs/SEG_SPAN) segments.
    max_segs = -(-ix.stats["n_docs"] // SEG_SPAN)
    n_qids = len({q for lst in term_q.values() for q, _ in lst})
    if n_qids * max_segs <= _QUBS_BROADCAST_MAX:
        seg_ubs = meta_q.groupBy("seg").agg(
            F.collect_list(F.struct("qid", "ub")).alias("qubs")
        )
        scan = scan.join(F.broadcast(seg_ubs), "seg", "left")
        return scan.select(*scan_cols, "qubs"), thetas
    return scan.select(*scan_cols), thetas


def _batch_thetas_driver(
    tbl, term_q: dict[str, list[tuple[str, float]]], avgdl: float, k: int
) -> dict[str, float]:
    """Per-qid k-th best exact score over the pick set's Arrow rows, in
    driver numpy — each row decoded once, contributions fanned out to
    the queries containing its term (the driver twin of
    :func:`_make_batch_scorer`)."""
    import numpy as np

    per_term = _decode_per_term(tbl, avgdl)
    thetas: dict[str, float] = {}
    for qid, idfs in _by_qid(term_q).items():
        _docs, sums, _cnt = _score_rows_driver(per_term, idfs)
        if len(sums) >= k:
            thetas[qid] = float(np.sort(sums)[-k])
    return thetas


def _prune_segments(
    ix: IndexHandle,
    segs: DataFrame,
    idfs: dict[str, float],
    k: int,
    overfetch: int,
    allowed: DataFrame | None = None,
) -> tuple[DataFrame, float]:
    """Block-max segment pruning, fully distributed metadata pass.

    1. aggregate per-segment ``ub = Σ_t idf_t · seg_max_tfnorm`` and doc
       count from the metadata columns only (postings bytes never read);
    2. greedy prefix via TakeOrderedAndProject: every segment holds ≥ 1
       doc, so the richest ``overfetch·k`` segments are always enough
       to cover ≥ overfetch·k docs — ``orderBy(ub desc).limit(O·k)``
       is a distributed top-M (per-partition heaps, no global sort, no
       single-partition window), and the driver runs the greedy prefix
       over those ≤ O·k metadata rows only;
    3. θ = k-th exact score inside the picked segments. Unfiltered, the
       picked blobs (Σ n bounded by ~O·k + one segment span per term)
       are collected and scored in driver numpy — the θ-establishment
       job folds into a cheap JVM collect. With a MUST filter the
       candidate job stays distributed (θ must be established among
       ``allowed`` docs; the predicate evaluates against docmap), and
       the pick set EXPANDS GEOMETRICALLY (×4 per round, up to
       ``_PRUNE_FILTER_ROUNDS`` extra rounds) when the picked segments
       hold fewer than k allowed docs — a selective filter thins the
       candidates, so a pick set sized by unfiltered ub alone would
       silently disable pruning (θ=0) exactly where the filter makes an
       unpruned scan most wasteful. Each round re-reads metadata
       columns and re-scores a ≤4×-larger bounded head only; if every
       candidate segment is in view and still <k allowed docs score,
       the corpus genuinely has <k allowed matches and θ=0 is correct.
       The bound side needs no filtering either way: ub ≥ any doc's
       score;
    4. survivors (``ub ≥ θ`` ∪ picked) stay a DataFrame, applied via a
       broadcast semi-join — the driver never materializes the survivor
       list either."""
    idf_map = F.create_map(*[F.lit(v) for t, f in idfs.items() for v in (t, float(f))])
    seg_meta = (
        segs.select(
            "seg", "n", (idf_map[F.col("term")] * F.col("seg_max_tfnorm")).alias("part")
        )
        .groupBy("seg")
        .agg(F.sum("part").alias("ub"), F.sum("n").alias("cnt"))
    )

    def pick(limit: int) -> tuple[list[int], bool]:
        """Greedy ub-desc prefix covering ≥ ``limit`` docs; second value
        is True when the WHOLE candidate segment set is in the prefix
        (no further expansion round can add anything)."""
        top = seg_meta.orderBy(F.desc("ub"), F.asc("seg")).limit(limit).collect()
        p, acc = [], 0
        for r in top:
            if acc >= limit:
                return p, False
            p.append(int(r["seg"]))
            acc += int(r["cnt"])
        return p, len(top) < limit

    picked, exhausted = pick(overfetch * k)
    if not picked:
        return segs, 0.0
    if allowed is None:
        head = segs.where(F.col("seg").isin(picked))
        tbl = head.select("term", "postings").toArrow()  # Σ-n bounded pick set
        _docs, sums, _cnt = _score_rows_driver(_decode_per_term(tbl, ix.stats["avgdl"]), idfs)
        if len(sums) < k:
            return segs, 0.0  # not enough candidates to establish a safe θ
        import numpy as np

        theta = float(np.sort(sums)[-k])
    else:
        theta = None
        for round_i in range(_PRUNE_FILTER_ROUNDS + 1):
            if round_i:  # expansion round: ×4 doc target, superset pick
                picked, exhausted = pick(overfetch * k * (4**round_i))
            head = segs.where(F.col("seg").isin(picked))
            cand = (
                head.select("term", "postings", "block_max_tfnorm")
                .mapInPandas(
                    _make_scorer(idfs, ix.stats["avgdl"], 0.0),
                    "doc_int LONG, contrib DOUBLE",
                )
                .groupBy("doc_int")
                .agg(F.sum("contrib").alias("sc"))
            )
            cand = cand.join(allowed, "doc_int", "left_semi")
            exact = cand.orderBy(F.desc("sc")).limit(k).collect()
            if len(exact) >= k:
                theta = float(exact[-1]["sc"])
                break
            if exhausted:
                # every candidate segment scored: the corpus has <k
                # allowed matches, an unpruned scan can't find more
                return segs, 0.0
        if theta is None:
            return segs, 0.0  # selective beyond the expansion budget
    # keep ties: a pruned doc scoring exactly θ could win the doc_id tie-break.
    # Inner join (same broadcast the old semi-join used) so every surviving
    # row carries its segment's ub — the scorer derives the cross-term
    # block-max complement from it (multi-term WAND, zero extra jobs)
    survivors = seg_meta.where(
        (F.col("ub") >= theta) | F.col("seg").isin(picked)
    ).select("seg", F.col("ub").alias("seg_ub"))
    return segs.join(F.broadcast(survivors), "seg"), theta
