"""Structured-Streaming ingest: CDC upsert/delete stream → LSM index.

Reference behavior being rebuilt (SURVEY §2.1 S9-S11, §2.10):

- NATS / Kafka subscribers consume JSON messages
  ``{doc_id, doc, delete}`` (reference ``pkg/model/model.go:3-7``) and
  apply them to the live index as upsert (= delete + re-add, reference
  ``internal/index/index.go:112-133``) or delete, in arrival order,
  last-write-wins (``internal/subscriber/subscriber.go:78-95``).
- Bleve absorbs those writes into in-memory scorch segments that are
  merged down to disk later — an LSM tree over posting lists.

Spark-native equivalent (merge-on-read, Iceberg-style):

- the stream is ``spark.readStream`` (file source in tests — the same
  deterministic JSON lines a Kafka topic would carry; swap
  ``.format("kafka")`` in prod) with a **checkpoint dir**, so each
  micro-batch is processed exactly once and ingest is resumable;
- ``foreachBatch`` appends an immutable **delta**: the batch's upsert
  rows (doc payload), a tombstone set (every touched doc_id — upsert
  tombstones the previous version), and a mini posting index of the
  new rows built with the SAME segment encoder as the base build;
- ``current_docs()`` is a merge-on-read view (base ∖ tombstones ∪
  latest upserts) — no per-batch rewrite of the corpus, which is what
  makes this viable at 10^12 turns (prod: Iceberg ``MERGE INTO`` with
  positional deletes);
- ``search()`` evaluates BM25 over base + delta postings with
  tombstoned docs excluded. Corpus statistics follow **Lucene/Bleve
  live semantics**: N and df still count tombstoned-but-unmerged docs
  (Lucene's ``maxDoc``/``docFreq`` do the same until segments merge),
  so scores drift slightly between compactions and snap to exact on
  ``compact()``. A light query (live Σ df ≤
  ``engine.SERVING_DRIVER_MAX``) runs no Spark job: the base through
  the pinned pyarrow reader of the current snapshot, each delta's
  postings read per call, one scorer (``engine.light_topk``) with the
  live avgdl, dead versions dropped by doc_int; heavier queries run a
  distributed plan (Bleve likewise serves fresh docs from its
  in-memory segments as soon as they are absorbed);
- ``compact()`` rebuilds the base snapshot from ``current_docs()`` via
  the batch build job (two-phase merge of the north rule) and clears
  deltas — the analogue of a scorch segment merge, after which results
  are rank-identical to the direct path (tested).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import weakref

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import semantics as S
from ..functions.text import doc_id_col, tokens_no_stop
from ..index.build import (
    SEGMENT_SCHEMA,
    _make_segment_encoder,
    bucket_col,
    build_index,
    partition_offsets,
    with_doc_int,
)
from ..index.catalog import IndexCatalog
from ..index.codec import SEG_SPAN
from ..index import engine as E
from ..index.engine import (
    IndexHandle,
    SnapshotReader,
    _make_scorer,
    _ranked,
    _result_df,
    doc_names_of,
    point_read,
)

# doc-count threshold above which apply_batch switches from the single
# window doc_int assignment to the two-phase committed-parquet scan
# (same pattern as the batch build) — keeps tiny micro-batches cheap
# (one job) while large CDC batches never funnel through one task
LARGE_BATCH_DOCS = 65536

# source helpers tag the DataFrames they return so ingest_stream can
# bind the index root to a *specific* source (kafka topic / socket
# endpoint), not just "stream" — a kafka→socket swap must trip the
# checkpoint-compat guard in _claim_source
_SOURCE_TAGS: "weakref.WeakKeyDictionary[DataFrame, str]" = weakref.WeakKeyDictionary()

DOC_FIELDS = "conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP"


def message_schema() -> str:
    """Stream message DDL — mirrors reference ``pkg/model/model.go:3-7``
    plus ``seq`` (the stream position; a Kafka offset in prod) which
    pins last-write-wins order *within* a micro-batch."""
    return f"seq LONG, doc_id STRING, delete BOOLEAN, doc STRUCT<{DOC_FIELDS}>"


def parse_messages(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Kafka-shaped frames → typed messages: a binary ``value`` column
    of JSON bytes becomes the ``message_schema()`` columns. This is the
    transform between ``spark.readStream.format("kafka")`` and
    :meth:`StreamingIndex.apply_batch`; the file source used in tests
    skips it only because the JSON reader applies the schema directly.
    Kafka partition offsets should be projected into ``seq`` upstream
    when the producer does not set it (reference delivery semantics:
    at-least-once, arrival order — ``internal/subscriber/subscriber.go``).
    """
    parsed = raw.select(
        F.from_json(F.col(value_col).cast("string"), message_schema()).alias("m")
    )
    return parsed.select("m.seq", "m.doc_id", "m.delete", "m.doc")


def kafka_source(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """Production stream source (S10): requires the spark-sql-kafka
    package on the classpath (not present in this sandbox — the file
    source in :meth:`StreamingIndex.ingest_files` is the tested
    stand-in carrying identical messages)."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .load()
    )
    out = parse_messages(raw.withColumn("value", F.col("value")))
    _SOURCE_TAGS[out] = f"kafka:{brokers}/{topic}"
    return out


def socket_source(spark: SparkSession, host: str, port: int) -> DataFrame:
    """Live TCP push source: newline-delimited JSON messages over a
    socket → the same typed ``message_schema()`` frame as
    :func:`kafka_source`. This is the NATS core-subject shape
    (reference ``internal/subscriber/subscriber.go:38-76``: text
    messages pushed over a connection, applied in arrival order) and —
    unlike the Kafka/NATS connectors — runs against an embedded TCP
    server with zero extra jars, so the live-broker path IS
    integration-tested in-sandbox (tests/test_streaming.py). Spark's
    socket source is single-receiver/no-replay by design; production
    deployments keep Kafka (S10) or a NATS bridge for redelivery."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    out = parse_messages(raw, value_col="value")
    _SOURCE_TAGS[out] = f"socket:{host}:{port}"
    return out


class _LiveRows:
    """The base snapshot's pinned reader plus the deltas' postings rows
    of one query, as the reader :func:`..index.engine.light_topk`
    scores — decoded with the live avgdl, not the base's."""

    def __init__(self, base: SnapshotReader, delta_rows: list, avgdl: float):
        self._base, self._delta_rows = base, delta_rows
        self.stats = {"avgdl": avgdl}

    def read(self, terms: list[str], buckets: list[int] | None, segs=None):
        return pa.concat_tables([self._base.read(terms, buckets, segs=segs), *self._delta_rows])


class StreamingIndex:
    """One streamed logical index: base snapshot + ordered delta log.

    Layout under ``root/``::

        index/            IndexCatalog (base snapshots, atomic CURRENT)
        docs/base/        materialized corpus at last compaction
        deltas/delta-<n>/ upserts.parquet, docmap.parquet,
                          postings.parquet, meta.json  (immutable)
        checkpoint/       Structured Streaming checkpoint (exactly-once)
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.catalog = IndexCatalog(os.path.join(root, "index"))
        self.docs_base = os.path.join(root, "docs", "base")
        self.delta_root = os.path.join(root, "deltas")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.delta_root, exist_ok=True)
        # serializes delta publication vs compaction: a continuous
        # (drain=False) query's apply_batch and compact() race on the
        # base snapshot + delta log; the lock makes each micro-batch
        # land entirely before or entirely after a base swap
        self._write_lock = threading.RLock()
        # handle of the base snapshot live search last read (see _base_handle)
        self._base_ix: IndexHandle | None = None

    # ------------------------------------------------------------------
    # bootstrap / delta log
    # ------------------------------------------------------------------

    def bootstrap(self, transcripts: DataFrame) -> None:
        """Initial load: materialize the corpus + build the base index."""
        transcripts.write.mode("overwrite").parquet(self.docs_base)
        build_index(self.spark, self.spark.read.parquet(self.docs_base), self.catalog)

    def delta_ids(self) -> list[int]:
        out = []
        for name in os.listdir(self.delta_root):
            if name.startswith("delta-"):
                out.append(int(name[6:]))
        return sorted(out)

    def _delta_dir(self, did: int, part: str) -> str:
        return os.path.join(self.delta_root, f"delta-{did}", part)

    def _delta_meta(self, did: int) -> dict:
        with open(self._delta_dir(did, "meta.json")) as f:
            return json.load(f)

    def _next_doc_int(self) -> int:
        """High watermark for delta doc_int assignment."""
        base = self.catalog.current()
        hi = base.stats["n_docs"]
        for did in self.delta_ids():
            hi = max(hi, self._delta_meta(did)["doc_int_end"])
        return hi

    # ------------------------------------------------------------------
    # ingest
    # ------------------------------------------------------------------

    def _claim_source(self, tag: str) -> None:
        """One index = ONE logical input stream (the reference runs one
        subscriber per index). The checkpoint's offset log is bound to
        its source; resuming it with a different source type fails deep
        inside Spark (or, worse, a fresh checkpoint would restart epoch
        ids at 0 and overwrite published deltas) — so the first attach
        claims the root with a marker and later mismatches raise a
        clear contract error instead."""
        marker = os.path.join(self.root, "SOURCE")
        if os.path.exists(marker):
            with open(marker) as f:
                prev = f.read().strip()
            if prev != tag:
                raise ValueError(
                    f"StreamingIndex at {self.root} is bound to source "
                    f"'{prev}'; attaching '{tag}' would resume an "
                    "incompatible Structured Streaming checkpoint. One "
                    "index = one logical input stream — use a separate "
                    "StreamingIndex root per source."
                )
        else:
            # atomic publish: a crash mid-write must not leave a
            # partial marker that locks the root out of ingestion
            tmp = marker + ".tmp"
            with open(tmp, "w") as f:
                f.write(tag)
            os.replace(tmp, marker)

    @staticmethod
    def _derive_source_tag(messages: DataFrame) -> str:
        """Distinct tag per source type/endpoint, so swapping e.g. a
        kafka topic for a socket feed trips :meth:`_claim_source` (the
        two sources' checkpoints are not interchangeable). Helpers in
        this module tag the frames they return; otherwise the analyzed
        plan is sniffed for the source class as a fallback."""
        tag = _SOURCE_TAGS.get(messages)
        if tag:
            return tag
        try:
            plan = messages._jdf.queryExecution().analyzed().toString().lower()
        except Exception:
            return "stream"
        import re

        m = re.search(r"filesource\[([^\]]+)\]", plan)
        if m:
            return f"files:{os.path.abspath(m.group(1))}"
        for key in ("kafka", "socket", "rate"):
            if key in plan:
                return key
        return "stream"

    def ingest_stream(
        self, messages: DataFrame, *, drain: bool = True, source_tag: str | None = None
    ):
        """Attach the delta-publishing sink to a typed message stream —
        the one production entry point (S9-S11):

            six.ingest_stream(kafka_source(spark, brokers, topic))
            six.ingest_stream(socket_source(spark, host, port), drain=False)
            six.ingest_stream(parse_messages(raw_binary_frames))

        ``messages`` must be a *streaming* DataFrame in the
        ``message_schema()`` shape. With ``drain=True`` the query runs
        ``availableNow`` (process everything available exactly once
        against the checkpoint, then stop — replayable sources only:
        files/Kafka); ``drain=False`` starts a continuous micro-batch
        query and returns it running (live push sources like sockets).
        Either way each micro-batch lands as one immutable delta via
        :meth:`apply_batch`, and a crash resumes from the checkpoint
        without reapplying published epochs. An index is bound to ONE
        source for its lifetime — the tag is derived per source
        type/endpoint (kafka topic, socket host:port, file dir) unless
        ``source_tag`` overrides it; see :meth:`_claim_source`."""
        self._claim_source(source_tag or self._derive_source_tag(messages))
        writer = (
            messages.writeStream
            .foreachBatch(lambda df, eid: self.apply_batch(df, eid))
            .option("checkpointLocation", self.checkpoint)
        )
        if drain:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination()
        else:
            q = writer.start()
        return q

    def ingest_files(self, source_dir: str, max_files_per_trigger: int | None = None):
        """Drain all available stream input exactly once and return.

        ``availableNow`` processes everything present, in micro-batches,
        against the checkpoint — calling again with no new files is a
        no-op; a crash mid-stream resumes without reapplying batches.
        """
        reader = (
            self.spark.readStream.schema(message_schema())
            .option("maxFilesPerTrigger", max_files_per_trigger or 1)
            .json(source_dir)
        )
        return self.ingest_stream(reader, source_tag=f"files:{os.path.abspath(source_dir)}")

    def apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """One micro-batch → one immutable delta dir (idempotent by name:
        a re-delivered epoch overwrites the same delta).

        No per-doc state crosses the driver: the batch's tombstone set
        (every touched doc_id — an upsert tombstones the previous
        version) is written as ``tombstones/`` parquet inside the delta
        and later consumed via joins (:meth:`current_docs`,
        :meth:`search`); ``meta.json`` carries only counts. A large CDC
        batch (10^6+ upserts in one epoch) therefore never builds a
        driver list or an ``isin`` literal tree. doc_int assignment
        likewise switches to the batch build's two-phase
        committed-parquet scan above ``LARGE_BATCH_DOCS`` — below it a
        single-window row_number keeps tiny micro-batches at one job.
        """
        with self._write_lock:
            self._apply_batch_locked(batch, epoch_id)

    def _apply_batch_locked(self, batch: DataFrame, epoch_id: int) -> None:
        t0 = time.perf_counter()
        ddir = os.path.join(self.delta_root, f"delta-{epoch_id}")
        tmp = os.path.join(self.delta_root, f".tmp-{epoch_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)

        # last-write-wins inside the batch (arrival order = seq)
        w = Window.partitionBy("doc_id").orderBy(F.desc("seq"))
        last = (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .cache()
        )
        upserts = (
            last.where(~F.coalesce(F.col("delete"), F.lit(False)))
            .select(
                "doc.conv_id", "doc.turn_idx", "doc.role", "doc.text", "doc.tool",
                # the corpus parquet is TIMESTAMP_NTZ; session TZ is UTC so
                # this cast is value-preserving for the stream's ISO strings
                F.col("doc.ts").cast("timestamp_ntz").alias("ts"),
            )
        )
        from pyspark.sql import Observation

        tomb_obs = Observation(f"tombstones_{epoch_id}")
        last.select("doc_id").observe(tomb_obs, F.count(F.lit(1)).alias("n")) \
            .write.mode("overwrite").parquet(os.path.join(tmp, "tombstones"))
        n_tombstones = int(tomb_obs.get["n"])
        if n_tombstones == 0:
            # empty trigger (e.g. socket batch 0): nothing to apply —
            # don't publish an empty delta
            last.unpersist()
            shutil.rmtree(tmp, ignore_errors=True)
            return
        up_obs = Observation(f"upserts_{epoch_id}")
        upserts.observe(up_obs, F.count(F.lit(1)).alias("n")) \
            .write.mode("overwrite").parquet(os.path.join(tmp, "upserts"))
        n_up = int(up_obs.get["n"])

        # --- mini index over the new rows (same layout as the base) ----
        # read back with the schema the plan already knows: no inference job
        up = self.spark.read.schema(upserts.schema).parquet(os.path.join(tmp, "upserts"))
        start = self._next_doc_int()
        analyzed = up.select(
            doc_id_col().alias("doc_id"), "conv_id", "turn_idx", "role", "tool", "ts",
            tokens_no_stop("text").alias("tokens"),
        ).withColumn("dl", F.size("tokens"))
        if n_up > LARGE_BATCH_DOCS:
            # two-phase scalable zipWithIndex (same as the batch build):
            # range-partition by doc_id, stamp (_pid, _rank), commit,
            # then doc_int = start + offset[_pid] + _rank from the
            # committed files' parquet footers — no global window
            p = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            raw_dir = os.path.join(tmp, "docmap_raw")
            (
                analyzed.repartitionByRange(p, "doc_id")
                .sortWithinPartitions("doc_id")
                .withColumn("_pid", F.spark_partition_id())
                .withColumn(
                    "_rank",
                    F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1)),
                )
                .write.mode("overwrite").parquet(raw_dir)
            )
            offsets = partition_offsets(raw_dir, expected_rows=n_up)
            tok = with_doc_int(self.spark.read.parquet(raw_dir), offsets) \
                .withColumn("doc_int", F.col("doc_int") + F.lit(start))
        else:
            tok = analyzed.withColumn(
                "doc_int",
                F.lit(start) + F.row_number().over(Window.orderBy("doc_id")) - F.lit(1),
            )
        dm_obs = Observation(f"docmap_{epoch_id}")
        tok.select("doc_int", "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "dl") \
            .observe(dm_obs, F.count(F.lit(1)).alias("n"),
                     F.coalesce(F.sum("dl"), F.lit(0)).alias("sdl")) \
            .write.mode("overwrite").parquet(os.path.join(tmp, "docmap"))
        n_docs, sum_dl = int(dm_obs.get["n"]), int(dm_obs.get["sdl"])

        base = self.catalog.current()
        nb = base.manifest["n_buckets"]
        encoder = _make_segment_encoder(base.stats["avgdl"])  # skip-bound metadata only
        tf = (
            tok.select("doc_int", "dl", F.explode("tokens").alias("term"))
            .groupBy("doc_int", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("bucket", bucket_col(F.col("term"), nb))
            .withColumn("seg", (F.col("doc_int") / F.lit(SEG_SPAN)).cast("long"))
        )
        tf.groupBy("bucket", "seg").applyInPandas(encoder, SEGMENT_SCHEMA) \
            .write.mode("overwrite").parquet(os.path.join(tmp, "postings"))

        shutil.rmtree(os.path.join(tmp, "docmap_raw"), ignore_errors=True)
        meta = {
            "epoch": int(epoch_id),
            "n_docs": n_docs,
            "sum_dl": sum_dl,
            "doc_int_start": start,
            "doc_int_end": start + n_docs,
            "n_tombstones": n_tombstones,
            "seconds": round(time.perf_counter() - t0, 3),
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        last.unpersist()
        shutil.rmtree(ddir, ignore_errors=True)
        os.replace(tmp, ddir)  # atomic publish of the delta

    # ------------------------------------------------------------------
    # merge-on-read views
    # ------------------------------------------------------------------

    def _tombstone_frame(self, deltas: list[int]) -> DataFrame | None:
        """(doc_id, _tomb_v) — the LATEST delta that tombstoned each
        doc_id, read from the per-delta ``tombstones/`` parquet (never
        the driver). Delta version ids strictly increase with doc_int
        ranges, so "dead" checks reduce to comparing a row's version
        (or doc_int) against its doc's max tombstoning delta."""
        parts = []
        for did in deltas:
            t = self.spark.read.parquet(self._delta_dir(did, "tombstones")) \
                .withColumn("_td", F.lit(did))
            parts.append(t)
        if not parts:
            return None
        allt = parts[0]
        for p in parts[1:]:
            allt = allt.unionByName(p)
        return allt.groupBy("doc_id").agg(F.max("_td").alias("_tomb_v"))

    def current_docs(self) -> DataFrame:
        """Live corpus view: base ∖ tombstones ∪ latest upsert per doc
        (merge-on-read; prod = Iceberg MERGE with positional deletes).
        Tombstones are applied with a left join against the delta
        tombstone parquet — scale-safe for arbitrarily large CDC
        batches (no driver lists, no ``isin`` literal trees)."""
        deltas = self.delta_ids()
        base = self.spark.read.parquet(self.docs_base).withColumn("_v", F.lit(-1))
        parts = [base]
        for did in deltas:
            up = self.spark.read.parquet(self._delta_dir(did, "upserts")) \
                .withColumn("_v", F.lit(did))
            parts.append(up)
        allv = parts[0]
        for p in parts[1:]:
            allv = allv.unionByName(p)
        tomb = self._tombstone_frame(deltas)
        if tomb is None:
            return allv.drop("_v")
        keep = allv.withColumn("doc_id", doc_id_col())
        # a row of version v is dead iff some delta > v tombstones its
        # doc_id ⇔ v < max tombstoning delta (AQE broadcasts when small)
        return (
            keep.join(tomb, "doc_id", "left")
            .where(F.col("_tomb_v").isNull() | (F.col("_v") >= F.col("_tomb_v")))
            .drop("_v", "_tomb_v", "doc_id")
        )

    # ------------------------------------------------------------------
    # live search (base + deltas, Lucene-style live stats)
    # ------------------------------------------------------------------

    def _base_handle(self) -> IndexHandle:
        """Handle (pinned frames + pyarrow reader) of the CURRENT base,
        kept per snapshot id: snapshots are write-once, so it is rebuilt
        only when a compaction (or rollback) moves the pointer."""
        base = self.catalog.current()
        ix = self._base_ix
        if ix is None or ix.snapshot.snap_id != base.snap_id:
            ix = self._base_ix = IndexHandle(self.spark, base)
        return ix

    def search(self, terms: list[str], k: int = S.TOP_K) -> DataFrame:
        """Top-k (doc_id, score) over base + unmerged deltas.

        Live statistics (Lucene ``maxDoc`` semantics — see module
        docstring): N and sum_dl are the base stats plus every delta's
        ``meta.json``; df is the base term-dictionary df plus Σ ``n`` of
        the deltas' postings rows. Both still count superseded and
        deleted versions; avgdl = sum_dl / N.

        Dead-version rule: a version is excluded from the *results* iff
        a later delta tombstoned its doc_id — every base doc whose
        doc_id is in any delta's ``tombstones/``, and every doc minted
        by delta e whose doc_id a delta after e tombstoned.

        Job budget: when the live Σ df is at most
        ``engine.SERVING_DRIVER_MAX`` the query launches no Spark job.
        The base is read through the pinned pyarrow reader of the
        current snapshot (term dictionary and postings), each delta's
        flat ``postings/`` is read per call filtered on ``term`` (deltas
        are small, and a re-delivered epoch may rewrite one, so nothing
        of them is cached), the dead versions come from ``doc_id IN``
        point-reads of the base and delta docmaps, and
        :func:`..index.engine.light_topk` scores them all with the live
        avgdl. The top-k is hydrated with ``doc_int IN`` point-reads and
        returned as a local relation, so ``.collect()`` runs no job
        either. A heavier query runs the distributed plan (Spark
        postings scan, ``mapInPandas`` scorer, tombstone join). Both
        rank by (score desc, doc_id asc). Block-max pruning is off on
        the live path (delta skip bounds were built with the stale base
        avgdl); ``compact()`` restores the pruned, exact base path.
        """
        terms = list(dict.fromkeys(terms))
        ix = self._base_handle()
        reader = ix.reader()
        deltas = [(did, self._delta_meta(did)) for did in self.delta_ids()]

        # merged live stats
        n_docs = ix.stats["n_docs"] + sum(m["n_docs"] for _, m in deltas)
        sum_dl = ix.stats["sum_dl"] + sum(m["sum_dl"] for _, m in deltas)
        avgdl = float(sum_dl) / float(max(n_docs, 1))
        base_meta = reader.term_meta(terms)
        delta_rows = [
            point_read(self._delta_dir(did, "postings"), "term", terms, ("term", "n", "postings"))
            for did, _ in deltas
        ]
        dfs = {t: df for t, (df, _) in base_meta.items()}
        for rows in delta_rows:
            for t, n in zip(rows["term"].to_pylist(), rows["n"].to_pylist()):
                dfs[t] = dfs.get(t, 0) + n
        live_terms = [t for t in terms if t in dfs]
        if not live_terms:
            return _result_df(self.spark, [])
        idfs = {t: S.idf(n_docs, dfs[t]) for t in live_terms}
        if sum(dfs.values()) > E.SERVING_DRIVER_MAX:
            return self._search_distributed(ix, deltas, idfs, avgdl, k)

        rows = _LiveRows(reader, [r.select(["term", "postings"]) for r in delta_rows], avgdl)
        buckets = E.buckets_of(base_meta, list(base_meta))
        docs, raw = E.light_topk(
            rows, {"": idfs}, buckets, None, dead=self._dead_doc_ints(reader, deltas)
        )[""]
        if len(docs) > k > 0:
            # doc_int order is doc_id order only within one base or
            # delta: keep every doc tied with the k-th score so the
            # doc_id tie-break below sees all of them
            n = int(np.searchsorted(-raw, -raw[k - 1], side="right"))
            docs, raw = docs[:n], raw[:n]
        names = doc_names_of(reader.docmap("doc_int", docs[docs < ix.stats["n_docs"]]))
        for did, m in deltas:
            mine = docs[(docs >= m["doc_int_start"]) & (docs < m["doc_int_end"])]
            if len(mine):
                names.update(doc_names_of(point_read(
                    self._delta_dir(did, "docmap"), "doc_int", mine, ("doc_int", "doc_id")
                )))
        return _result_df(self.spark, _ranked(names, list(zip(docs.tolist(), raw.tolist())))[:k])

    def _dead_doc_ints(self, reader: SnapshotReader, deltas: list[tuple[int, dict]]):
        """doc_ints of the dead versions (see :meth:`search`), from
        ``doc_id IN`` point-reads of the base and delta docmaps; None
        without deltas."""
        if not deltas:
            return None
        tombs = [
            pq.read_table(self._delta_dir(did, "tombstones"), columns=["doc_id"])["doc_id"]
            for did, _ in deltas
        ]

        def ids(cols):
            return pa.chunked_array([c for col in cols for c in col.chunks], pa.string())

        dead = [reader.docmap("doc_id", ids(tombs))["doc_int"]]
        for i, (did, _) in enumerate(deltas[:-1]):
            dead.append(point_read(
                self._delta_dir(did, "docmap"), "doc_id", ids(tombs[i + 1:]), ("doc_int",)
            )["doc_int"])
        return np.concatenate([c.to_numpy() for c in dead])

    def _search_distributed(
        self, ix: IndexHandle, deltas: list[tuple[int, dict]], idfs: dict, avgdl: float, k: int
    ) -> DataFrame:
        """The Spark plan of a query above the light budget: one scan of
        base + delta postings, the ``mapInPandas`` scorer, and the dead
        versions dropped by a left join against the delta tombstones."""
        spark = self.spark
        posting_parts = [ix.postings()]
        docmap_parts = [ix.docmap().select("doc_int", "doc_id")]
        for did, _ in deltas:
            posting_parts.append(spark.read.parquet(self._delta_dir(did, "postings")))
            docmap_parts.append(
                spark.read.parquet(self._delta_dir(did, "docmap")).select("doc_int", "doc_id")
            )
        postings = posting_parts[0]
        for p in posting_parts[1:]:
            postings = postings.unionByName(p)
        docmap = docmap_parts[0]
        for p in docmap_parts[1:]:
            docmap = docmap.unionByName(p)

        scored = (
            postings.where(F.col("term").isin(list(idfs)))
            .select("term", "postings", "block_max_tfnorm")
            .mapInPandas(_make_scorer(idfs, avgdl, 0.0), "doc_int LONG, contrib DOUBLE")
            .groupBy("doc_int")
            .agg(F.sum("contrib").alias("score_raw"))
        )
        # exclude dead versions: doc_int belongs to base (v=-1) or the
        # delta that minted it; dead iff a later delta tombstoned the
        # id ⇔ doc_int < doc_int_start of the max tombstoning delta
        # (delta doc_int ranges are disjoint and ascending). The
        # tombstone set stays distributed: a left join against the
        # delta tombstone parquet, with the tiny delta→start map as a
        # literal MAP expression (O(#deltas), not O(#docs)).
        hydrated = scored.join(docmap, "doc_int")
        tomb = self._tombstone_frame([did for did, _ in deltas])
        if tomb is not None:
            start_map = F.create_map(
                *[x for did, m in deltas for x in (F.lit(did), F.lit(m["doc_int_start"]))]
            )
            hydrated = (
                hydrated.join(tomb, "doc_id", "left")
                .where(
                    F.col("_tomb_v").isNull()
                    | (F.col("doc_int") >= start_map[F.col("_tomb_v")])
                )
                .drop("_tomb_v")
            )
        return (
            hydrated.orderBy(F.desc("score_raw"), F.asc("doc_id"))
            .limit(k)
            .select("doc_id", F.round("score_raw", S.SCORE_DECIMALS).alias("score"))
        )

    # ------------------------------------------------------------------
    # compaction (scorch-style segment merge)
    # ------------------------------------------------------------------

    def compact(self) -> None:
        """Fold deltas into a new base: materialize ``current_docs()``,
        rebuild the index snapshot (atomic publish), drop the delta log.
        After this, ``search()`` is rank-identical to the direct path.

        Safe to call while a continuous (``drain=False``) query is
        attached: the write lock serializes the whole fold against
        :meth:`apply_batch`, so a concurrent micro-batch lands entirely
        before the fold (and is compacted into the new base) or
        entirely after it (and becomes the first delta on the new
        base, numbered from the new high watermark)."""
        with self._write_lock:
            deltas = self.delta_ids()
            if not deltas:
                return
            tmp_docs = self.docs_base + ".compact"
            self.current_docs().write.mode("overwrite").parquet(tmp_docs)
            # swap corpus, then rebuild + publish index from the new base
            old = self.docs_base + ".old"
            shutil.rmtree(old, ignore_errors=True)
            os.replace(self.docs_base, old)
            os.replace(tmp_docs, self.docs_base)
            shutil.rmtree(old, ignore_errors=True)
            build_index(self.spark, self.spark.read.parquet(self.docs_base), self.catalog)
            for did in deltas:
                shutil.rmtree(
                    os.path.join(self.delta_root, f"delta-{did}"), ignore_errors=True
                )
