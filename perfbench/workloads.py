"""The benchmark's workloads: ``serve`` and ``ingest``.

Both are closed loops driven by one client thread: the next operation
starts only after the previous one's rows are on the driver, as API
callers wait for each reply. Each workload

- sets up once over a small warm-up corpus (``WARM_TURNS``), not
  measured: the first build in a fresh JVM pays for class loading, code
  generation and Python-worker start-up, about 20 s on a 4-CPU host
  whatever the corpus size;
- builds everything the program serves from, in its own directory, in
  every run (``setup_once``, repeated ``SETUP_REPS`` times, the last
  set-up kept);
- warms up, not measured (``serve``: one query of each class;
  ``ingest``: one step), so Python workers, caches, the SQL function and
  the streaming path are live;
- runs operations for the measured window and records one sample per
  operation (class, latency, rows, error);
- checks a seeded sample of the answers against DuckDB afterwards.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import gen
from oracle import DuckOracle, within_one_edit, analyze

SETUP_REPS = 2
WARM_TURNS = 1_000


def _collect(tracer, df):
    with tracer.span("spark.collect"):
        return df.collect()


def _build_ledger(snap) -> dict:
    led = snap.manifest.get("ledger", {})
    out = {k: led[k]["seconds"] for k in ("docmap_raw", "docmap", "terms") if k in led}
    out["postings"] = sum(v["seconds"] for k, v in led.items() if k.startswith("postings-"))
    out["skew_ratio"] = led.get("terms", {}).get("skew_ratio")
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def _snapshot_bytes(snap) -> int:
    return sum(_dir_bytes(d) for d in (snap.postings_dir, snap.docmap_dir, snap.terms_dir))


def _ready(wl, catalog, t0: float, w0: float) -> dict:
    """After a set-up's build: open the handle on the catalog's current
    snapshot and warm its driver caches (``wl.ix``); return the timings."""
    from searchengine_spark.index.engine import open_index

    t1, w1 = time.perf_counter(), time.time()
    wl.ix = open_index(wl.ctx.spark, catalog)
    t2 = time.perf_counter()
    wl.ix.term_dict()
    wl.ix.doc_names()
    return {"build_s": t1 - t0, "build_wall": (w0, w1), "open_ms": (t2 - t1) * 1e3,
            "warm_s": time.perf_counter() - t2}


def _describe(wl, corpus_path: str) -> dict:
    """What a set-up built: its ledger, size and document count."""
    snap = wl.ix.snapshot
    return {"ledger": _build_ledger(snap), "index_bytes": _snapshot_bytes(snap),
            "n_docs": snap.stats["n_docs"], "input_bytes": os.path.getsize(corpus_path)}


def _corpora(wl) -> None:
    """Write the workload's corpus and the warm-up corpus (``wl.cp``,
    ``wl.corpus_path``, ``wl.warm_path``)."""
    work, seed = wl.ctx.work, wl.ctx.seed
    wl.cp = gen.Corpus(seed, wl.n_turns)
    wl.corpus_path = wl.cp.write(os.path.join(work, "corpus", "transcripts.parquet"))
    wl.warm_path = gen.Corpus(seed, WARM_TURNS).write(
        os.path.join(work, "corpus-warm", "transcripts.parquet"))


def _replace_root(wl, root: str) -> None:
    """Keep the set-up just made under ``root``; remove the one before."""
    if wl.root is not None:
        shutil.rmtree(wl.root, ignore_errors=True)
    wl.root = root


def timed_op(tracer, req: str, cls: str, fn) -> dict:
    """Run one operation; the sample holds its class, latency (from the
    call until its rows are on the driver), wall-clock interval, rows and
    error."""
    s = {"req": req, "cls": cls, "rows": None, "error": None, "wall0": time.time()}
    t0 = time.perf_counter()
    try:
        with tracer.request(req, f"op.{cls}"):
            s["rows"] = fn()
    except Exception as e:  # a failed operation is counted, the loop goes on
        s["error"] = f"{type(e).__name__}: {e}"[:300]
    s["lat"] = time.perf_counter() - t0
    s["wall1"] = time.time()
    return s


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------

class Serve:
    """Warm ``IndexHandle`` over one corpus; a fixed mix of light API,
    SQL and heavy queries (``gen.SERVE_CYCLE``)."""

    n_turns = 40_000
    primary = "light"
    slow = "heavy"
    required = ("light", "heavy")

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = None
        _corpora(self)
        self.pool = gen.filter_pool(ctx.seed, self.cp)
        cap = self.n_turns  # the driver-scoring budget set for this corpus
        self.ops = gen.serve_ops(ctx.seed, self.cp, 400, cap // 4, int(1.25 * cap), self.pool)

    def setup_once(self, name: str, corpus_path: str) -> dict:
        from searchengine_spark.index.build import build_index
        from searchengine_spark.index.catalog import IndexCatalog
        from searchengine_spark.sql import register_search_sql

        spark = self.ctx.spark
        root = os.path.join(self.ctx.work, f"index-{name}")
        t0, w0 = time.perf_counter(), time.time()
        build_index(spark, spark.read.parquet(corpus_path), IndexCatalog(root))
        rec = _ready(self, IndexCatalog(root), t0, w0)
        register_search_sql(spark, root)
        rec["setup_s"] = time.perf_counter() - t0
        _replace_root(self, root)
        return {**rec, **_describe(self, corpus_path)}

    def _call(self, op: dict):
        from searchengine_spark.api import advanced_search, simple_search

        ix, tr, cls, q = self.ix, self.ctx.tracer, op["cls"], op["q"]
        if cls == "sql":
            qs = q.replace("'", "''")
            return _collect(tr, self.ctx.spark.sql(f"SELECT * FROM search('{qs}', 10, '{op['mode']}')"))
        if cls == "simple":
            return _collect(tr, simple_search(ix, q, op.get("filters")))
        kw: dict = {}
        if cls == "filtered":
            kw["filter_request"] = self.pool[op["filter"]]["req"]
        elif cls == "sort":
            kw["sort_field"] = "ts"
        elif cls == "page2":
            kw["from_"] = 10
        elif cls == "heavy":
            kw["fuzzy"] = False
        return _collect(tr, advanced_search(ix, q, **kw))

    def warmup(self) -> None:
        """One operation of each class from the first cycle, so that
        Python workers, the filter cache and the SQL function are live."""
        first = {}
        for op in self.ops[: len(gen.serve_cycle())]:
            first.setdefault(op["cls"], op)
        for op in first.values():
            self._call(op)

    def operations(self):
        """Yields (class, request id, thunk, op) after the warm-up cycle,
        in stream order."""
        for op in self.ops[len(gen.serve_cycle()):]:
            yield op["cls"], f"r{op['i']}", (lambda op=op: self._call(op)), op

    def traced_ops(self, ops):
        """A traced run runs each query twice, once traced and once not,
        in alternating order, so the two can be compared query by query."""
        for n, (cls, req, fn, op) in enumerate(ops):
            for traced in ((False, True) if n % 2 == 0 else (True, False)):
                yield cls, req + ("t" if traced else "u"), fn, op, traced

    def klass(self, cls: str) -> str:
        return "heavy" if cls == "heavy" else "light"

    def traced_extra(self, op: dict) -> None:
        """Traced runs note each query's posting volume (Σ df over its
        terms after fuzzy expansion, from the generator's own counts) and
        call the snapshot reader directly with each SQL query, outside
        the operation's latency."""
        if "postings" not in op:
            terms = analyze(op["q"])
            if op["cls"] in ("adv", "filtered", "sort", "page2"):
                terms = [w for w in self.cp.df if any(within_one_edit(t, w) for t in terms)]
            op["postings"] = sum(self.cp.df.get(t, 0) for t in terms)
        if op["cls"] != "sql":
            return
        from searchengine_spark.sql import search_snapshot_rows

        with self.ctx.tracer.request(f"x{op['i']}", "sql.search_snapshot_rows"):
            search_snapshot_rows(self.root, op["q"], 10, op["mode"])

    def expected(self, orc: DuckOracle, op: dict):
        cls, terms = op["cls"], analyze(op["q"])
        if cls in ("adv", "filtered", "sort", "page2"):
            terms = orc.fuzzy(terms)
        where = ""
        if cls == "filtered":
            where = "WHERE " + self.pool[op["filter"]]["sql"]
        elif cls == "simple" and op.get("filters"):
            where = "WHERE " + " AND ".join(f"{k} = '{v}'" for k, v in sorted(op["filters"].items()))
        if cls == "sort":
            return orc.by_ts(terms)
        return orc.bm25(terms, where=where, mode=op.get("mode", "or"),
                        offset=10 if cls == "page2" else 0)

    def check(self, samples: list[dict], n_sample: int = 16) -> tuple[int, int]:
        """(checked, wrong) over every heavy sample plus a seeded sample of
        the rest."""
        done = [s for s in samples if s["error"] is None]
        rng = np.random.default_rng([self.ctx.seed, 7])
        heavy = [s for s in done if s["cls"] == "heavy"]
        rest = [s for s in done if s["cls"] != "heavy"]
        pick = heavy + [rest[i] for i in sorted(rng.choice(len(rest), size=min(n_sample, len(rest)), replace=False))]
        orc = DuckOracle(self.corpus_path)
        wrong = 0
        for s in pick:
            op = s["op"]
            want = self.expected(orc, op)
            if op["cls"] == "sort":
                got = [(r["doc_id"], r["ts"]) for r in s["rows"]]
            elif op["cls"] == "sql":
                got = [(r["doc_id"], r["score"]) for r in s["rows"]]
                if [r["rank"] for r in s["rows"]] != list(range(1, len(got) + 1)):
                    got = None
            else:
                got = [(r["doc_id"], r["score"]) for r in s["rows"]]
            if got != want:
                wrong += 1
                s["wrong"] = True
                self.ctx.log(f"MISMATCH {op} got={got} want={want}")
        orc.close()
        return len(pick), wrong


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------

class Ingest:
    """``StreamingIndex`` over a small base: each step lands one
    micro-batch file of upserts and deletes, ingests it and searches
    for the step's planted doc and the previous step's (now deleted)
    one. After every step the deltas are compacted into a new base, the
    serving handle is reopened, and an offline evaluation batch
    (``search_many``) re-scores a query set against it. A step, a
    compaction and a batch take 3–10, 3–10 and 1–2.5 s on a 4-CPU host,
    so a window holds one to three cycles."""

    n_turns = 10_000
    primary = "step"
    slow = "compact"
    required = ("step", "compact", "batch")
    BATCH_QUERIES = 48
    UPSERTS, DELETES = 40, 5

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = None
        _corpora(self)
        ids = self.cp.table.select(["conv_id", "turn_idx"]).to_pylist()
        rng = np.random.default_rng([ctx.seed, 11])
        self.live = [f"{r['conv_id']}:{r['turn_idx']:04d}" for r in (ids[i] for i in rng.choice(len(ids), 1000, replace=False))]
        self.batch = gen.offline_batch(ctx.seed, self.cp, self.BATCH_QUERIES)
        self.src = os.path.join(ctx.work, "incoming")
        os.makedirs(self.src, exist_ok=True)
        self.step = 0
        self.last_batch_rows = None

    def setup_once(self, name: str, corpus_path: str) -> dict:
        from searchengine_spark.streaming.ingest import StreamingIndex

        spark = self.ctx.spark
        root = os.path.join(self.ctx.work, f"stream-{name}")
        t0, w0 = time.perf_counter(), time.time()
        self.sidx = StreamingIndex(spark, root)
        self.sidx.bootstrap(spark.read.parquet(corpus_path))
        rec = _ready(self, self.sidx.catalog, t0, w0)
        rec["setup_s"] = time.perf_counter() - t0
        _replace_root(self, root)
        return {**rec, **_describe(self, corpus_path)}

    def _step(self, b: dict, name: str) -> dict:
        tr = self.ctx.tracer
        gen.write_messages(os.path.join(self.src, name), b["msgs"])
        with tr.span("streaming.ingest_files"):
            self.sidx.ingest_files(self.src)
        with tr.span("streaming.search"):
            rows = self.sidx.search(b["terms"]).collect()
        ids = [r["doc_id"] for r in rows]
        return {"rows": ids, "visible": b["planted"] in ids and b["victim"] not in ids}

    def _compact(self) -> None:
        from searchengine_spark.index.engine import open_index

        with self.ctx.tracer.span("streaming.compact"):
            self.sidx.compact()
        self.ix = open_index(self.ctx.spark, self.sidx.catalog)
        self.ix.term_dict()
        self.ix.doc_names()

    def _batch(self) -> list:
        from searchengine_spark.index.engine import search_many

        rows = _collect(self.ctx.tracer, search_many(self.ix, self.batch))
        self.last_batch_rows = rows
        return rows

    def _next_step(self):
        step = self.step
        self.step += 1
        b = gen.ingest_batch(self.ctx.seed, step, self.cp, self.UPSERTS, self.DELETES, self.live)
        return "step", f"s{step}", (lambda: self._step(b, f"b{step:05d}.json")), {"step": step}

    def operations(self):
        while True:
            yield self._next_step()
            yield "compact", f"c{self.step}", self._compact, {}
            yield "batch", f"q{self.step}", self._batch, {}

    def klass(self, cls: str) -> str:
        return cls

    def warmup(self) -> None:
        """One step, not measured: the first streaming step in a JVM is
        up to 40 % slower than the next, and a window holds one to three
        steps depending on host speed, so a cold one would move the
        median with the count."""
        self._next_step()[2]()

    def traced_ops(self, ops):
        """State moves on, so operations cannot be repeated: a traced run
        traces every other step, and every compaction and batch."""
        n_steps = 0
        for cls, req, fn, op in ops:
            traced = cls != "step" or n_steps % 2 == 1
            n_steps += cls == "step"
            yield cls, req, fn, op, traced

    def traced_extra(self, op: dict) -> None:
        return None

    def check(self, samples: list[dict], n_sample: int = 12) -> tuple[int, int]:
        """Every step's visibility result, plus a seeded sample of the
        last evaluation batch against DuckDB over the compacted corpus."""
        wrong = checked = 0
        for s in samples:
            if s["cls"] == "step" and s["error"] is None:
                checked += 1
                if not s["rows"]["visible"]:
                    wrong += 1
                    s["wrong"] = True
                    self.ctx.log(f"NOT VISIBLE step {s['op']} got={s['rows']['rows']}")
        if self.last_batch_rows is None:
            return checked, wrong
        got: dict[str, list] = {}
        for r in self.last_batch_rows:
            got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
        rng = np.random.default_rng([self.ctx.seed, 13])
        qids = sorted(self.batch)
        orc = DuckOracle(self.sidx.docs_base + "/*.parquet")
        for i in sorted(rng.choice(len(qids), size=min(n_sample, len(qids)), replace=False)):
            q = qids[i]
            checked += 1
            want = orc.bm25(self.batch[q])
            if got.get(q, []) != want:
                wrong += 1
                self.ctx.log(f"MISMATCH batch {q} {self.batch[q]} got={got.get(q)} want={want}")
        orc.close()
        return checked, wrong


WORKLOADS = {"serve": Serve, "ingest": Ingest}


def traced_targets() -> list[tuple[object, str, str]]:
    """The public functions a traced run wraps in spans: (owner,
    attribute, span name). Names are looked up where the callers look
    them up (``api`` binds its engine and filter functions at import)."""
    from searchengine_spark import api
    from searchengine_spark.index import catalog, engine
    from searchengine_spark.streaming import ingest

    return [
        (api, "advanced_search", "api.advanced_search"),
        (api, "simple_search", "api.simple_search"),
        (api, "expand_query", "engine.expand_query"),
        (api, "compile_filters", "filters.compile_filters"),
        (api, "search_index", "engine.search_index"),
        (engine, "term_meta", "engine.term_meta"),
        (engine, "search_many", "engine.search_many"),
        (engine, "open_index", "engine.open_index"),
        (engine.IndexHandle, "filter_doc_ints", "engine.IndexHandle.filter_doc_ints"),
        (catalog.IndexCatalog, "publish", "catalog.publish"),
        (ingest, "build_index", "build.build_index"),
    ]
