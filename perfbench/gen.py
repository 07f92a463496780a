"""Seeded workload inputs for the benchmark.

Everything the program receives is made here from one ``seed``: the
transcripts corpus (the ``corpus.SCHEMA`` shape and vocabulary, but
drawn from this module's own RNG so that every seed gives a different
corpus), the ``serve`` query stream and filter pool, the ``offline``
query batch and the ``ingest`` message files. The same seed always
gives the same inputs.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from oracle import within_one_edit
from searchengine_spark import corpus as C
from searchengine_spark import semantics as S

_STOP = set(S.STOPWORDS)
# query terms are drawn from this many of the most frequent
# non-stopword terms; beyond it the Zipf draw is mostly terms that few
# documents hold, which is what real query logs look like too
_QUERY_VOCAB = 400


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input stream, so that changing how
    many queries one stream draws never shifts another stream."""
    return np.random.default_rng([seed, sum(ord(c) * 131**i for i, c in enumerate(stream)) % 2**31])


# --------------------------------------------------------------------------
# corpus
# --------------------------------------------------------------------------

class Corpus:
    """A generated corpus plus the per-term document frequencies the
    query generators need (computed from the generated tokens, not by
    the program under test)."""

    def __init__(self, seed: int, n_turns: int):
        rng = _rng(seed, "corpus")
        vocab = np.array(C.VOCAB)
        nv = len(vocab)

        lens = []
        total = 0
        while total < n_turns:
            ln = int(min(40, max(1, rng.zipf(1.6))))
            lens.append(ln)
            total += ln
        lens[-1] -= total - n_turns
        if lens[-1] == 0:
            lens.pop()
        lens = np.array(lens)
        conv_num = np.repeat(np.arange(len(lens)), lens)
        turn_idx = (np.arange(n_turns) - np.repeat(np.cumsum(lens) - lens, lens)).astype(np.int32)
        conv_id = pc.binary_join_element_wise(
            f"s{seed % 1000:03d}c", pc.utf8_lpad(pa.array(conv_num).cast(pa.string()), 7, "0"), ""
        )

        draw = rng.random(n_turns)
        role = np.where(turn_idx % 2 == 0, "user", "assistant")
        role = np.where((turn_idx == 0) & (draw < 0.2), "system", role)
        role = np.where((role == "assistant") & (draw < 0.12), "tool", role)
        tool = np.where(
            (role == "tool") | ((role == "assistant") & (rng.random(n_turns) < 0.25)),
            rng.choice(C.TOOLS[1:], size=n_turns),
            "",
        )
        n_tok = np.clip(np.round(np.exp(rng.normal(2.6, 0.6, size=n_turns))), 4, 60).astype(np.int64)
        offsets = np.concatenate([[0], np.cumsum(n_tok)])
        n_all = int(offsets[-1])
        ranks = np.empty(0, dtype=np.int64)
        while len(ranks) < n_all:
            r = rng.zipf(1.15, size=n_all)
            ranks = np.concatenate([ranks, r[r <= nv]])
        ranks = ranks[:n_all] - 1
        words = pa.ListArray.from_arrays(pa.array(offsets), pa.array(C.VOCAB).take(pa.array(ranks)))
        texts = pc.binary_join(words, " ")
        ts_us = C.BASE_EPOCH_US + conv_num * 97_000_000 + turn_idx.astype(np.int64) * 13_000_000

        self.table = pa.Table.from_arrays(
            [
                conv_id,
                pa.array(turn_idx, type=pa.int32()),
                pa.array(role, type=pa.string()),
                texts,
                pa.array(tool, type=pa.string()),
                pa.array(ts_us, type=pa.timestamp("us")),
            ],
            schema=C.SCHEMA,
        )
        doc_of_token = np.repeat(np.arange(n_turns), n_tok)
        pairs = np.unique(doc_of_token * nv + ranks)
        df = np.bincount(pairs % nv, minlength=nv)
        self.df = {
            w: int(d) for w, d in zip(C.VOCAB, df) if d > 0 and w not in _STOP
        }
        self._fuzzy: dict[str, int] = {}
        self.ts_lo_us = int(ts_us.min())
        self.ts_hi_us = int(ts_us.max())
        # query vocabulary: non-stopword terms by falling df
        self.by_df = sorted(self.df, key=lambda w: (-self.df[w], w))

    def write(self, path: str) -> str:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        pq.write_table(self.table, tmp, row_group_size=64 * 1024)
        os.replace(tmp, path)
        return path

    def fuzzy_df(self, term: str) -> int:
        """Σ df of a term's edit-distance-1 expansion (what a fuzzy
        query posts against) — used only to keep light queries light."""
        if term not in self._fuzzy:
            self._fuzzy[term] = sum(d for w, d in self.df.items() if within_one_edit(term, w))
        return self._fuzzy[term]


def _zipf_pick(rng: np.random.Generator, n: int, a: float = 1.1) -> int:
    while True:
        r = int(rng.zipf(a))
        if r <= n:
            return r - 1


def _query(rng, cp: Corpus, n_terms: int, cap: int, fuzzy: bool) -> str:
    """1..n Zipf-drawn distinct terms whose posting volume stays under
    ``cap`` (so the query is light by construction)."""
    while True:
        k = int(rng.integers(1, n_terms + 1))
        picked = list(dict.fromkeys(cp.by_df[_zipf_pick(rng, min(_QUERY_VOCAB, len(cp.by_df)))] for _ in range(k)))
        vol = sum(cp.fuzzy_df(t) if fuzzy else cp.df[t] for t in picked)
        if vol <= cap:
            return " ".join(picked)


# --------------------------------------------------------------------------
# serve: query stream + filter pool
# --------------------------------------------------------------------------

def _rfc3339(us: int) -> str:
    dt = datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(microseconds=us)
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def filter_pool(seed: int, cp: Corpus, n: int = 16) -> list[dict]:
    """``n`` distinct filter requests of every kind the API compiles
    (category, one-select, multi-select, timestamp range and their
    conjunctions). Each entry carries the FilterRequest dict and the
    equivalent DuckDB predicate over (role, tool, ts)."""
    rng = _rng(seed, "filters")
    roles = ["user", "assistant", "system", "tool"]
    tools = ["bash", "search", "browser"]
    span = cp.ts_hi_us - cp.ts_lo_us
    out: list[dict] = []
    seen: set[str] = set()
    while len(out) < n:
        kind = int(rng.integers(0, 5))
        if kind == 0:
            r = roles[int(rng.integers(0, 4))]
            req, sql = {"category": r}, f"role = '{r}'"
        elif kind == 1:
            t = tools[int(rng.integers(0, 3))]
            req, sql = {"one-select": [{"name": "tool", "value": t}]}, f"tool = '{t}'"
        elif kind == 2:
            rs = sorted(set(rng.choice(roles, size=2, replace=False).tolist()))
            req = {"multi-select": [{"name": "role", "value": rs}]}
            sql = "role IN (" + ", ".join(f"'{r}'" for r in rs) + ")"
        else:
            lo = cp.ts_lo_us + int(rng.random() * span * 0.7)
            lo -= lo % 1_000_000
            hi = lo + int(span * (0.1 + 0.2 * rng.random()))
            hi -= hi % 1_000_000
            req = {"range": [{"name": "ts", "type": "timestamp",
                              "from_value": _rfc3339(lo), "to_value": _rfc3339(hi)}]}
            sql = (f"ts BETWEEN make_timestamp({lo}) AND make_timestamp({hi})")
            if kind == 4:
                r = roles[int(rng.integers(0, 2))]
                req["category"] = r
                sql = f"({sql}) AND role = '{r}'"
        key = json.dumps(req, sort_keys=True)
        if key not in seen:
            seen.add(key)
            out.append({"req": req, "sql": sql})
    return out


# serve mix per cycle of 20 operations. Every cycle holds the classes in
# exactly these proportions (shuffled per seed), so a run of a given
# length sees the same mix whatever the seed. Heavy is the 20+-head-term
# class that crosses the engine's driver-scoring budget.
SERVE_CYCLE = (
    ("adv", 10), ("filtered", 3), ("sort", 1), ("page2", 1),
    ("simple", 2), ("sql", 2), ("heavy", 1),
)


def serve_cycle() -> list[str]:
    return [c for c, n in SERVE_CYCLE for _ in range(n)]


def serve_ops(seed: int, cp: Corpus, n_ops: int, light_cap: int, heavy_min: int,
              pool: list[dict]) -> list[dict]:
    """The ``serve`` closed-loop operation stream. Light queries keep
    their posting volume (fuzzy expansion included) at most
    ``light_cap``; heavy queries take 20+ head terms until Σ df reaches
    ``heavy_min``."""
    rng = _rng(seed, "serve")
    cycle = serve_cycle()
    head = cp.by_df[:60]
    ops = []
    while len(ops) < n_ops:
        for cls in rng.permutation(cycle).tolist():
            op: dict = {"i": len(ops), "cls": cls}
            if cls == "heavy":
                picked = rng.permutation(head[:26]).tolist()[:20]
                for t in head:
                    if sum(cp.df[x] for x in picked) >= heavy_min:
                        break
                    if t not in picked:
                        picked.append(t)
                op["q"] = " ".join(picked)
            elif cls == "sql":
                op["q"] = _query(rng, cp, 3, light_cap, fuzzy=False)
                op["mode"] = "and" if rng.random() < 0.5 else "or"
            elif cls == "simple":
                op["q"] = _query(rng, cp, 3, light_cap, fuzzy=False)
                if rng.random() < 0.5:
                    op["filters"] = {"role": ["user", "assistant"][int(rng.integers(0, 2))]}
            else:
                op["q"] = _query(rng, cp, 3, light_cap, fuzzy=True)
                if cls == "filtered":
                    op["filter"] = _zipf_pick(rng, len(pool), 1.3)
            ops.append(op)
    return ops[:n_ops]


# --------------------------------------------------------------------------
# offline: one query batch
# --------------------------------------------------------------------------

def offline_batch(seed: int, cp: Corpus, n_queries: int) -> dict[str, list[str]]:
    """qid → analyzed terms: 1-4 Zipf-drawn terms per query."""
    rng = _rng(seed, "offline")
    out = {}
    for i in range(n_queries):
        k = int(rng.integers(1, 5))
        ts = [cp.by_df[_zipf_pick(rng, min(_QUERY_VOCAB, len(cp.by_df)), 1.05)] for _ in range(k)]
        out[f"q{i:04d}"] = list(dict.fromkeys(ts))
    return out


# --------------------------------------------------------------------------
# ingest: micro-batch message files
# --------------------------------------------------------------------------

def planted_token(seed: int, step: int) -> str:
    """A letters-only token that no corpus or earlier batch contains —
    the tokenizer keeps it as one term, so searching it finds exactly
    the planted doc."""
    letters = "bcdfghjklmnpqrstvwxz"
    n = seed * 100_003 + step
    s = ""
    for _ in range(7):
        s += letters[n % 20]
        n //= 20
    return "zq" + s


def ingest_batch(seed: int, step: int, cp: Corpus, n_upserts: int, n_deletes: int,
                 live_ids: list[str]) -> dict:
    """Messages for one micro-batch: ``n_upserts`` new or rewritten
    turns, the first planted with a token unique to this step, and
    deletes of ``n_deletes`` live corpus docs plus the doc planted by
    the previous step (the victim). A search for both steps' tokens
    must then return the new planted doc and not the victim. Deleted
    ids are removed from ``live_ids``."""
    rng = _rng(seed, f"ingest-{step}")
    vocab = cp.by_df[:_QUERY_VOCAB]
    msgs = []
    seq = step * 1_000_000
    ts0 = datetime(2026, 1, 1) + timedelta(minutes=step)

    def doc(conv: str, turn: int, text: str, j: int) -> dict:
        return {"conv_id": conv, "turn_idx": turn,
                "role": "user" if turn % 2 == 0 else "assistant",
                "text": text, "tool": "", "ts": (ts0 + timedelta(seconds=j)).isoformat()}

    for j in range(n_upserts):
        words = [vocab[_zipf_pick(rng, len(vocab))] for _ in range(int(rng.integers(5, 20)))]
        if j == 0:
            conv, turn = f"live{step:05d}", 0
            words.append(planted_token(seed, step))
        elif rng.random() < 0.3:
            conv, t = live_ids[int(rng.integers(0, len(live_ids)))].rsplit(":", 1)
            turn = int(t)
        else:
            conv, turn = f"live{step:05d}", j
        msgs.append({"seq": seq + j, "doc_id": f"{conv}:{turn:04d}", "delete": False,
                     "doc": doc(conv, turn, " ".join(words), j)})
    upserted = {m["doc_id"] for m in msgs}
    victims = [f"live{step - 1:05d}:0000"] if step > 0 else []
    while len(victims) < n_deletes + (step > 0):
        d = live_ids[int(rng.integers(0, len(live_ids)))]
        if d not in upserted and d not in victims:
            victims.append(d)
    for n, d in enumerate(victims):
        conv, t = d.rsplit(":", 1)
        msgs.append({"seq": seq + n_upserts + n, "doc_id": d, "delete": True,
                     "doc": doc(conv, int(t), "", 0)})
    gone = set(victims)
    live_ids[:] = [d for d in live_ids if d not in gone]
    return {
        "msgs": msgs,
        "planted": f"live{step:05d}:0000",
        "victim": victims[0] if step > 0 else None,
        "terms": [planted_token(seed, step)] + ([planted_token(seed, step - 1)] if step > 0 else []),
    }


def write_messages(path: str, msgs: list[dict]) -> None:
    """Land one message file atomically (the stream source must never
    see a half-written file)."""
    d = os.path.dirname(path)
    tmp = os.path.join(d, "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        for m in msgs:
            f.write(json.dumps(m) + "\n")
    os.replace(tmp, path)
