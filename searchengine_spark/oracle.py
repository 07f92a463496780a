"""Pure-Python BM25 oracle (SURVEY.md §5.2 "rank-identical fixtures").

Independent, deliberately-naive implementation of the pinned semantics
(:mod:`searchengine_spark.semantics`) used to verify the Spark engine's
top-k docIDs and scores are rank-identical (BASELINE.json north_rule).
Covers: tokenize, BM25 (k1=1.2, b=0.75), filters (reference
`internal/filter/filter.go:43-133` kinds), fuzzy edit-distance-1
expansion (`internal/search/search.go:122`), synonym-group expansion
(`internal/index/index.go:190-224`), explicit sort override
(`internal/rank/rank.go:100-110`), top-k=10 (`search.go:141`).
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field

from . import semantics as S

_TOKEN_RE = re.compile(S.TOKEN_PATTERN_PY, re.UNICODE)
_STOP = set(S.STOPWORDS)


def tokenize(text: str) -> list[str]:
    return [t for t in _TOKEN_RE.findall(text.lower()) if t not in _STOP]


def query_terms(query: str) -> list[str]:
    """Whitespace split (reference `internal/search/search.go:116`) →
    analyzer-normalize each fragment. NOT deduplicated — callers dedup
    after their own expansions (engine.expand_query's synonym/fuzzy
    stages, sql.py's direct dict.fromkeys). THE single home of the
    query-analysis core so the SQL surface and the DataFrame API can
    never drift."""
    out: list[str] = []
    for raw in query.split():
        out.extend(tokenize(raw))
    return out


def levenshtein_leq1(a: str, b: str) -> bool:
    """True iff edit distance(a, b) <= 1 (insert/delete/substitute)."""
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if a == b:
        return True
    if la == lb:  # exactly one substitution allowed
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    # b is longer by one: one insertion
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1 :]


@dataclass
class OracleIndex:
    """In-memory corpus index: docs as dicts with doc_id/text + metadata."""

    docs: list[dict]
    tf: dict[str, Counter] = field(init=False)  # doc_id -> term counts
    dl: dict[str, int] = field(init=False)
    df: Counter = field(init=False)
    n_docs: int = field(init=False)
    avgdl: float = field(init=False)
    vocab: set[str] = field(init=False)

    def __post_init__(self) -> None:
        self.tf, self.dl, self.df = {}, {}, Counter()
        for d in self.docs:
            toks = tokenize(d["text"])
            c = Counter(toks)
            self.tf[d["doc_id"]] = c
            self.dl[d["doc_id"]] = len(toks)
            self.df.update(c.keys())
        self.n_docs = len(self.docs)
        self.avgdl = sum(self.dl.values()) / self.n_docs if self.n_docs else 0.0
        self.vocab = set(self.df)

    # -- query-term expansion ------------------------------------------------
    def expand_terms(self, query: str, fuzzy: bool = False, synonyms: bool = False) -> list[str]:
        """Whitespace-split (reference search.go:116) → tokenize each term →
        optional synonym-group and edit-distance-1 vocabulary expansion →
        DISTINCT term list (each expansion scored as its own disjunct)."""
        base: list[str] = []
        for raw in query.split():
            base.extend(tokenize(raw))
        out: list[str] = []
        syn = S.synonym_map()
        for t in base:
            group = [t]
            if synonyms and t in syn:
                group = list(syn[t])
            for g in group:
                if fuzzy:
                    out.extend(v for v in self.vocab if levenshtein_leq1(g, v))
                    if g not in self.vocab:
                        pass  # non-vocab term contributes only via expansions
                else:
                    out.append(g)
        seen: set[str] = set()
        dedup = []
        for t in out:
            if t not in seen:
                seen.add(t)
                dedup.append(t)
        return dedup

    # -- scoring --------------------------------------------------------------
    def score_doc(self, doc_id: str, terms: list[str]) -> float:
        score = 0.0
        c = self.tf[doc_id]
        dl = self.dl[doc_id]
        for t in terms:
            tf = c.get(t, 0)
            if tf == 0:
                continue
            score += S.idf(self.n_docs, self.df[t]) * S.tfnorm(tf, dl, self.avgdl)
        return score

    def search(
        self,
        query: str,
        *,
        fuzzy: bool = False,
        synonyms: bool = False,
        predicate=None,
        sort_field: str | None = None,
        sort_desc: bool = True,
        k: int = S.TOP_K,
    ) -> list[tuple[str, float]]:
        """Top-k (doc_id, score). `predicate(doc_dict) -> bool` models the
        MUST filter block (reference search.go:133-139). `sort_field`
        overrides ranking entirely (reference rank.go:100-110)."""
        terms = self.expand_terms(query, fuzzy=fuzzy, synonyms=synonyms)
        hits = []
        by_id = {d["doc_id"]: d for d in self.docs}
        for doc_id in self.tf:
            if predicate is not None and not predicate(by_id[doc_id]):
                continue
            s = self.score_doc(doc_id, terms)
            if s > 0.0:
                hits.append((doc_id, s))
        if sort_field is not None:
            hits.sort(
                key=lambda h: (by_id[h[0]][sort_field], h[0]),
                reverse=sort_desc,
            )
            if sort_desc:  # deterministic doc_id asc tie-break even when desc
                hits = _stable_desc(hits, by_id, sort_field)
        else:
            hits.sort(key=lambda h: (-h[1], h[0]))
        return [(d, S.round_score(s)) for d, s in hits[:k]]


def _stable_desc(hits, by_id, field_name):
    return sorted(hits, key=lambda h: (_neg(by_id[h[0]][field_name]), h[0]))


def _neg(v):
    """Sort-descending key for numbers/timestamps; strings get reversed
    via a tuple trick is unnecessary for our fixtures (numeric/ts only)."""
    import datetime

    if isinstance(v, datetime.datetime):
        return -v.timestamp()
    return -v
