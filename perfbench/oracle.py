"""Independent BM25 answers from DuckDB over the same corpus parquet.

Mirrors the pinned semantics of ``searchengine_spark.semantics`` without
calling into the program: lowercase, maximal Unicode letter/digit runs,
the same stopword list, BM25 with k1 = 1.2 and b = 0.75 over the
corpus-global N, df and avgdl, scores rounded HALF_UP to 4 decimals,
rank by raw score descending then doc_id ascending. Fuzziness 1 is
edit distance <= 1 in characters (DuckDB's ``levenshtein`` counts bytes,
so the expansion is done here in Python over the DuckDB vocabulary).
"""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb

from searchengine_spark import semantics as S

K1, B, TOP_K = 1.2, 0.75, 10
_QUANT = Decimal(1).scaleb(-4)
_SPLIT = re.compile(r"[^\W_]+", re.UNICODE)


def round_half_up(x: float) -> float:
    """4-decimal HALF_UP on the shortest decimal form of a double."""
    return float(Decimal(repr(float(x))).quantize(_QUANT, rounding=ROUND_HALF_UP))


def analyze(query: str) -> list[str]:
    """Whitespace split, then lowercase letter/digit runs minus stopwords,
    distinct in first-seen order."""
    stop = set(S.STOPWORDS)
    out: list[str] = []
    for frag in query.split():
        out += [t for t in _SPLIT.findall(frag.lower()) if t not in stop]
    return list(dict.fromkeys(out))


def within_one_edit(a: str, b: str) -> bool:
    """True if one character inserted, deleted or replaced (or none)
    turns ``a`` into ``b``."""
    if a == b:
        return True
    if len(a) > len(b):
        a, b = b, a
    if len(b) - len(a) > 1:
        return False
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    if len(a) == len(b):
        return a[i + 1:] == b[i + 1:]
    return a[i:] == b[i + 1:]


class DuckOracle:
    """Tokenizes the corpus once into DuckDB tables, then answers each
    query with one SQL statement."""

    def __init__(self, parquet_path: str, threads: int = 4):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        stop = ", ".join(f"'{w}'" for w in S.STOPWORDS)
        self.con.execute(f"""
            CREATE TABLE d AS
            SELECT conv_id || ':' || lpad(CAST(turn_idx AS VARCHAR), 4, '0') AS doc_id,
                   role, tool, ts,
                   list_filter(regexp_extract_all(lower(text), '[\\p{{L}}\\p{{N}}]+'),
                               x -> x NOT IN ({stop})) AS toks
            FROM read_parquet('{parquet_path}')""")
        self.con.execute("CREATE TABLE dl AS SELECT doc_id, role, tool, ts, len(toks) AS dl FROM d")
        self.con.execute("""
            CREATE TABLE tf AS
            SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY 1, 2""")
        self.con.execute("DROP TABLE d")
        self.n, self.avgdl = self.con.execute(
            "SELECT CAST(count(*) AS DOUBLE), CAST(sum(dl) AS DOUBLE) / count(*) FROM dl"
        ).fetchone()
        self.vocab = [r[0] for r in self.con.execute("SELECT DISTINCT term FROM tf").fetchall()]

    def close(self) -> None:
        self.con.close()

    def fuzzy(self, terms: list[str]) -> list[str]:
        out: list[str] = []
        for t in terms:
            out += sorted(v for v in self.vocab if within_one_edit(t, v))
        return list(dict.fromkeys(out))

    def _scored(self, terms: list[str], where: str, having: str) -> str:
        qt = ", ".join("'" + t.replace("'", "''") + "'" for t in terms) or "NULL"
        return f"""
            WITH q AS (SELECT * FROM tf WHERE term IN ({qt})),
            dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM q GROUP BY 1)
            SELECT q.doc_id, dl.ts,
                   sum(ln(1.0 + ({self.n} - dft.df + 0.5) / (dft.df + 0.5))
                       * q.tf * {K1 + 1.0}
                       / (q.tf + {K1} * ({1.0 - B} + {B} * dl.dl / {self.avgdl}))) AS raw
            FROM q JOIN dft USING (term) JOIN dl USING (doc_id)
            {where} GROUP BY q.doc_id, dl.ts {having}"""

    def bm25(self, terms: list[str], *, where: str = "", mode: str = "or",
             k: int = TOP_K, offset: int = 0) -> list[tuple[str, float]]:
        """Top-k (doc_id, rounded score). DuckDB sums a document's terms
        in no fixed order, so scores that are equal in exact arithmetic
        can differ in the last bits; ranking on the score rounded to 9
        decimals lets such ties fall to doc_id, as the engine's do."""
        if not terms:
            return []
        having = f"HAVING count(*) = {len(terms)}" if mode == "and" else ""
        rows = self.con.execute(
            f"SELECT doc_id, raw FROM ({self._scored(terms, where, having)}) "
            f"ORDER BY round(raw, 9) DESC, doc_id ASC LIMIT {int(k)} OFFSET {int(offset)}"
        ).fetchall()
        return [(d, round_half_up(s)) for d, s in rows]

    def by_ts(self, terms: list[str], *, where: str = "", k: int = TOP_K,
              offset: int = 0) -> list[tuple[str, object]]:
        """Docs matching any term, newest first: (doc_id, ts)."""
        if not terms:
            return []
        return self.con.execute(
            f"SELECT doc_id, ts FROM ({self._scored(terms, where, '')}) "
            f"ORDER BY ts DESC, doc_id ASC LIMIT {int(k)} OFFSET {int(offset)}"
        ).fetchall()
