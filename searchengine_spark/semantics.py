"""Pinned query semantics shared by the Spark engine, the pure-Python
oracle, and the DuckDB oracle-SQL generator.

The reference never configures an analyzer or scoring model — it uses
Bleve's default ``standard`` analyzer (``bleve.NewIndexMapping()``,
reference ``internal/index/index.go:35``) and default similarity; query
terms are whitespace-split (``internal/search/search.go:116``) and
combined disjunctively with fuzziness 1 (``search.go:120-124``), top-k
defaults to 10 (``search.go:141``, Bleve ``SearchRequest.Size``).

This module pins OUR normalized contract (BASELINE.json north_star):

- **Tokenize** (index & query side identically): lowercase, extract
  maximal runs of Unicode letters/digits, drop the English stopword set
  below.  Java regex ``[\\p{L}\\p{N}]+`` == Python ``[^\\W_]+`` ==
  DuckDB/RE2 ``[\\p{L}\\p{N}]+`` on our corpus alphabet.
- **BM25** k1=1.2, b=0.75,
  ``idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))``
  ``tfn(t,d)= tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``
  ``score(d)= sum over DISTINCT query terms present in d of idf*tfn``
- **Top-k**: k=10; order by score desc, then doc_id asc (deterministic
  tie-break replacing Bleve's internal doc order — SURVEY §2.12 Q3).
- **doc_id** = ``conv_id || ':' || lpad(turn_idx, 4, '0')`` so string
  order equals the stable ``(conv_id, turn_idx)`` ordering invariant
  from BASELINE.json input_hint.
- **Fuzzy** (Fuzziness=1, ``search.go:122``): a query term expands to
  all corpus-vocabulary terms within Damerau-free Levenshtein distance
  ≤1 (insert/delete/substitute), each expansion scored with its own
  df/tf like a normal disjunct.
- **Synonyms** (installed at reindex in the reference,
  ``internal/index/index.go:190-224``): a query term belonging to a
  synonym group expands to the whole group (query-time expansion).
- Scores are reported rounded to 4 decimals (cross-engine float noise
  is far below 1e-4; ordering uses the unrounded float64 value).
"""

from __future__ import annotations

K1 = 1.2
B = 0.75
TOP_K = 10
SCORE_DECIMALS = 4

# Java/RE2 flavor (Spark `regexp_extract_all`, DuckDB `regexp_extract_all`)
TOKEN_PATTERN_JAVA = r"[\p{L}\p{N}]+"
# Python `re` flavor — [^\W_]+ is unicode letters+digits (no underscore)
TOKEN_PATTERN_PY = r"[^\W_]+"

# Lucene classic English stop set (the reference's Bleve `standard`
# analyzer applies an English stop filter; we pin this exact list).
STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)

# Synonym groups — the reference hard-codes one Russian headwear group,
# installed only on reindex (reference `internal/index/index.go:190-224`).
SYNONYM_GROUPS: tuple[tuple[str, ...], ...] = (
    ("кепка", "шапка", "бейсболка", "панама"),
)


def synonym_map() -> dict[str, tuple[str, ...]]:
    """term -> full synonym group (including itself)."""
    out: dict[str, tuple[str, ...]] = {}
    for group in SYNONYM_GROUPS:
        for term in group:
            out[term] = group
    return out


def idf(n_docs: int, df: int) -> float:
    import math

    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tfnorm(tf, dl, avgdl: float):
    """BM25 tf-normalisation — the one home of the expression. Takes
    scalars or numpy arrays (integer arrays promote to float64 at the
    first operation, exactly as an explicit cast would), so the oracle,
    the build-time block bounds and every scorer share one association
    order and stay bit-identical."""
    return tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + B * dl / avgdl))


def round_score(x: float) -> float:
    """Round a driver-side score EXACTLY like Spark's ``F.round`` on a
    DoubleType column (BigDecimal.valueOf → Double.toString shortest
    repr → HALF_UP): Python's ``repr`` yields the same shortest decimal
    string, quantized here with ROUND_HALF_UP. The builtin ``round`` is
    half-EVEN and can differ by one unit at the rounding digit, letting
    the driver fast path and the distributed plan of the same query
    disagree.

    JDK caveat: ``repr == Double.toString`` is guaranteed only on
    JDK ≥ 19 (JDK-4511638 made ``Double.toString`` emit the shortest
    round-tripping decimal, same contract as CPython's ``repr``).
    Earlier JDKs can emit a LONGER (never different-valued) decimal for
    some doubles; a longer string only changes HALF_UP quantization if
    the extra digits straddle the boundary at ``SCORE_DECIMALS + 1``,
    which also requires the shorter repr to end in an exact trailing
    ``5`` at that place — BM25 scores (transcendental idf·tfnorm sums)
    essentially never land there, and
    ``tests/test_fuzz_rank_identity.py::test_round_score_matches_jvm_round``
    fuzzes the boundary region against ``F.round`` ON THE DEPLOYED JVM
    (JDK 17 here) every run, so a deployment where the parity claim
    breaks fails loudly instead of silently mis-ranking ties."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-SCORE_DECIMALS)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))
