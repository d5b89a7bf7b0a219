"""ANSI-SQL (DuckDB) oracles that mirror the engine bit-for-bit.

The driver's correctness gate runs each ``queries()`` entry on Spark and the
matching SQL here on DuckDB, then hash-compares values. For BM25 that means
the SQL must reproduce Lucene's *float32* arithmetic exactly. DuckDB's FLOAT
is IEEE binary32 and CAST(<double expr> AS FLOAT) rounds to nearest — and
since binary64 has >2*24+2 mantissa bits, emulating each float32 op as
(double op, then cast) is exactly the float32 op. We wrap every Java ``float``
operation in a cast, in the same evaluation order as BM25Similarity.java.

Norm quantization (SmallFloat.intToByte4) is embedded as a literal 256-row
(norm byte, decoded length) table — encode(x) is the largest byte whose
decoded length <= x, joined via a lateral max.
"""

from __future__ import annotations

from ..functions.analysis import ENGLISH_STOP_WORDS
from ..functions.smallfloat import LENGTH_TABLE

STOPLIST_SQL = ", ".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))

# literal norm table: b = encoded byte, dec = decoded (= lower bound) length
NORM_TABLE_SQL = "norm_tab(b, dec) AS (VALUES " + ", ".join(
    f"({b}, {int(LENGTH_TABLE[b])})" for b in range(256)
) + ")"


def _f4(expr: str) -> str:
    return f"CAST({expr} AS FLOAT)"


def base_ctes(table: str = "documents",
              term_map: "dict[str, str] | None" = None) -> str:
    """Tokenization + doc-length + collection-stats CTEs.

    Tokens: split on spaces (the synthetic corpus is strictly [a-z0-9 ], so
    this equals the engine's UAX#29-subset tokenizer), drop empties, keep
    0-based pre-stop positions (stop removal leaves Lucene position holes).

    ``term_map``: post-stop-filter term rewriting (the PorterStemFilter
    position in the English chain) as a pinned CASE mapping — pairs are
    hand-verified against the published algorithm (tests/test_stem.py).
    """
    term_expr = "term"
    if term_map:
        cases = " ".join(
            f"WHEN '{k}' THEN '{v}'" for k, v in sorted(term_map.items())
        )
        term_expr = f"CASE term {cases} ELSE term END"
    return f"""
toks_all AS (
  SELECT doc_id, tok AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS ord
    FROM {table}
  )
  WHERE tok <> ''
),
toks AS (
  SELECT doc_id, {term_expr} AS term, pos
  FROM toks_all WHERE term NOT IN ({STOPLIST_SQL})
),
dl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS doc_len
  FROM {table} d LEFT JOIN toks t ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
),
{NORM_TABLE_SQL},
dn AS (
  SELECT dl.doc_id, dl.doc_len,
         (SELECT max(b) FROM norm_tab WHERE norm_tab.dec <= dl.doc_len) AS norm_b
  FROM dl
),
cstats AS (
  SELECT sum(CASE WHEN doc_len > 0 THEN 1 ELSE 0 END)::BIGINT AS doc_count,
         sum(doc_len)::BIGINT AS sum_ttf
  FROM dl
),
tf AS (
  SELECT term, doc_id, count(*)::BIGINT AS freq FROM toks GROUP BY term, doc_id
),
tstats AS (
  SELECT term, count(*)::BIGINT AS doc_freq, sum(freq)::BIGINT AS total_term_freq
  FROM tf GROUP BY term
)"""


def bm25_score_sql(weight_expr: str, freq_expr: str, cache_expr: str) -> str:
    """float32 ``w - w / (1 + freq * cache)`` with per-op casts."""
    fw = weight_expr
    prod = _f4(f"{_f4(freq_expr)} * {cache_expr}")
    denom = _f4(f"{_f4('1.0')} + {prod}")
    return _f4(f"{fw} - {_f4(f'{fw} / {denom}')}")


def cache_sql(dec_expr: str, avgdl_expr: str,
              k1: float = 1.2, b: float = 0.75) -> str:
    """float32 ``1 / (k1 * ((1-b) + b*dec/avgdl))`` — BM25Similarity.java:205-208.

    ``k1``/``b`` default to BM25Similarity's defaults; a custom similarity
    (IndexSearcher.setSimilarity analog) pins them per query. (1-b) is
    computed as a float32 subtraction IN SQL, mirroring the engine's
    ``norm_cache`` fold — embedding the f32 result as a long decimal
    literal is NOT equivalent (DuckDB parses it as DECIMAL, whose FLOAT
    cast rounds differently)."""
    one_minus_b = _f4(f"{_f4('1.0')} - {_f4(repr(float(b)))}")
    bdl = _f4(f"{_f4(repr(float(b)))} * {_f4(dec_expr)}")
    inner = _f4(f"{one_minus_b} + {_f4(f'{bdl} / {avgdl_expr}')}")
    k1_inner = _f4(f"{_f4(repr(float(k1)))} * {inner}")
    return _f4(f"{_f4('1.0')} / {k1_inner}")


def idf_sql(df_expr: str, n_expr: str) -> str:
    return _f4(f"ln(1.0 + ({n_expr} - {df_expr} + 0.5) / ({df_expr} + 0.5))")


AVGDL_SQL = "CAST((SELECT sum_ttf FROM cstats) / CAST((SELECT doc_count FROM cstats) AS DOUBLE) AS FLOAT)"
N_SQL = "(SELECT doc_count FROM cstats)"


def scored_term_cte(name: str, term: str, boost: "float | None" = None,
                    k1: float = 1.2, b: float = 0.75) -> str:
    """CTE scoring every doc containing `term` (float32-exact BM25).

    ``boost`` folds into the weight as float32 (BM25Scorer: weight =
    boost * idf); ``k1``/``b`` follow the searcher's similarity."""
    w = idf_sql(f"(SELECT doc_freq FROM tstats WHERE term = '{term}')", N_SQL)
    if boost is not None:
        w = _f4(f"{_f4(repr(float(boost)))} * {w}")
    cache = cache_sql("norm_tab.dec", AVGDL_SQL, k1, b)
    score = bm25_score_sql(w, "tf.freq", cache)
    return f"""
{name} AS (
  SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
  FROM tf
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE tf.term = '{term}'
)"""


def explain_term_sql(term: str) -> str:
    """Explanation oracle: the BM25 explain tree's component values for
    the term query's own top-1 hit, each computed at the same float32
    points as scoring (BM25Similarity.java:160-280)."""
    df_expr = f"(SELECT doc_freq FROM tstats WHERE term = '{term}')"
    idf = idf_sql(df_expr, N_SQL)
    cache = cache_sql("(SELECT dec FROM v)", AVGDL_SQL)
    freq = "(SELECT freq FROM v)"
    prod = _f4(f"{_f4(freq)} * {cache}")
    denom = _f4(f"{_f4('1.0')} + {prod}")
    one = _f4("1.0")
    tf = _f4(f"{one} - {_f4(f'{one} / {denom}')}")
    score = bm25_score_sql(idf, freq, cache)
    rows = [
        ("n, number of documents containing term", f"CAST({df_expr} AS DOUBLE)"),
        ("N, total number of documents with field", f"CAST({N_SQL} AS DOUBLE)"),
        ("idf", f"CAST({idf} AS DOUBLE)"),
        ("freq, occurrences of term within document", f"CAST({freq} AS DOUBLE)"),
        ("k1, term saturation parameter", "CAST(CAST(1.2 AS FLOAT) AS DOUBLE)"),
        ("b, length normalization parameter", "CAST(CAST(0.75 AS FLOAT) AS DOUBLE)"),
        ("dl, length of field", "CAST(CAST((SELECT dec FROM v) AS FLOAT) AS DOUBLE)"),
        ("avgdl, average length of field", f"CAST({AVGDL_SQL} AS DOUBLE)"),
        ("tf", f"CAST({tf} AS DOUBLE)"),
        ("score", f"CAST({score} AS DOUBLE)"),
    ]
    selects = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS component, {expr} AS value" for name, expr in rows
    )
    return f"""WITH {base_ctes()},{scored_term_cte('s', term)},
top1 AS (SELECT doc_id FROM s ORDER BY score DESC, doc_id ASC LIMIT 1),
v AS (
  SELECT tf.freq AS freq, norm_tab.dec AS dec
  FROM tf
  JOIN top1 ON tf.doc_id = top1.doc_id
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE tf.term = '{term}'
)
{selects}"""


def topk_single_sql(term: str, k: int = 10,
                    term_map: "dict[str, str] | None" = None) -> str:
    return f"""WITH {base_ctes(term_map=term_map)},{scored_term_cte('s', term)}
SELECT doc_id, score FROM s
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def iodv_topk_sql(term: str, sort_expr: str, lo: int, hi: int,
                  k: int = 10) -> str:
    """TermQuery + a required non-scoring doc-value range
    (IndexOrDocValuesQuery as a FILTER clause): BM25 of ``term`` over
    docs whose ``sort_expr`` value lies in [lo, hi] — collection stats
    unchanged by the filter (BooleanWeight's non-scoring iterator).

    The engine breaks score ties by gid (per-segment sorted order),
    which ANSI SQL can't express — callers must pick k at a TIE-FREE
    score boundary so membership is score-determined; within-k order is
    canonicalized to (score DESC, doc_id ASC) on both sides."""
    return f"""WITH {base_ctes()},{scored_term_cte('s', term)}
SELECT s.doc_id, s.score
FROM s JOIN documents d ON d.doc_id = s.doc_id
WHERE ({sort_expr.replace('doc_id', 'd.doc_id').replace('n_chars', 'd.n_chars')}) BETWEEN {lo} AND {hi}
ORDER BY s.score DESC, s.doc_id ASC LIMIT {k}"""


def topk_or_sql(t1: str, t2: str, k: int = 10) -> str:
    # DisjunctionSumScorer: per-clause float32 scores summed in double, cast
    # to float32 once (scores << 2^29 apart, so the double sum is exact and
    # order-independent)
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def topk_and_sql(t1: str, t2: str, k: int = 10) -> str:
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)}
SELECT s1.doc_id AS doc_id,
       CAST(CAST(s1.score + s2.score AS FLOAT) AS DOUBLE) AS score
FROM s1 JOIN s2 ON s1.doc_id = s2.doc_id
ORDER BY score DESC, s1.doc_id ASC LIMIT {k}"""


def _feature_value_sql(modulus: int) -> str:
    """The gate's synthetic feature: (doc_id % modulus) + 1 — small
    integers survive FeatureField's 9-significand-bit quantization
    exactly, so the oracle can use the raw value."""
    return _f4(f"(doc_id % {modulus}) + 1")


def feature_saturation_topk_sql(term: str, modulus: int, pivot: float,
                                weight: float, k: int = 10) -> str:
    """FeatureField.newSaturationQuery as a SHOULD clause next to a MUST
    term query (FeatureField.java:90-99 pattern, SaturationFunction
    java:375-391): feature score = f32(w * f32(1 - f32(p / f32(S + p))))
    — all-float32 ops — added to the BM25 clause in double with one
    final float32 cast."""
    import numpy as np

    p = repr(float(np.float32(pivot)))
    w = repr(float(np.float32(weight)))
    s = _feature_value_sql(modulus)
    t1 = _f4(f"{s} + {_f4(p)}")
    t2 = _f4(f"{_f4(p)} / {t1}")
    t3 = _f4(f"{_f4('1.0')} - {t2}")
    fscore = _f4(f"{_f4(w)} * {t3}")
    return f"""WITH {base_ctes()},{scored_term_cte('s', term)},
feat AS (SELECT doc_id, {fscore} AS fscore FROM documents)
SELECT s.doc_id,
       CAST(CAST(s.score + COALESCE(f.fscore, CAST(0 AS FLOAT)) AS FLOAT)
            AS DOUBLE) AS score
FROM s LEFT JOIN feat f ON f.doc_id = s.doc_id
ORDER BY score DESC, s.doc_id ASC LIMIT {k}"""


def feature_log_topk_sql(modulus: int, scaling_factor: float,
                         weight: float, k: int = 10) -> str:
    """Standalone FeatureField.newLogQuery top-k (LogFunction
    java:304-315): score = f32(w * ln(f32(a + S))) — float32 add, double
    ln and multiply, one final float32 cast."""
    import numpy as np

    a = repr(float(np.float32(scaling_factor)))
    w = repr(float(np.float32(weight)))
    s = _feature_value_sql(modulus)
    inner = _f4(f"{_f4(a)} + {s}")
    fscore = _f4(f"CAST({w} AS DOUBLE) * ln(CAST({inner} AS DOUBLE))")
    return f"""SELECT doc_id AS gid, CAST({fscore} AS DOUBLE) AS score
FROM documents
ORDER BY score DESC, gid ASC LIMIT {k}"""


def common_terms_topk_sql(low_terms: "list[str]", high_terms: "list[str]",
                          k: int = 10) -> str:
    """CommonTermsQuery (SHOULD/SHOULD) twin
    (queries/.../CommonTermsQuery.java buildQuery): the low/high split is
    precomputed for the gate's fixed corpus (docFreq vs
    ceil(f32(maxTermFrequency)*f32(maxDoc)), same constants the engine's
    rewrite derives from the terms table). Matches = docs hitting >= 1
    LOW term; score = f32(f32(sum low BM25) + f32(sum high BM25)) — the
    nested boolean's per-group float32 cast points."""
    ctes = [scored_term_cte(f"lo{i}", t) for i, t in enumerate(low_terms)]
    ctes += [scored_term_cte(f"hi{i}", t) for i, t in enumerate(high_terms)]
    lo_union = " UNION ALL ".join(
        f"SELECT * FROM lo{i}" for i in range(len(low_terms)))
    hi_union = " UNION ALL ".join(
        f"SELECT * FROM hi{i}" for i in range(len(high_terms)))
    return f"""WITH {base_ctes()},{','.join(ctes)},
lowg AS (
  SELECT doc_id, CAST(sum(score) AS FLOAT) AS ls
  FROM ({lo_union}) GROUP BY doc_id
),
hig AS (
  SELECT doc_id, CAST(sum(score) AS FLOAT) AS hs
  FROM ({hi_union}) GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(CAST(l.ls + COALESCE(h.hs, CAST(0 AS FLOAT)) AS FLOAT)
            AS DOUBLE) AS score
FROM lowg l LEFT JOIN hig h ON l.doc_id = h.doc_id
ORDER BY score DESC, l.doc_id ASC LIMIT {k}"""


def topk_not_sql(t1: str, t2: str, k: int = 10) -> str:
    # ReqExclScorer: required clause's score passes through unchanged
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)}
SELECT s1.doc_id, s1.score
FROM s1
WHERE s1.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{t2}')
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def scored_pred_cte(name: str, term_pred: str) -> str:
    """CTE scoring every (doc, term) pair whose term satisfies ``term_pred``
    (float32-exact per-clause BM25) — the scoring-boolean-rewrite oracle."""
    w = idf_sql("ts.doc_freq", N_SQL)
    cache = cache_sql("norm_tab.dec", AVGDL_SQL)
    score = bm25_score_sql(w, "tf.freq", cache)
    return f"""
{name} AS (
  SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
  FROM tf
  JOIN tstats ts ON ts.term = tf.term
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE {term_pred}
)"""


def multiterm_topk_sql(term_pred: str, k: int = 10) -> str:
    """Scoring-boolean rewrite: OR-sum over every matched term's clause
    (MultiTermQuery.SCORING_BOOLEAN_REWRITE → DisjunctionSumScorer).
    Kept for opt-in scoring rewrites; the engine default is now the
    constant-score-blended form below."""
    return f"""WITH {base_ctes()},{scored_pred_cte('s', term_pred)}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def const_multiterm_topk_sql(term_pred: str, k: int = 10) -> str:
    """CONSTANT_SCORE_BLENDED_REWRITE (the PrefixQuery/WildcardQuery/
    RegexpQuery/TermRangeQuery default): every doc containing ANY matched
    term scores 1.0; deterministic (gid asc) page, no clause cap."""
    return f"""WITH {base_ctes()}
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE {term_pred})
ORDER BY doc_id ASC LIMIT {k}"""


def prefix_topk_sql(prefix: str, k: int = 10) -> str:
    return const_multiterm_topk_sql(f"tf.term LIKE '{prefix}%'", k)


# corpus variant whose dictionary is ~3x doc-count unique terms (u<id>x<j>):
# the >=1k-term match-set gates run over this derived table, forcing the
# engine down the DISTRIBUTED TermSetRefQ path (match set >> the 16-term
# boolean-rewrite threshold) while DuckDB recomputes the same corpus here
BIGVOCAB_DOCS_CTE = """
docs_u AS (
  SELECT doc_id,
         text || ' u' || doc_id || 'x0 u' || doc_id || 'x1 u' || doc_id
              || 'x2' AS text
  FROM documents
)"""


def bigvocab_multiterm_topk_sql(term_pred: str, k: int = 10) -> str:
    """Constant-score page of an uncapped multi-term match over the
    big-vocab corpus (>=1k matched terms at sf0.01)."""
    return f"""WITH {BIGVOCAB_DOCS_CTE},{base_ctes('docs_u')}
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE {term_pred})
ORDER BY doc_id ASC LIMIT {k}"""


def bigvocab_bool_multiterm_topk_sql(term: str, term_pred: str,
                                     k: int = 10) -> str:
    """MUST term + MUST constant-score multi-term set over the big-vocab
    corpus: the term's float32 BM25 score (recomputed over the LONGER
    docs — the 3 extra tokens shift doc lengths/norms/avgdl) plus the
    set's 1.0, one float32 cast on the sum (BooleanQuery double-sum)."""
    return f"""WITH {BIGVOCAB_DOCS_CTE},{base_ctes('docs_u')},{scored_term_cte('s', term)}
SELECT s.doc_id, CAST(CAST(s.score + 1.0 AS FLOAT) AS DOUBLE) AS score
FROM s
WHERE s.doc_id IN (SELECT doc_id FROM tf WHERE {term_pred})
ORDER BY score DESC, s.doc_id ASC LIMIT {k}"""


def wildcard_topk_sql(pattern: str, k: int = 10) -> str:
    like = pattern.replace("*", "%").replace("?", "_")
    return const_multiterm_topk_sql(f"tf.term LIKE '{like}'", k)


def _sq(ch: str) -> str:
    return ch.replace("'", "''")


def osa_expand_ctes(q: str, max_edits: int = 2, max_expansions: int = 50) -> str:
    """CTE chain computing the OSA (restricted-Damerau) distance from ``q``
    to every dictionary term — Lucene's transpositions=true fuzzy distance
    (FuzzyQuery.java:272; the DP with the d[i-2][j-2]+cost transposition
    term, TestFuzzyQuery.java:730-793). NOT DuckDB's builtin
    ``damerau_levenshtein`` (unrestricted Damerau differs, e.g. ca→abc).

    One unrolled stage per query character, each MATERIALIZED (expression
    inlining across stages otherwise compounds exponentially and OOMs the
    optimizer); per stage the in-row left dependency is unwound as
    new[k] = (k-1) + min_{m<=k}(base[m]-(m-1)).
    Emits ``fterms``: (term, boost) — the top ``max_expansions`` candidates
    in TopTermsRewrite queue order (boost desc, term asc;
    TopTermsRewrite.java:109-155), boost = float32
    ``1 - ed / min(|term|, |q|)`` (FuzzyTermsEnum.java:247-255), truncated
    to >= 0 after selection (TopTermsRewrite.java:169-171)."""
    e = int(max_edits)
    stages = [
        f"""
f0 AS MATERIALIZED (
  SELECT term, doc_freq, len(term) AS n,
         list_transform(range(1, len(term) + 1), i -> term[i]) AS tc,
         list_transform(range(0, len(term) + 1), i -> CAST(i AS BIGINT)) AS prev,
         CAST(NULL AS BIGINT[]) AS pprev
  FROM tstats
  WHERE abs(len(term) - {len(q)}) <= {e}
)"""
    ]
    for j in range(1, len(q) + 1):
        qj = _sq(q[j - 1])
        cost = f"(CASE WHEN tc[k0] = '{qj}' THEN 0 ELSE 1 END)"
        trans = "999999"
        if j >= 2:
            qjm1 = _sq(q[j - 2])
            trans = (
                f"CASE WHEN k0 >= 2 AND tc[k0] = '{qjm1}' AND tc[k0-1] = '{qj}' "
                f"THEN pprev[k0-1] + {cost} ELSE 999999 END"
            )
        base = (
            f"list_transform(range(0, n + 1), k0 -> CASE WHEN k0 = 0 THEN CAST({j} AS BIGINT) "
            f"ELSE least(prev[k0+1] + 1, prev[k0] + {cost}, {trans}) END)"
        )
        stages.append(
            f"""
f{j} AS MATERIALIZED (
  SELECT term, doc_freq, n, tc,
         list_transform(base, (x, k) ->
           (k - 1) + list_min(list_transform(base[1:k], (y, m) -> y - (m - 1)))
         ) AS prev,
         prev AS pprev
  FROM (SELECT *, {base} AS base FROM f{j - 1})
)"""
        )
    boost = (
        f"CASE WHEN prev[n + 1] = 0 THEN {_f4('1.0')} ELSE "
        + _f4(
            f"{_f4('1.0')} - "
            + _f4(
                f"{_f4('prev[n + 1]')} / "
                f"{_f4(f'greatest(least(n, {len(q)}), 1)')}"
            )
        )
        + " END"
    )
    stages.append(
        f"""
fterms AS (
  SELECT term, CAST(greatest(boost, {_f4('0.0')}) AS FLOAT) AS boost
  FROM (
    SELECT term, {boost} AS boost FROM f{len(q)}
    WHERE prev[n + 1] <= {e}
    ORDER BY boost DESC, term ASC
    LIMIT {int(max_expansions)}
  )
)"""
    )
    return ",".join(stages)


def fuzzy_topk_sql(q: str, max_edits: int = 2, max_expansions: int = 50, k: int = 10) -> str:
    """Fuzzy default rewrite, TopTermsBlendedFreqScoringRewrite
    (MultiTermQuery.java:197-236 + FuzzyQuery.java:272): terms within OSA
    (restricted-Damerau) distance, top ``max_expansions`` by distance boost,
    executed as a BlendedTermQuery — every member's docFreq REPLACED by the
    max across members (BlendedTermQuery.java:281-290), per-term weight =
    float32(boost * blended idf), per-term float32 scores summed as SHOULD
    clauses (double sum, one float32 cast)."""
    w_blend = idf_sql(
        "(SELECT max(ts2.doc_freq) FROM tstats ts2 "
        "WHERE ts2.term IN (SELECT term FROM fterms))",
        N_SQL,
    )
    w = _f4(f"{_f4('ft.boost')} * {w_blend}")
    cache = cache_sql("norm_tab.dec", AVGDL_SQL)
    score = bm25_score_sql(w, "tf.freq", cache)
    return f"""WITH {base_ctes()},{osa_expand_ctes(q, max_edits, max_expansions)},
s AS (
  SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
  FROM tf
  JOIN fterms ft ON ft.term = tf.term
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
)
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def blended_topk_sql(terms: "list[str]", boosts: "list[float]",
                     dismax: bool = False, tie: float = 0.0,
                     k: int = 10) -> str:
    """BlendedTermQuery twin (core/search/BlendedTermQuery.java:60-301):
    every member scored with docFreq REPLACED by the max across members,
    weight = f32(boost_i * blended idf); combined as a SHOULD sum
    (BooleanRewrite) or max + tie*(sum-max) (DisjunctionMaxRewrite),
    double composed, one float32 cast."""
    import numpy as np

    in_list = ", ".join(f"'{t}'" for t in terms)
    w_blend = idf_sql(
        f"(SELECT max(doc_freq) FROM tstats WHERE term IN ({in_list}))",
        N_SQL,
    )
    cache = cache_sql("norm_tab.dec", AVGDL_SQL)
    member_ctes, unions = [], []
    for i, (t, b) in enumerate(zip(terms, boosts)):
        w = _f4(f"{_f4(repr(float(np.float32(b))))} * {w_blend}")
        score = bm25_score_sql(w, "tf.freq", cache)
        member_ctes.append(f"""
m{i} AS (
  SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
  FROM tf
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE tf.term = '{t}'
)""")
        unions.append(f"SELECT * FROM m{i}")
    combine = (
        f"max(score) + (sum(score) - max(score)) * {float(tie)!r}"
        if dismax else "sum(score)"
    )
    return f"""WITH {base_ctes()},{','.join(member_ctes)}
SELECT doc_id, CAST(CAST({combine} AS FLOAT) AS DOUBLE) AS score
FROM ({' UNION ALL '.join(unions)})
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def regexp_topk_sql(pattern: str, k: int = 10) -> str:
    # (?:...) = whole-term anchoring even across top-level alternations
    # (RegexpQuery matches the entire term)
    return const_multiterm_topk_sql(
        f"regexp_matches(tf.term, '^(?:{pattern})$')", k
    )


def range_topk_sql(lo: str, hi: str, k: int = 10) -> str:
    """Constant-score range rewrite: every doc with any term in [lo, hi]
    scores 1.0 (TermRangeQuery default CONSTANT_SCORE rewrite)."""
    return f"""WITH {base_ctes()}
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE term >= '{lo}' AND term <= '{hi}')
ORDER BY doc_id ASC LIMIT {k}"""


def synonym_topk_sql(t1: str, t2: str, k: int = 10) -> str:
    """SynonymQuery: one pseudo-term with freq = Σ member freqs and blended
    df = max(member doc_freq) (SynonymQuery.java SynonymWeight)."""
    w = idf_sql(
        f"(SELECT max(doc_freq) FROM tstats WHERE term IN ('{t1}', '{t2}'))", N_SQL
    )
    cache = cache_sql("norm_tab.dec", AVGDL_SQL)
    score = bm25_score_sql(w, "sf.f", cache)
    return f"""WITH {base_ctes()},
sf AS (
  SELECT doc_id, sum(freq)::BIGINT AS f
  FROM tf WHERE term IN ('{t1}', '{t2}') GROUP BY doc_id
)
SELECT sf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM sf
JOIN dn ON dn.doc_id = sf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def dismax_topk_sql(t1: str, t2: str, k: int = 10) -> str:
    """DisjunctionMaxQuery with tie=0: per-doc max of clause scores."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)}
SELECT doc_id, CAST(max(score) AS DOUBLE) AS score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def req_opt_not_topk_sql(must_t: str, should_t: str, not_t: str,
                         k: int = 10) -> str:
    """Classic-parser modifier mix ``+a b -c``: MUST a scores always,
    SHOULD b adds when present (ReqOptSumScorer), MUST_NOT c filters;
    per-clause float32 scores summed in double, one float32 cast."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', must_t)},{scored_term_cte('s2', should_t)}
SELECT s1.doc_id AS doc_id,
       CAST(CAST(s1.score + COALESCE(s2.score, 0.0) AS FLOAT) AS DOUBLE) AS score
FROM s1 LEFT JOIN s2 ON s2.doc_id = s1.doc_id
WHERE s1.doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{not_t}')
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def topk_msm_sql(terms: "list[str]", msm: int, k: int = 10) -> str:
    """minimumNumberShouldMatch: docs matching >= msm optional clauses,
    scored as the disjunction sum (WANDScorer minShouldMatch mode)."""
    ctes = ",".join(scored_term_cte(f"s{i}", t) for i, t in enumerate(terms))
    union = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(len(terms)))
    return f"""WITH {base_ctes()},{ctes}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM ({union})
GROUP BY doc_id HAVING count(*) >= {msm}
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def boosted_or_topk_sql(t1: str, boost: float, t2: str, k: int = 10) -> str:
    """``t1^boost OR t2``: boosted clause + plain clause, disjunction sum."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1, boost)},{scored_term_cte('s2', t2)}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def boosted_bool_topk_sql(t1: str, t2: str, boost: float, k: int = 10) -> str:
    """BoostQuery over a composite: ``(t1 OR t2)^boost``. Lucene propagates
    the boost through Weight creation (BoostQuery.java createWeight float
    multiply), so each clause scores with weight = float32(boost * idf) —
    identical to boosting every clause."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1, boost)},{scored_term_cte('s2', t2, boost)}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def match_all_count_sql() -> str:
    return "SELECT count(*)::BIGINT AS n FROM documents"


def near_n_topk_sql(terms: "list[str]", slop: int, k: int = 10) -> str:
    """Ordered N-term proximity: freq = #position tuples with every
    consecutive gap in [1, slop+1] (pre-stop positions, holes kept);
    scored as a phrase (summed-idf weight, double sum cast to float32
    once) — the NearQ oracle for any clause count."""
    idfs = [
        "CAST("
        + idf_sql(f"(SELECT doc_freq FROM tstats WHERE term = '{t}')", N_SQL)
        + " AS DOUBLE)"
        for t in terms
    ]
    w = _f4(" + ".join(idfs))
    cache = cache_sql("norm_tab.dec", AVGDL_SQL)
    score = bm25_score_sql(w, "nf.freq", cache)
    als = [chr(ord("a") + i) for i in range(len(terms))]
    joins = "".join(
        f"\n  JOIN toks {als[i]} ON {als[i]}.doc_id = a.doc_id"
        f" AND {als[i]}.pos - {als[i - 1]}.pos BETWEEN 1 AND {slop + 1}"
        for i in range(1, len(terms))
    )
    preds = " AND ".join(f"{al}.term = '{t}'" for al, t in zip(als, terms))
    return f"""WITH {base_ctes()},
nf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM toks a{joins}
  WHERE {preds}
  GROUP BY a.doc_id
)
SELECT nf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM nf
JOIN dn ON dn.doc_id = nf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def near_topk_sql(t1: str, t2: str, slop: int, k: int = 10) -> str:
    """Ordered 2-term proximity (special case of ``near_n_topk_sql``)."""
    return near_n_topk_sql([t1, t2], slop, k)


def multiphrase_topk_sql(termss: "list[list[str]]", offsets: "list[int]",
                         k: int = 10) -> str:
    """MultiPhraseQuery oracle: exact phrase whose position i admits any
    term in ``termss[i]`` (UnionPostingsEnum merge — positions within a
    (doc, slot) are distinct, so plain joins don't multiply); weight = idf
    summed over EVERY termArrays entry, duplicates included
    (MultiPhraseQuery.java:221-246), scored as a phrase."""
    idfs = [
        "CAST("
        + idf_sql(f"(SELECT doc_freq FROM tstats WHERE term = '{t}')", N_SQL)
        + " AS DOUBLE)"
        for slot in termss
        for t in slot
    ]
    w = _f4(" + ".join(idfs))
    cache = cache_sql("norm_tab.dec", AVGDL_SQL)
    score = bm25_score_sql(w, "nf.freq", cache)
    als = [chr(ord("a") + i) for i in range(len(termss))]

    def in_pred(al: str, slot: "list[str]") -> str:
        lst = ", ".join(f"'{t}'" for t in slot)
        return f"{al}.term IN ({lst})"

    joins = "".join(
        f"\n  JOIN toks {als[i]} ON {als[i]}.doc_id = a.doc_id"
        f" AND {als[i]}.pos - {int(offsets[i])} = a.pos - {int(offsets[0])}"
        for i in range(1, len(termss))
    )
    preds = " AND ".join(
        in_pred(al, slot) for al, slot in zip(als, termss)
    )
    return f"""WITH {base_ctes()},
nf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM toks a{joins}
  WHERE {preds}
  GROUP BY a.doc_id
)
SELECT nf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM nf
JOIN dn ON dn.doc_id = nf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _span_score_sql(weight_idfs: "list[str]", freq_cte: str, k: int) -> str:
    """Shared tail for the span-family oracles: BM25 over a per-doc freq
    CTE named ``nf`` with weight = float32(sum of the given idf exprs)."""
    w = _f4(" + ".join(weight_idfs))
    cache = cache_sql("norm_tab.dec", AVGDL_SQL)
    score = bm25_score_sql(w, "nf.freq", cache)
    return f"""WITH {base_ctes()},
{freq_cte}
SELECT nf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM nf
JOIN dn ON dn.doc_id = nf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _term_idf(t: str) -> str:
    return (
        "CAST("
        + idf_sql(f"(SELECT doc_freq FROM tstats WHERE term = '{t}')", N_SQL)
        + " AS DOUBLE)"
    )


def span_first_topk_sql(term: str, end: int, k: int = 10) -> str:
    """SpanFirstQuery oracle: freq = count of ``term`` positions with
    pos+1 <= end (width-0 spans each weigh 1.0, SpanScorer.java:106);
    weight = the term's idf."""
    cte = f"""nf AS (
  SELECT doc_id, count(*)::BIGINT AS freq
  FROM toks WHERE term = '{term}' AND pos <= {int(end) - 1}
  GROUP BY doc_id
)"""
    return _span_score_sql([_term_idf(term)], cte, k)


def span_pos_range_topk_sql(term: str, start: int, end: int,
                            k: int = 10) -> str:
    """SpanPositionRangeQuery oracle (acceptPosition: start <= pos and
    pos+1 <= end for width-0 term spans); weight = the term's idf."""
    cte = f"""nf AS (
  SELECT doc_id, count(*)::BIGINT AS freq
  FROM toks
  WHERE term = '{term}' AND pos >= {int(start)} AND pos <= {int(end) - 1}
  GROUP BY doc_id
)"""
    return _span_score_sql([_term_idf(term)], cte, k)


def _ordered_near_spans_cte(terms: "list[str]", slop: int) -> str:
    """Accepted ordered-near spans as (doc_id, bs, be, w32) — the greedy
    chain shared by the span-near oracle, span extents kept."""
    n = len(terms)
    inner = f"SELECT doc_id, pos AS q0 FROM toks WHERE term = '{terms[0]}'"
    for i in range(1, n):
        inner = f"""SELECT t{i}.*, (
      SELECT min(b.pos) FROM toks b
      WHERE b.doc_id = t{i}.doc_id AND b.term = '{terms[i]}'
        AND b.pos >= t{i}.q{i - 1} + 1
    ) AS q{i} FROM ({inner}) t{i}"""
    width = f"(q{n - 1} - q0 - {n - 1})"
    w32 = _f4(f"1.0 / (1.0 + CAST({width} AS DOUBLE))")
    return f"""bigspans AS (
  SELECT doc_id, q0 AS bs, q{n - 1} + 1 AS be, CAST({w32} AS FLOAT) AS w
  FROM ({inner})
  WHERE q{n - 1} IS NOT NULL AND {width} <= {int(slop)}
)"""


def span_containing_topk_sql(big_terms: "list[str]", slop: int,
                             little: str, k: int = 10) -> str:
    """SpanContainingQuery(big=ordered near, little=term) oracle — the
    ContainSpans streaming cursor (SpanContainingQuery.java): for each big
    span the first little position >= big.start must END within the big
    span; accepted bigs fold 1/(1+width) float32 in start order. Weight =
    idf over the DISTINCT union of both sides' terms."""
    uniq = list(dict.fromkeys([*big_terms, little]))
    cte = f"""{_ordered_near_spans_cte(big_terms, slop)},
acc AS (
  SELECT g.doc_id, g.bs, g.be, g.w,
         (SELECT min(l.pos) FROM toks l
          WHERE l.doc_id = g.doc_id AND l.term = '{little}'
            AND l.pos >= g.bs) AS l0
  FROM bigspans g
),
nf AS (
  SELECT doc_id,
         list_reduce(
           list(w ORDER BY bs),
           (a, x) -> CAST(CAST(a AS DOUBLE) + CAST(x AS DOUBLE) AS FLOAT)
         ) AS freq
  FROM acc WHERE l0 IS NOT NULL AND l0 + 1 <= be GROUP BY doc_id
)"""
    return _span_score_sql([_term_idf(t) for t in uniq], cte, k)


def span_within_topk_sql(big_terms: "list[str]", slop: int,
                         little: str, k: int = 10) -> str:
    """SpanWithinQuery(big=ordered near, little=term) oracle: for each
    little span the big cursor stops at the first big span with end >=
    little.end (= min start among them — accepted near-span ends are
    monotone in starts); accepted iff that big's start <= little.start.
    Little spans are width 0, so freq = accepted count."""
    uniq = list(dict.fromkeys([*big_terms, little]))
    cte = f"""{_ordered_near_spans_cte(big_terms, slop)},
nf AS (
  SELECT l.doc_id, count(*)::BIGINT AS freq
  FROM toks l
  WHERE l.term = '{little}'
    AND (SELECT min(g.bs) FROM bigspans g
         WHERE g.doc_id = l.doc_id AND g.be >= l.pos + 1) <= l.pos
  GROUP BY l.doc_id
)"""
    return _span_score_sql([_term_idf(t) for t in uniq], cte, k)


def span_near_or_topk_sql(or_terms: "list[str]", term2: str, slop: int,
                          k: int = 10) -> str:
    """General NearSpansOrdered with a SpanOr first clause
    (SpanNearQ((SpanOrQ(or_terms), term2), slop)): first-clause
    spans = the union of the or-terms' positions; for each, the second
    clause advances to its first position >= end (= p0 + 1); matchWidth =
    that position − (p0 + 1); accepted matches fold 1/(1+width) float32
    in start order. Weight = idf over the distinct union of clause terms
    (SpanWeight's term-states map)."""
    ors = ", ".join(f"'{t}'" for t in or_terms)
    uniq = list(dict.fromkeys([*or_terms, term2]))
    inner = f"""SELECT a.doc_id, a.pos AS p0, (
      SELECT min(b.pos) FROM toks b
      WHERE b.doc_id = a.doc_id AND b.term = '{term2}'
        AND b.pos >= a.pos + 1
    ) AS q1 FROM toks a WHERE a.term IN ({ors})"""
    width = "(q1 - (p0 + 1))"
    w32 = _f4(f"1.0 / (1.0 + CAST({width} AS DOUBLE))")
    cte = f"""spans AS (
  SELECT doc_id, p0, CAST({w32} AS FLOAT) AS w
  FROM ({inner})
  WHERE q1 IS NOT NULL AND {width} <= {int(slop)}
),
nf AS (
  SELECT doc_id,
         list_reduce(
           list(w ORDER BY p0),
           (a, x) -> CAST(CAST(a AS DOUBLE) + CAST(x AS DOUBLE) AS FLOAT)
         ) AS freq
  FROM spans GROUP BY doc_id
)"""
    return _span_score_sql([_term_idf(t) for t in uniq], cte, k)


def span_not_or_topk_sql(include_terms: "list[str]", exclude: str,
                         pre: int = 0, post: int = 0, k: int = 10) -> str:
    """General SpanNotQuery with a SpanOr include
    (SpanNotQ(SpanOrQ(include_terms), exclude, pre, post)): for
    width-0 include spans the FilterSpans window test reduces to "no
    exclude position in [p - pre, p + post]"; only the include side's
    idfs weigh in (SpanNotQuery.extractTermStates)."""
    ins = ", ".join(f"'{t}'" for t in include_terms)
    uniq = list(dict.fromkeys(include_terms))
    cte = f"""nf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM toks a
  WHERE a.term IN ({ins}) AND NOT EXISTS (
    SELECT 1 FROM toks b
    WHERE b.doc_id = a.doc_id AND b.term = '{exclude}'
      AND b.pos BETWEEN a.pos - {int(pre)} AND a.pos + {int(post)}
  )
  GROUP BY a.doc_id
)"""
    return _span_score_sql([_term_idf(t) for t in uniq], cte, k)


def span_not_topk_sql(include: str, exclude: str, pre: int = 0,
                      post: int = 0, k: int = 10) -> str:
    """SpanNotQuery oracle: include positions with no exclude position in
    [p-pre, p+post]; only the include term's idf weighs in
    (SpanNotQuery.java:110-118)."""
    cte = f"""nf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM toks a
  WHERE a.term = '{include}' AND NOT EXISTS (
    SELECT 1 FROM toks b
    WHERE b.doc_id = a.doc_id AND b.term = '{exclude}'
      AND b.pos BETWEEN a.pos - {int(pre)} AND a.pos + {int(post)}
  )
  GROUP BY a.doc_id
)"""
    return _span_score_sql([_term_idf(include)], cte, k)


def span_near_topk_sql(terms: "list[str]", slop: int, k: int = 10) -> str:
    """SpanNearQuery(inOrder=true) oracle: for each first-term position p0
    the greedy chain q_i = min pos(term_i) >= q_{i-1}+1
    (NearSpansOrdered.stretchToOrder, state-free form); accepted spans
    (width = q_last - q0 - (n-1) <= slop) fold 1/(1+width) as float32 in
    match order (SpanScorer.java:106); weight = summed member idfs."""
    n = len(terms)
    inner = f"SELECT doc_id, pos AS q0 FROM toks WHERE term = '{terms[0]}'"
    for i in range(1, n):
        inner = f"""SELECT t{i}.*, (
      SELECT min(b.pos) FROM toks b
      WHERE b.doc_id = t{i}.doc_id AND b.term = '{terms[i]}'
        AND b.pos >= t{i}.q{i - 1} + 1
    ) AS q{i} FROM ({inner}) t{i}"""
    width = f"(q{n - 1} - q0 - {n - 1})"
    # float32 weight per span, then a float32 step-wise fold — each step
    # f32(f64(a)+f64(x)) == IEEE float32 addition, the engine kernel's
    # np.add.at discipline
    w32 = _f4(f"1.0 / (1.0 + CAST({width} AS DOUBLE))")
    cte = f"""spans AS (
  SELECT doc_id, q0, CAST({w32} AS FLOAT) AS w
  FROM ({inner})
  WHERE q{n - 1} IS NOT NULL AND {width} <= {int(slop)}
),
nf AS (
  SELECT doc_id,
         list_reduce(
           list(w ORDER BY q0),
           (a, x) -> CAST(CAST(a AS DOUBLE) + CAST(x AS DOUBLE) AS FLOAT)
         ) AS freq
  FROM spans GROUP BY doc_id
)"""
    return _span_score_sql([_term_idf(t) for t in terms], cte, k)


def span_near_unordered_topk_sql(terms: "list[str]", slop: int,
                                 k: int = 10) -> str:
    """SpanNearQuery(inOrder=false) oracle: states = merged positions of
    the member terms in order, up to the earliest term-final position;
    per state, each term's current = min pos >= minStart, width =
    greatest(currents) + 1 - minStart - n; accepted states fold
    1/(1+width) as float32 in state order (NearSpansUnordered.java:41-93,
    SpanScorer.java:106)."""
    n = len(terms)
    lst = ", ".join(f"'{t}'" for t in terms)
    curs = "".join(
        f""",
         (SELECT min(b.pos) FROM toks b
          WHERE b.doc_id = s.doc_id AND b.term = '{t}'
            AND b.pos >= s.minstart) AS c{i}"""
        for i, t in enumerate(terms)
    )
    # width() = maxEnd - minStart (NearSpansUnordered.width does not
    # subtract totalSpanLength); the atMatch slop test DOES subtract it
    span_w = f"(greatest({', '.join(f'c{i}' for i in range(n))}) + 1 - minstart)"
    width = f"({span_w} - {n})"
    w32 = _f4(f"1.0 / (1.0 + CAST({span_w} AS DOUBLE))")
    cte = f"""pres AS (
  SELECT doc_id, term, max(pos) AS maxp FROM toks
  WHERE term IN ({lst}) GROUP BY doc_id, term
),
cand AS (
  SELECT doc_id, min(maxp) AS stop FROM pres
  GROUP BY doc_id HAVING count(*) = {n}
),
states AS (
  SELECT m.doc_id, m.pos AS minstart
  FROM toks m JOIN cand c ON c.doc_id = m.doc_id AND m.pos <= c.stop
  WHERE m.term IN ({lst})
),
widths AS (
  SELECT s.doc_id, s.minstart{curs}
  FROM states s
),
spans AS (
  SELECT doc_id, minstart, CAST({w32} AS FLOAT) AS w
  FROM widths WHERE {width} <= {int(slop)}
),
nf AS (
  SELECT doc_id,
         list_reduce(
           list(w ORDER BY minstart),
           (a, x) -> CAST(CAST(a AS DOUBLE) + CAST(x AS DOUBLE) AS FLOAT)
         ) AS freq
  FROM spans GROUP BY doc_id
)"""
    return _span_score_sql([_term_idf(t) for t in terms], cte, k)


def span_or_topk_sql(terms: "list[str]", k: int = 10) -> str:
    """SpanOrQuery oracle: freq = count of all member positions per doc;
    weight = idf summed over the members (no df blending)."""
    lst = ", ".join(f"'{t}'" for t in terms)
    cte = f"""nf AS (
  SELECT doc_id, count(*)::BIGINT AS freq
  FROM toks WHERE term IN ({lst})
  GROUP BY doc_id
)"""
    return _span_score_sql([_term_idf(t) for t in terms], cte, k)


def sloppy_sim_cte(terms: "list[str]", offsets: "list[int]", slop: int) -> str:
    """Recursive-CTE state machine reproducing SloppyPhraseMatcher's greedy
    min-position traversal bit-for-bit (the same transition system as the
    engine's ``sloppy_freqs`` kernel; SloppyPhraseMatcher.java:174-206
    semantics, distinct terms).

    Per doc (all phrase terms present), state = per-PP adjusted-position
    lists ``ls``, cursors ``ptrs``/``curs``, the window (``end_``, current
    min ``p``, runner-up ``nxt``, matchLength ``ml``) and the float32
    match-weight sum ``freq``. One recursion step = one PhrasePositions
    advance in every active doc (lock-step, like the numpy kernel); a step
    that closes a window (advanced past ``nxt``) or exhausts a PP counts a
    match iff ``ml <= slop`` with weight 1/(1+ml), accumulated in float32
    in match order — exactly PhraseScorer.score()'s loop. Emits ``sfreq``:
    (doc_id, freq FLOAT) for matching docs.
    """
    n = len(terms)
    assert len(set(terms)) == n, "SQL sloppy oracle covers distinct terms"
    plists = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS pp, list(pos - {int(off)} ORDER BY pos) AS pl "
        f"FROM toks WHERE term = '{t}' GROUP BY doc_id"
        for i, (t, off) in enumerate(zip(terms, offsets))
    )
    w_ml = _f4(f"1.0 / {_f4('1.0 + ml')}")
    add_w = _f4(f"CAST(freq AS DOUBLE) + CAST({w_ml} AS DOUBLE)")
    return f"""
plists AS ({plists}),
percand AS (
  SELECT doc_id, list(pl ORDER BY pp) AS ls
  FROM plists GROUP BY doc_id HAVING count(*) = {n}
),
sim AS (
  SELECT doc_id, ls, curs, ptrs, end_, p,
         list_min(list_filter(curs, (x, i) -> i <> p)) AS nxt,
         end_ - curs[p] AS ml,
         CAST(0.0 AS FLOAT) AS freq, FALSE AS done
  FROM (
    SELECT doc_id, ls, curs, ptrs, list_max(curs) AS end_,
           list_position(curs, list_min(curs)) AS p
    FROM (
      SELECT doc_id, ls,
             list_transform(ls, l -> l[1]) AS curs,
             list_transform(ls, l -> CAST(1 AS BIGINT)) AS ptrs
      FROM percand
    )
  )
  UNION ALL
  SELECT doc_id, ls, curs3 AS curs, ptrs3 AS ptrs, end3 AS end_, p3 AS p,
         CASE WHEN exhausted OR NOT gt THEN nxt
              ELSE list_min(list_filter(curs3, (x, i) -> i <> p3)) END AS nxt,
         CASE WHEN exhausted THEN ml
              WHEN gt THEN end3 - curs3[p3]
              ELSE least(ml, end3 - newcur) END AS ml,
         CASE WHEN (exhausted OR gt) AND ml <= {int(slop)}
              THEN {add_w} ELSE freq END AS freq,
         exhausted AS done
  FROM (
    SELECT *, CASE WHEN exhausted OR NOT gt THEN p
                   ELSE list_position(curs3, list_min(curs3)) END AS p3
    FROM (
      SELECT *,
             CASE WHEN exhausted THEN curs
                  ELSE list_transform(curs, (x, i) ->
                         CASE WHEN i = p THEN newcur ELSE x END) END AS curs3,
             CASE WHEN exhausted THEN ptrs
                  ELSE list_transform(ptrs, (x, i) ->
                         CASE WHEN i = p THEN np ELSE x END) END AS ptrs3,
             CASE WHEN exhausted THEN end_
                  ELSE greatest(end_, newcur) END AS end3,
             COALESCE(newcur > nxt, FALSE) AS gt
      FROM (
        SELECT *, CASE WHEN exhausted THEN NULL ELSE ls[p][np] END AS newcur
        FROM (
          SELECT *, ptrs[p] + 1 AS np,
                 ptrs[p] + 1 > len(ls[p]) AS exhausted
          FROM sim WHERE NOT done
        )
      )
    )
  )
),
sfreq AS (
  SELECT doc_id, freq FROM sim WHERE done AND freq > 0
)"""


def sloppy_topk_sql(terms: "list[str]", offsets: "list[int]", slop: int,
                    k: int = 10, boost: "float | None" = None) -> str:
    """Sloppy PhraseQuery top-k (the ``"..."~N`` default): unordered within
    slop, freq = float32 Σ 1/(1+matchLength) from the greedy matcher,
    scored as a phrase (summed-idf weight). ``boost`` (the ``~N^B`` parse)
    folds into the weight as f32(f32(boost) * w) — the engine's BoostQuery
    fold point over positional leaves."""
    idfs = [
        "CAST("
        + idf_sql(f"(SELECT doc_freq FROM tstats WHERE term = '{t}')", N_SQL)
        + " AS DOUBLE)"
        for t in terms
    ]
    w = _f4(" + ".join(idfs))
    if boost is not None:
        w = _f4(f"{_f4(repr(float(boost)))} * {w}")
    cache = cache_sql("norm_tab.dec", AVGDL_SQL)
    score = bm25_score_sql(w, "sf.freq", cache)
    return f"""WITH RECURSIVE {base_ctes()},{sloppy_sim_cte(terms, offsets, slop)}
SELECT sf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM sfreq sf
JOIN dn ON dn.doc_id = sf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def sloppy_match_sql(terms: "list[str]", offsets: "list[int]", slop: int) -> str:
    """Freq-level sloppy oracle: (doc_id, float32 freq) for every match —
    the SloppyPhraseMatcher positions reproduction, no scoring on top."""
    return f"""WITH RECURSIVE {base_ctes()},{sloppy_sim_cte(terms, offsets, slop)}
SELECT doc_id, CAST(freq AS DOUBLE) AS freq FROM sfreq ORDER BY doc_id"""


def interval_topk_sql(terms: "list[str]", ordered: bool, max_gaps: int = -1,
                      pivot: float = 1.0, boost: float = 1.0,
                      k: int = 10) -> str:
    """IntervalQuery oracle (queries/intervals): per doc, the antichain of
    MINIMAL intervals — ordered: per start q0, the greedy strictly-
    increasing chain's end (OrderedIntervalsSource); unordered: per member
    position s, the window to max over terms of the first occurrence >= s
    (UnorderedIntervalsSource); in both, ends are non-decreasing in start,
    so max(start) GROUP BY end IS the minimal antichain (the iterators'
    start-maximizing "minimizing" loop). ``max_gaps`` >= 0 drops intervals
    with (end-start+1) - n gaps AFTER minimizing (FilteredIntervalsSource.
    MaxGaps); freq folds f32(1/max(len-n+1, 1)) left-to-right in start
    order (IntervalScorer.ensureFreq); score = the saturation function
    w * (1 - pivot/(pivot+freq)), every op float32, similarity-INDEPENDENT
    (IntervalScoreFunction.SaturationFunction)."""
    n = len(terms)
    if ordered:
        inner = f"SELECT doc_id, pos AS q0 FROM toks WHERE term = '{terms[0]}'"
        for i in range(1, n):
            inner = f"""SELECT t{i}.*, (
      SELECT min(b.pos) FROM toks b
      WHERE b.doc_id = t{i}.doc_id AND b.term = '{terms[i]}'
        AND b.pos > t{i}.q{i - 1}
    ) AS q{i} FROM ({inner}) t{i}"""
        valid = f"""ivalid AS (
  SELECT doc_id, q0 AS istart, q{n - 1} AS iend
  FROM ({inner}) WHERE q{n - 1} IS NOT NULL
)"""
    else:
        lst = ", ".join(f"'{t}'" for t in terms)
        curs = "".join(
            f""",
         (SELECT min(b.pos) FROM toks b
          WHERE b.doc_id = s.doc_id AND b.term = '{t}'
            AND b.pos >= s.istart) AS c{i}"""
            for i, t in enumerate(terms)
        )
        notnull = " AND ".join(f"c{i} IS NOT NULL" for i in range(n))
        valid = f"""iends AS (
  SELECT s.doc_id, s.istart{curs}
  FROM (SELECT DISTINCT doc_id, pos AS istart FROM toks
        WHERE term IN ({lst})) s
),
ivalid AS (
  SELECT doc_id, istart,
         greatest({", ".join(f"c{i}" for i in range(n))}) AS iend
  FROM iends WHERE {notnull}
)"""
    gap_pred = (
        f"\n  WHERE iend - istart + 1 - {n} <= {int(max_gaps)}"
        if max_gaps >= 0 else ""
    )
    inc = _f4(f"1.0 / CAST(greatest(iend - istart + 2 - {n}, 1) AS DOUBLE)")
    # saturation score, one float32 cast per op (numpy kernel order):
    # d1 = f32(pivot + freq); d2 = f32(pivot / d1); d3 = f32(1 - d2);
    # score = f32(w * d3)
    p = _f4(repr(float(pivot)))
    w = _f4(repr(float(boost)))
    d1 = _f4(f"CAST({p} AS DOUBLE) + CAST(nf.freq AS DOUBLE)")
    d2 = _f4(f"CAST({p} AS DOUBLE) / CAST({d1} AS DOUBLE)")
    d3 = _f4(f"1.0 - CAST({d2} AS DOUBLE)")
    score = _f4(f"CAST({w} AS DOUBLE) * CAST({d3} AS DOUBLE)")
    return f"""WITH {base_ctes()},
{valid},
iminimal AS (
  SELECT doc_id, max(istart) AS istart, iend
  FROM ivalid GROUP BY doc_id, iend
),
iacc AS (
  SELECT doc_id, istart, CAST({inc} AS FLOAT) AS w
  FROM iminimal{gap_pred}
),
nf AS (
  SELECT doc_id,
         list_reduce(
           list(w ORDER BY istart),
           (a, x) -> CAST(CAST(a AS DOUBLE) + CAST(x AS DOUBLE) AS FLOAT)
         ) AS freq
  FROM iacc GROUP BY doc_id
)
SELECT nf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM nf
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _interval_sat_tail(min_ext: int, pivot: float = 1.0,
                       boost: float = 1.0, k: int = 10) -> str:
    """Shared saturation-scoring tail over an ``iemit(doc_id, istart,
    iend)`` CTE: freq = float32 left-to-right fold of
    1/max(len − minExtent + 1, 1) in start order (IntervalScorer.
    ensureFreq), score = f32(w × f32(1 − f32(pivot / f32(pivot +
    freq)))) (IntervalScoreFunction.SaturationFunction)."""
    inc = _f4(
        f"1.0 / CAST(greatest(iend - istart + 1 - {int(min_ext)} + 1, 1)"
        " AS DOUBLE)"
    )
    p = _f4(repr(float(pivot)))
    w = _f4(repr(float(boost)))
    d1 = _f4(f"CAST({p} AS DOUBLE) + CAST(nf.freq AS DOUBLE)")
    d2 = _f4(f"CAST({p} AS DOUBLE) / CAST({d1} AS DOUBLE)")
    d3 = _f4(f"1.0 - CAST({d2} AS DOUBLE)")
    score = _f4(f"CAST({w} AS DOUBLE) * CAST({d3} AS DOUBLE)")
    return f"""iacc AS (
  SELECT doc_id, istart, CAST({inc} AS FLOAT) AS w FROM iemit
),
nf AS (
  SELECT doc_id,
         list_reduce(
           list(w ORDER BY istart),
           (a, x) -> CAST(CAST(a AS DOUBLE) + CAST(x AS DOUBLE) AS FLOAT)
         ) AS freq
  FROM iacc GROUP BY doc_id
)
SELECT nf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM nf
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def _unordered2_minimal_cte(t1: str, t2: str) -> str:
    """The 2-term unordered minimal antichain as an ``iminimal(doc_id,
    istart, iend)`` CTE (UnorderedIntervalsSource: per member position
    the window to each term's first at-or-after occurrence, then the
    start-maximizing minimization)."""
    return f"""iends AS (
  SELECT s.doc_id, s.istart,
         (SELECT min(b.pos) FROM toks b
          WHERE b.doc_id = s.doc_id AND b.term = '{t1}'
            AND b.pos >= s.istart) AS c0,
         (SELECT min(b.pos) FROM toks b
          WHERE b.doc_id = s.doc_id AND b.term = '{t2}'
            AND b.pos >= s.istart) AS c1
  FROM (SELECT DISTINCT doc_id, pos AS istart FROM toks
        WHERE term IN ('{t1}', '{t2}')) s
),
ivalid AS (
  SELECT doc_id, istart, greatest(c0, c1) AS iend
  FROM iends WHERE c0 IS NOT NULL AND c1 IS NOT NULL
),
iminimal AS (
  SELECT doc_id, max(istart) AS istart, iend
  FROM ivalid GROUP BY doc_id, iend
)"""


def interval_containing_sql(t1: str, t2: str, small: "list[str]",
                            k: int = 10) -> str:
    """Intervals.containing(unordered(t1, t2), or(small...)) oracle
    (ContainingIntervalsSource): the big side's minimal windows that
    contain >= 1 occurrence of any small term (width-1 points, so the
    or-disjunction's antichain is just the position union); minExtent =
    big.minExtent = 2 (ContainingIntervalsSource.java:69-70)."""
    lst = ", ".join(f"'{t}'" for t in small)
    return f"""WITH {base_ctes()},
{_unordered2_minimal_cte(t1, t2)},
iemit AS (
  SELECT m.doc_id, m.istart, m.iend
  FROM iminimal m
  WHERE EXISTS (
    SELECT 1 FROM toks p
    WHERE p.doc_id = m.doc_id AND p.term IN ({lst})
      AND p.pos >= m.istart AND p.pos <= m.iend
  )
),
{_interval_sat_tail(min_ext=2, k=k)}"""


def interval_maxwidth_sql(t1: str, t2: str, width: int,
                          k: int = 10) -> str:
    """Intervals.maxwidth(width, unordered(t1, t2)) oracle
    (FilteredIntervalsSource.MaxWidth): width filter AFTER the minimizing
    antichain; minExtent passes through (= 2)."""
    return f"""WITH {base_ctes()},
{_unordered2_minimal_cte(t1, t2)},
iemit AS (
  SELECT doc_id, istart, iend FROM iminimal
  WHERE iend - istart + 1 <= {int(width)}
),
{_interval_sat_tail(min_ext=2, k=k)}"""


def interval_before_sql(src: str, ref: str, k: int = 10) -> str:
    """Intervals.before(src, ref) oracle: containedBy(src,
    extend(PRECEDING(ref), MAX, 0)) — a src occurrence p matches iff
    p <= max over ref occurrences q of max(0, q − 1)
    (OffsetIntervalsSource's position-0 clamp kept); each emitted point
    adds 1 to freq (minExtent = src.minExtent = 1,
    ContainedByIntervalsSource.java:78-79)."""
    return f"""WITH {base_ctes()},
iemit AS (
  SELECT a.doc_id, a.pos AS istart, a.pos AS iend
  FROM toks a
  WHERE a.term = '{src}'
    AND a.pos <= (
      SELECT max(CASE WHEN b.pos = 0 THEN 0 ELSE b.pos - 1 END)
      FROM toks b WHERE b.doc_id = a.doc_id AND b.term = '{ref}'
    )
),
{_interval_sat_tail(min_ext=1, k=k)}"""


def interval_atleast2_sql(terms: "list[str]", k: int = 10) -> str:
    """Intervals.atLeast(2, t1, t2, t3) oracle
    (MinimumShouldMatchIntervalsSource): per candidate start s (any
    member occurrence), each term's first occurrence >= s; the window
    spans the two smallest — [least, second-least] — when >= 2 exist;
    start-maximizing minimization; minExtent = sum of the 2 smallest
    child extents = 2 (MinimumShouldMatchIntervalsSource.java:103-113)."""
    t1, t2, t3 = terms
    inf = 1 << 60
    return f"""WITH {base_ctes()},
iends AS (
  SELECT s.doc_id, s.istart,
         coalesce((SELECT min(b.pos) FROM toks b
          WHERE b.doc_id = s.doc_id AND b.term = '{t1}'
            AND b.pos >= s.istart), {inf}) AS c0,
         coalesce((SELECT min(b.pos) FROM toks b
          WHERE b.doc_id = s.doc_id AND b.term = '{t2}'
            AND b.pos >= s.istart), {inf}) AS c1,
         coalesce((SELECT min(b.pos) FROM toks b
          WHERE b.doc_id = s.doc_id AND b.term = '{t3}'
            AND b.pos >= s.istart), {inf}) AS c2
  FROM (SELECT DISTINCT doc_id, pos AS istart FROM toks
        WHERE term IN ('{t1}', '{t2}', '{t3}')) s
),
ivalid AS (
  SELECT doc_id, least(c0, c1, c2) AS wstart,
         c0 + c1 + c2 - least(c0, c1, c2) - greatest(c0, c1, c2) AS wend
  FROM iends
  WHERE c0 + c1 + c2 - least(c0, c1, c2) - greatest(c0, c1, c2) < {inf}
),
igrouped AS (
  SELECT doc_id, max(wstart) AS istart, wend AS iend
  FROM ivalid GROUP BY doc_id, wend
),
iemit AS (
  -- unlike plain unordered, atLeast window starts are not strictly
  -- increasing in the candidate order (the min chosen start can
  -- repeat), so equal-start containments survive the group-by and the
  -- full antichain needs the running-max start filter
  SELECT doc_id, istart, iend FROM (
    SELECT doc_id, istart, iend,
           max(istart) OVER (
             PARTITION BY doc_id ORDER BY iend
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS prev_max
    FROM igrouped
  ) WHERE prev_max IS NULL OR istart > prev_max
),
{_interval_sat_tail(min_ext=2, k=k)}"""


def complete_sql(prefix: str, n: int = 5) -> str:
    return f"""WITH {base_ctes()}
SELECT term, total_term_freq AS weight FROM tstats
WHERE term LIKE '{prefix}%'
ORDER BY weight DESC, term ASC LIMIT {n}"""


def suggest_analyzing_sql(key: str, analyzed_prefix: str,
                          n: int = 10, n_toks: int = 4,
                          max_surface: int = 256) -> str:
    """AnalyzingSuggester lookup twin — surfaces = first ``n_toks``
    whitespace tokens of each document, weight = text length, analyzed
    key = stop-filtered surface tokens joined with ' ' (PRESERVE_SEP);
    (akey, surface) duplicates keep max weight, each akey keeps its top
    ``max_surface`` surfaces (maxSurfaceFormsPerAnalyzedForm), the
    lookup dedups surfaces and ranks exact-surface first then weight
    desc, surface asc — the build/lookup semantics of
    suggest/.../analyzing/AnalyzingSuggester.java."""
    return f"""WITH entries AS (
  SELECT array_to_string(
           list_filter(string_split(text, ' '), t -> t <> '')[1:{n_toks}],
           ' ') AS surface,
         CAST(length(text) AS BIGINT) AS weight
  FROM documents
),
analyzed AS (
  SELECT array_to_string(
           list_filter(string_split(surface, ' '),
                       t -> t NOT IN ({STOPLIST_SQL})), ' ') AS akey,
         surface, weight
  FROM entries WHERE surface <> ''
),
dedup AS (
  SELECT akey, surface, max(weight) AS weight
  FROM analyzed WHERE akey <> '' GROUP BY akey, surface
),
kept AS (
  SELECT akey, surface, weight,
         row_number() OVER (PARTITION BY akey
                            ORDER BY weight DESC, surface ASC) AS rn
  FROM dedup
)
SELECT surface, weight FROM (
  SELECT surface, max(weight) AS weight
  FROM kept
  WHERE rn <= {max_surface} AND starts_with(akey, '{analyzed_prefix}')
  GROUP BY surface
)
ORDER BY (surface = '{key}') DESC, weight DESC, surface ASC
LIMIT {n}"""


def suggest_fuzzy_sql(key: str, analyzed_key: str, n: int = 10,
                      max_edits: int = 1, non_fuzzy_prefix: int = 1,
                      n_toks: int = 4, max_surface: int = 256) -> str:
    """FuzzySuggester lookup twin — same build CTEs as
    :func:`suggest_analyzing_sql`; the lookup accepts entries where some
    analyzed-key prefix of length len(q)±max_edits is within max_edits
    classic Levenshtein edits of the analyzed key, first
    ``non_fuzzy_prefix`` chars pinned
    (suggest/.../analyzing/FuzzySuggester.java:44-91)."""
    q = analyzed_key
    lens = range(max(1, len(q) - max_edits), len(q) + max_edits + 1)
    dist = "least(" + ", ".join(
        f"levenshtein(substr(akey, 1, {L}), '{q}')" for L in lens
    ) + ")"
    pin = f"starts_with(akey, '{q[:non_fuzzy_prefix]}') AND " \
        if non_fuzzy_prefix > 0 else ""
    return f"""WITH entries AS (
  SELECT array_to_string(
           list_filter(string_split(text, ' '), t -> t <> '')[1:{n_toks}],
           ' ') AS surface,
         CAST(length(text) AS BIGINT) AS weight
  FROM documents
),
analyzed AS (
  SELECT array_to_string(
           list_filter(string_split(surface, ' '),
                       t -> t NOT IN ({STOPLIST_SQL})), ' ') AS akey,
         surface, weight
  FROM entries WHERE surface <> ''
),
dedup AS (
  SELECT akey, surface, max(weight) AS weight
  FROM analyzed WHERE akey <> '' GROUP BY akey, surface
),
kept AS (
  SELECT akey, surface, weight,
         row_number() OVER (PARTITION BY akey
                            ORDER BY weight DESC, surface ASC) AS rn
  FROM dedup
)
SELECT surface, weight FROM (
  SELECT surface, max(weight) AS weight
  FROM kept
  WHERE rn <= {max_surface} AND {pin}{dist} <= {max_edits}
  GROUP BY surface
)
ORDER BY (surface = '{key}') DESC, weight DESC, surface ASC
LIMIT {n}"""


def suggest_free_text_sql(key: str, n: int = 5, grams: int = 3) -> str:
    """FreeTextSuggester lookup twin (stupid backoff,
    suggest/.../analyzing/FreeTextSuggester.java:433-720). The gram
    model is every 1..grams-gram of the lowercase whitespace tokens of
    ``documents.text`` with its occurrence count; for the fixed lookup
    key the consulted orders, their prefixes, contexts, and backoff
    constants are computed here at SQL-gen time with the SAME driver
    logic the Spark lookup uses (free_text_tokens/free_text_context),
    so the two sides replay identical plans: per order, candidates =
    grams of that order starting with the prefix whose last word no
    higher order claimed, top-n by (cnt desc, gram asc), scored
    backoff * cnt / context-count as doubles in the same operation
    order; final ranking score desc, gram asc."""
    from ..operators.suggest import (
        FREE_TEXT_ALPHA, free_text_context, free_text_tokens,
    )

    last = free_text_tokens(key, grams)
    gram_rows = "\n  UNION ALL\n".join(
        f"  SELECT array_to_string(ts[i:i+{m - 1}], ' ') AS gram, {m} AS n"
        f" FROM toks, unnest(generate_series(1, len(ts)-{m - 1})) t(i)"
        for m in range(1, grams + 1)
    )
    ctes = [f"""toks AS (
  SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
  FROM documents
),
gramrows AS (
{gram_rows}
),
grams AS (SELECT gram, n, count(*) AS cnt FROM gramrows GROUP BY gram, n)"""]

    backoff = 1.0
    res_names: list[str] = []
    for order in range(grams - 1, -1, -1):
        token = last[order]
        if token is None or (token == "" and key):
            continue
        context = free_text_context(token)
        if context is not None:
            ctx = (f"(SELECT cnt FROM grams WHERE n = {order} "
                   f"AND gram = '{context}')")
        else:
            ctx = "(SELECT sum(cnt) FROM grams WHERE n = 1)"
        anti = ""
        if res_names:
            union = " UNION ALL ".join(
                f"SELECT lastword FROM {r}" for r in res_names
            )
            anti = (f"\n    AND string_split(gram, ' ')[-1] "
                    f"NOT IN ({union})")
        name = f"res{order}"
        ctes.append(f"""{name} AS (
  SELECT gram, score, lastword FROM (
    SELECT gram,
           CAST({backoff!r} AS DOUBLE) * cnt / {ctx} AS score,
           string_split(gram, ' ')[-1] AS lastword
    FROM grams
    WHERE n = {order + 1} AND starts_with(gram, '{token}'){anti}
    ORDER BY cnt DESC, gram ASC
    LIMIT {n}
  ) WHERE score IS NOT NULL
)""")
        res_names.append(name)
        backoff *= FREE_TEXT_ALPHA

    union_all = " UNION ALL ".join(f"SELECT * FROM {r}" for r in res_names)
    return f"""WITH {','.join(ctes)}
SELECT gram, score FROM ({union_all})
ORDER BY score DESC, gram ASC LIMIT {n}"""


def word_breaks_sql(term: str, n: int = 10, max_changes: int = 2) -> str:
    """WordBreakSpellChecker.suggestWordBreaks twin (suggest/spell/
    WordBreakSpellChecker.java:71-300) for maxChanges <= 2: 2-part and
    3-part segmentations whose every part clears the frequency
    threshold (>= 1), empty when the term itself is indexed
    (SUGGEST_WHEN_NOT_IN_INDEX); ranked breaks asc, max component
    docFreq desc, suggestion asc."""
    assert max_changes == 2, "oracle unrolls exactly two breaks"
    L = len(term)
    not_indexed = (f"COALESCE((SELECT doc_freq FROM tstats "
                   f"WHERE term = '{term}'), 0) = 0")
    return f"""WITH {base_ctes()},
s2 AS (
  SELECT substr('{term}', 1, i) AS w1, substr('{term}', i + 1) AS w2
  FROM unnest(generate_series(1, {L - 1})) t(i)
),
r2 AS (
  SELECT s2.w1 || ' ' || s2.w2 AS suggestion, 2 AS n_words,
         greatest(f1.doc_freq, f2.doc_freq) AS freq_max,
         f1.doc_freq + f2.doc_freq AS freq_sum
  FROM s2
  JOIN tstats f1 ON f1.term = s2.w1
  JOIN tstats f2 ON f2.term = s2.w2
),
s3 AS (
  SELECT substr('{term}', 1, i) AS w1,
         substr('{term}', i + 1, j - i) AS w2,
         substr('{term}', j + 1) AS w3
  FROM unnest(generate_series(1, {L - 2})) a(i),
       unnest(generate_series(2, {L - 1})) b(j)
  WHERE j > i
),
r3 AS (
  SELECT s3.w1 || ' ' || s3.w2 || ' ' || s3.w3 AS suggestion,
         3 AS n_words,
         greatest(f1.doc_freq, f2.doc_freq, f3.doc_freq) AS freq_max,
         f1.doc_freq + f2.doc_freq + f3.doc_freq AS freq_sum
  FROM s3
  JOIN tstats f1 ON f1.term = s3.w1
  JOIN tstats f2 ON f2.term = s3.w2
  JOIN tstats f3 ON f3.term = s3.w3
)
SELECT suggestion, CAST(n_words AS INT) AS n_words,
       CAST(freq_max AS BIGINT) AS freq_max,
       CAST(freq_sum AS BIGINT) AS freq_sum
FROM (SELECT * FROM r2 UNION ALL SELECT * FROM r3)
WHERE {not_indexed}
ORDER BY n_words ASC, freq_max DESC, suggestion ASC LIMIT {n}"""


def word_combine_sql(terms: "list[str]", n: int = 10,
                     max_changes: int = 2) -> str:
    """WordBreakSpellChecker.suggestWordCombinations twin
    (java:145-236): adjacent-term concatenations present in the
    dictionary, gated on some original being absent
    (SUGGEST_WHEN_NOT_IN_INDEX); score = run length - 1."""
    parts = []
    for i in range(len(terms) - 1):
        comb = terms[i]
        for j in range(i + 1, min(len(terms), i + max_changes + 1)):
            comb = comb + terms[j]
            orig_min = "least(" + ", ".join(
                f"COALESCE((SELECT doc_freq FROM tstats "
                f"WHERE term = '{terms[x]}'), 0)"
                for x in range(i, j + 1)
            ) + ")"
            parts.append(f"""SELECT '{comb}' AS suggestion,
       CAST({i} AS INT) AS start_idx, CAST({j} AS INT) AS end_idx,
       CAST((SELECT doc_freq FROM tstats WHERE term = '{comb}')
            AS BIGINT) AS freq,
       CAST({j - i} AS INT) AS score
WHERE COALESCE((SELECT doc_freq FROM tstats WHERE term = '{comb}'), 0)
        >= 1
  AND {orig_min} = 0""")
    union = "\nUNION ALL\n".join(parts)
    return f"""WITH {base_ctes()}
SELECT * FROM (
{union}
)
ORDER BY score ASC, freq DESC, suggestion ASC, start_idx ASC LIMIT {n}"""


def suggest_infix_sql(key: str, n: int = 10, n_toks: int = 4,
                      all_terms_required: bool = True) -> str:
    """AnalyzingInfixSuggester lookup twin
    (suggest/.../analyzing/AnalyzingInfixSuggester.java:626-934):
    suggestions = first ``n_toks`` whitespace tokens of each document
    (weight = text length, duplicates keep max weight); all key tokens
    but the last must appear as whole tokens anywhere in the
    suggestion, the last matches as a prefix (exact if the key ends
    with whitespace); rank weight desc / surface asc; highlight wraps
    whole matched tokens and the matched prefix of the last token."""
    toks = [t for t in key.lower().split(" ") if t]
    ended = key.endswith(" ")
    exact = toks if ended else toks[:-1]
    prefix = None if ended else toks[-1]

    conds = [f"list_contains(ts, '{t}')" for t in exact]
    if prefix is not None:
        conds.append(
            f"len(list_filter(ts, x -> starts_with(x, '{prefix}'))) > 0"
        )
    joiner = " AND " if all_terms_required else " OR "
    where = joiner.join(conds) if conds else "TRUE"

    cases = []
    if exact:
        in_list = ", ".join(f"'{t}'" for t in exact)
        cases.append(f"WHEN x IN ({in_list}) THEN '<b>'||x||'</b>'")
    if prefix is not None:
        cases.append(
            f"WHEN starts_with(x, '{prefix}') THEN "
            f"'<b>{prefix}</b>'||substr(x, {len(prefix) + 1})"
        )
    hl = (f"array_to_string(list_transform(ts, x -> CASE "
          f"{' '.join(cases)} ELSE x END), ' ')") if cases else "surface"

    return f"""WITH entries AS (
  SELECT array_to_string(
           list_filter(string_split(text, ' '), t -> t <> '')[1:{n_toks}],
           ' ') AS surface,
         CAST(length(text) AS BIGINT) AS weight
  FROM documents
),
dedup AS (
  SELECT surface, max(weight) AS weight
  FROM entries WHERE surface <> '' GROUP BY surface
),
toked AS (
  SELECT surface, weight,
         list_filter(string_split(lower(surface), ' '), t -> t <> '') AS ts
  FROM dedup
)
SELECT surface, weight, {hl} AS highlighted
FROM toked
WHERE {where}
ORDER BY weight DESC, surface ASC LIMIT {n}"""


def spell_suggest_sql(word: str, max_edits: int = 2, n: int = 5) -> str:
    """DirectSpellChecker ranking: distance asc, docFreq desc, term asc."""
    return f"""WITH {base_ctes()}
SELECT term, CAST(levenshtein(term, '{word}') AS INT) AS distance, doc_freq
FROM tstats
WHERE levenshtein(term, '{word}') BETWEEN 1 AND {max_edits}
ORDER BY distance ASC, doc_freq DESC, term ASC LIMIT {n}"""


def page2_or_sql(t1: str, t2: str, k: int = 10) -> str:
    """Second page of the OR ranking: global ranks k+1 .. 2k."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)},
scored AS (
  SELECT doc_id, CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, score FROM ranked
WHERE rank BETWEEN {k + 1} AND {2 * k}
ORDER BY rank"""


def quality_or_vs_and_sql(t1: str, t2: str, k: int = 10) -> str:
    """Quality harness oracle: ranked list = BM25 top-k for (t1 OR t2);
    relevant set = docs containing BOTH terms; metrics as exact-int ratios."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)},
scored AS (
  SELECT doc_id, CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
),
rel AS (
  SELECT DISTINCT a.doc_id FROM tf a JOIN tf b ON a.doc_id = b.doc_id
  WHERE a.term = '{t1}' AND b.term = '{t2}'
),
m AS (
  SELECT
    (SELECT count(*) FROM rel)::BIGINT AS n_rel,
    (SELECT count(*) FROM ranked JOIN rel USING (doc_id) WHERE rank <= {k})::BIGINT AS hits_at_k,
    (SELECT min(rank) FROM ranked JOIN rel USING (doc_id) WHERE rank <= {k}) AS first_rel
)
SELECT 'or_vs_and' AS qid, n_rel, hits_at_k,
       CAST(hits_at_k AS DOUBLE) / {float(k)} AS precision_at_k,
       CASE WHEN n_rel > 0 THEN CAST(hits_at_k AS DOUBLE) / CAST(n_rel AS DOUBLE)
            ELSE 0.0 END AS recall_at_k,
       COALESCE(1.0 / first_rel, 0.0) AS mrr
FROM m"""


def term_vectors_sql() -> str:
    """Forward-index view: per-(doc, term) analyzed frequency."""
    return f"""WITH {base_ctes()}
SELECT doc_id, term, freq FROM tf ORDER BY doc_id, term"""


def more_like_this_sql(seed_doc_id: int, max_query_terms: int = 5, k: int = 10) -> str:
    """MLT: seed doc's top tf x idf terms (idf as float32, product in
    double, ties term asc) → OR query → top-k excluding the seed."""
    interest = (
        f"CAST(tf.freq AS DOUBLE) * CAST({idf_sql('ts.doc_freq', N_SQL)} AS DOUBLE)"
    )
    return f"""WITH {base_ctes()},
qterms AS (
  SELECT tf.term FROM tf JOIN tstats ts ON ts.term = tf.term
  WHERE tf.doc_id = {seed_doc_id}
  ORDER BY {interest} DESC, tf.term ASC
  LIMIT {max_query_terms}
),{scored_pred_cte('s', 'tf.term IN (SELECT term FROM qterms)')}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM s WHERE doc_id <> {seed_doc_id}
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def sort_by_len_sql(term: str, k: int = 10) -> str:
    """TopFieldCollector analog: match set ordered by doc_len desc, doc asc."""
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, dl.doc_len
FROM tf JOIN dl ON dl.doc_id = tf.doc_id
WHERE tf.term = '{term}'
ORDER BY dl.doc_len DESC, tf.doc_id ASC LIMIT {k}"""


def range_facet_sql(t1: str, t2: str, ranges) -> str:
    """LongRangeFacetCounts twin: doc_len range counts for the OR match
    set of two terms. Overlapping ranges each count the doc; empty
    requested ranges surface as n=0 rows (the LEFT JOIN). Inclusive
    bounds (the gate uses default LongRange flags)."""
    values = ", ".join(f"('{lbl}', {int(lo)}, {int(hi)})" for lbl, lo, hi in ranges)
    return f"""WITH {base_ctes()},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term IN ('{t1}', '{t2}')),
rng(label, lo, hi) AS (SELECT * FROM (VALUES {values})),
g AS (
  SELECT r.label, count(*) AS cnt
  FROM rng r JOIN m ON TRUE JOIN dl ON dl.doc_id = m.doc_id
  WHERE dl.doc_len BETWEEN r.lo AND r.hi
  GROUP BY r.label
)
SELECT r.label, coalesce(g.cnt, 0)::BIGINT AS n
FROM rng r LEFT JOIN g ON g.label = r.label
ORDER BY r.label"""


def facet_lang_sql(term: str) -> str:
    return f"""WITH {base_ctes()}
SELECT d.lang AS dim, count(*)::BIGINT AS n
FROM tf JOIN documents d ON d.doc_id = tf.doc_id
WHERE tf.term = '{term}'
GROUP BY d.lang ORDER BY dim"""


def drill_sideways_sql(term: str, langs: "list[str]",
                       sources: "list[str]") -> str:
    """DrillSideways twin (facet/.../DrillSideways.java:48-90): base
    match set = docs containing ``term``; lang counts keep the source
    drill but drop their own, source counts vice versa; the '$hits' row
    applies both."""
    lang_in = ", ".join(f"'{v}'" for v in langs)
    src_in = ", ".join(f"'{v}'" for v in sources)
    return f"""WITH {base_ctes()},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term = '{term}'),
w AS (
  SELECT m.doc_id, d.lang, d.source
  FROM m JOIN documents d ON d.doc_id = m.doc_id
)
SELECT 'lang' AS dim, lang AS label, count(*)::BIGINT AS n
FROM w WHERE source IN ({src_in}) AND lang IS NOT NULL GROUP BY lang
UNION ALL
SELECT 'source', source, count(*)::BIGINT
FROM w WHERE lang IN ({lang_in}) AND source IS NOT NULL GROUP BY source
UNION ALL
SELECT '$hits', '', count(*)::BIGINT
FROM w WHERE lang IN ({lang_in}) AND source IN ({src_in})"""


def grouped_topk_sql(term: str, k_per_group: int = 2) -> str:
    return f"""WITH {base_ctes()},{scored_term_cte('s', term)},
r AS (
  SELECT d.lang AS dim, s.doc_id, s.score,
         row_number() OVER (
           PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC
         ) AS rn
  FROM s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT dim, doc_id, score, rn::INT AS rn
FROM r WHERE rn <= {k_per_group} ORDER BY dim, rn"""


def shingle_counts_sql(top_k: int = 20) -> str:
    """ShingleFilter bigram twin: adjacent-position pairs join with a
    space; a position gap > 1 emits 'term _' and '_ next' (the filler
    run truncates to size-1 == 1 filler for bigrams,
    ShingleFilter.java:356-360); a leading hole emits '_ first';
    trailing holes emit nothing; all-filler windows never materialize
    (every branch contains a real token)."""
    return f"""WITH {base_ctes()},
w AS (
  SELECT doc_id, term, pos,
         lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS nterm,
         lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS npos,
         min(pos) OVER (PARTITION BY doc_id) AS minpos
  FROM toks
),
sh AS (
  SELECT doc_id, '_ ' || term AS shingle FROM w
  WHERE pos = minpos AND pos > 0
  UNION ALL
  SELECT doc_id, term || ' ' || nterm FROM w WHERE npos = pos + 1
  UNION ALL
  SELECT doc_id, term || ' _' FROM w WHERE npos > pos + 1
  UNION ALL
  SELECT doc_id, '_ ' || nterm FROM w WHERE npos > pos + 1
)
SELECT shingle, count(*)::BIGINT AS n FROM sh
GROUP BY shingle ORDER BY n DESC, shingle ASC LIMIT {top_k}"""


def covering_topk_sql(terms: "list[str]", k: int = 10) -> str:
    """CoveringQuery twin (sandbox/search/CoveringScorer.java:130-141):
    per-doc minimumNumberMatch = max(1, 1 + doc_id % 3); score = the
    SHOULD sum over matching clauses (one float32 cast)."""
    ctes = ",".join(
        scored_term_cte(f"s{i}", t) for i, t in enumerate(terms)
    )
    union = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(len(terms))
    )
    return f"""WITH {base_ctes()},{ctes},
u AS ({union}),
g AS (
  SELECT doc_id, count(*) AS nm,
         CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
  FROM u GROUP BY doc_id
)
SELECT doc_id, score FROM g
WHERE nm >= GREATEST(1, 1 + doc_id % 3)
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def distance_feature_sql(term: str, qlat: float, qlon: float,
                         pivot_m: float, weight: float,
                         k: int = 10) -> str:
    """LatLonPoint.newDistanceFeatureQuery twin
    (LatLonPointDistanceFeatureQuery.java:129-130): feature score =
    f32(weight * pivot / (pivot + haversinMeters)), summed into the
    text score as a SHOULD clause. Synthetic per-doc coordinates use
    the same integer-derivation + floor-quantization expression trees
    as the engine's synth_latlon/build_points."""
    from .oracle_spatial import (
        LAT_DECODE_SQL, LON_DECODE_SQL, _haversine_sql,
    )

    d = _haversine_sql(qlat, qlon)
    boost = (f"CAST(CAST({weight!r} * ({pivot_m!r} / ({pivot_m!r} + {d}))"
             f" AS FLOAT) AS DOUBLE)")
    return f"""WITH {base_ctes()},{scored_term_cte('s', term)},
p AS (
  SELECT doc_id,
    CAST(FLOOR((((doc_id * 7919) % 1700000) / 10000.0 - 85.0)
               / {LAT_DECODE_SQL}) AS BIGINT) AS lat_enc,
    CAST(FLOOR((((doc_id * 104729) % 3500000) / 10000.0 - 175.0)
               / {LON_DECODE_SQL}) AS BIGINT) AS lon_enc
  FROM documents
)
SELECT s.doc_id,
       CAST(CAST(s.score + {boost} AS FLOAT) AS DOUBLE) AS score
FROM s JOIN p ON p.doc_id = s.doc_id
ORDER BY score DESC, s.doc_id ASC LIMIT {k}"""


def taxonomy_facet_sql(term: str) -> str:
    """TaxonomyFacetCounts twin over the lang/source 2-level hierarchy:
    every matching doc increments its leaf path AND each ancestor
    prefix (FastTaxonomyFacetCounts walks parent ordinals)."""
    return f"""WITH {base_ctes()},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term = '{term}'),
w AS (
  SELECT m.doc_id, d.lang, d.source
  FROM m JOIN documents d ON d.doc_id = m.doc_id
  WHERE d.lang IS NOT NULL AND d.source IS NOT NULL
)
SELECT lang AS path, count(*)::BIGINT AS n FROM w GROUP BY lang
UNION ALL
SELECT lang || '/' || source, count(*)::BIGINT
FROM w GROUP BY lang, source
ORDER BY path"""


def taxonomy_children_sql(term: str, parent: str, top_n: int) -> str:
    """getTopChildren(parent) twin: direct children of the parent path,
    (count desc, label asc)."""
    return f"""WITH {base_ctes()},
m AS (SELECT DISTINCT doc_id FROM tf WHERE term = '{term}'),
w AS (
  SELECT d.lang, d.source
  FROM m JOIN documents d ON d.doc_id = m.doc_id
  WHERE d.lang IS NOT NULL AND d.source IS NOT NULL
)
SELECT '{parent}' || '/' || source AS path, count(*)::BIGINT AS n
FROM w WHERE lang = '{parent}'
GROUP BY source
ORDER BY n DESC, path ASC LIMIT {top_n}"""


def diversified_topk_sql(term: str, max_per_key: int, k: int) -> str:
    """DiversifiedTopDocsCollector twin (the engine's documented
    order-independent semantics): rank within key, cap, global top-k."""
    return f"""WITH {base_ctes()},{scored_term_cte('s', term)},
r AS (
  SELECT s.doc_id, s.score, d.lang AS dim,
         row_number() OVER (
           PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id ASC
         ) AS rn
  FROM s JOIN documents d ON d.doc_id = s.doc_id
)
SELECT doc_id, score, dim
FROM r WHERE rn <= {max_per_key}
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def purge_topk_sql(t1: str, t2: str, mod: int, k: int = 10) -> str:
    """Post-purge-merge oracle: deleted docs are RECLAIMED, so idf, avgdl,
    docCount and norms all re-derive from the survivor corpus (the
    post-merge Lucene view) — unlike delete_topk_sql's pre-merge stats."""
    live = f"(SELECT * FROM documents WHERE doc_id % {mod} <> 0)"
    return f"""WITH {base_ctes(live)},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def delete_topk_sql(t1: str, t2: str, mod: int, k: int = 10) -> str:
    """Live-docs semantics oracle: docs with doc_id %% mod == 0 are
    deleted — excluded from results, but idf/avgdl/norms still computed
    over the FULL corpus (Lucene pre-merge delete behavior), so surviving
    docs score exactly as before the delete."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
WHERE doc_id % {mod} <> 0
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


OFFSETS_CTE = """u AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS ord
  FROM documents
),
off AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS position,
         CAST(COALESCE(sum(length(tok) + 1) OVER (
             PARTITION BY doc_id ORDER BY ord
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_off
  FROM u
)"""


def term_offsets_sql(term: str) -> str:
    """Offsets oracle: each occurrence's [start, end) char offsets equal
    the prefix sum of (token length + 1 separator) over the single-space
    corpus — exactly what the engine's offset streams store."""
    return f"""WITH {OFFSETS_CTE}
SELECT doc_id, CAST(position AS BIGINT) AS position,
       start_off,
       CAST(start_off + length(tok) AS BIGINT) AS end_off
FROM off WHERE tok = '{term}'
ORDER BY doc_id, position"""


def highlight_offsets_sql(term: str, window: int = 30) -> str:
    """OffsetSource.POSTINGS highlighter oracle: first occurrence per doc,
    ±window chars substring'd from the stored text."""
    return f"""WITH {OFFSETS_CTE},
hit AS (
  SELECT doc_id, start_off,
         CAST(start_off + length(tok) AS BIGINT) AS end_off,
         row_number() OVER (PARTITION BY doc_id ORDER BY position) AS rn
  FROM off WHERE tok = '{term}'
)
SELECT h.doc_id, h.start_off, h.end_off,
       substr(d.text, GREATEST(h.start_off + 1 - {window}, 1),
              (h.end_off - h.start_off) + {2 * window}) AS snippet
FROM hit h JOIN documents d ON d.doc_id = h.doc_id
WHERE rn = 1"""


def update_topk_sql(t1: str, t2: str, mod: int, offset: int,
                    k: int = 10) -> str:
    """updateDocument oracle: docs with doc_id %% mod == 0 were replaced —
    new copy has doubled text and docID doc_id + offset; the old copy is
    excluded from results but its tokens still feed idf/avgdl/docCount
    (pre-merge stats over old AND new copies, exactly the engine's
    batch-stat sum after delete + append)."""
    both = (
        f"(SELECT doc_id, text FROM documents "
        f"UNION ALL SELECT doc_id + {offset} AS doc_id, "
        f"text || ' ' || text AS text "
        f"FROM documents WHERE doc_id % {mod} = 0)"
    )
    return f"""WITH {base_ctes(both)},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)}
SELECT doc_id,
       CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
WHERE NOT (doc_id % {mod} = 0 AND doc_id < {offset})
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def delete_count_sql(term: str, mod: int) -> str:
    return f"""WITH {base_ctes()}
SELECT count(DISTINCT doc_id)::BIGINT AS n
FROM tf WHERE term = '{term}' AND doc_id % {mod} <> 0"""


def blockjoin_topk_sql(t1: str, t2: str, group: int, mode: str = "max",
                       k: int = 10) -> str:
    """ToParentBlockJoinQuery oracle: children scored by the (t1 OR t2)
    disjunction, rolled up to parent = doc_id // group with the ScoreMode
    aggregate (max is precision-free; total sums the f32 child scores in
    double and casts to float32 once — BlockJoinScorer's accumulation)."""
    if mode == "max":
        agg = "CAST(max(score) AS DOUBLE)"
    elif mode == "total":
        agg = "CAST(CAST(sum(score) AS FLOAT) AS DOUBLE)"
    else:
        raise ValueError(mode)
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)},
scored AS (
  SELECT doc_id, CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) GROUP BY doc_id
)
SELECT doc_id // {group} AS parent_id, {agg} AS score,
       count(*)::BIGINT AS n_children
FROM scored GROUP BY doc_id // {group}
ORDER BY score DESC, parent_id ASC LIMIT {k}"""


def term_in_set_topk_sql(terms: "list[str]", k: int = 10) -> str:
    """TermInSetQuery: constant-score 1.0 over docs containing ANY set
    member; deterministic (gid asc) page. The literal IN list exceeds the
    1024-clause boolean cap on purpose."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""WITH {base_ctes()}
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM (SELECT DISTINCT doc_id FROM tf WHERE term IN ({in_list}))
ORDER BY doc_id ASC LIMIT {k}"""


def term_in_set_count_sql(terms: "list[str]") -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""WITH {base_ctes()}
SELECT count(DISTINCT doc_id)::BIGINT AS n FROM tf WHERE term IN ({in_list})"""


def field_topk_sql(term: str, max_toks: int = 8, k: int = 10,
                   table: str = "documents") -> str:
    """BM25 top-k on a secondary field (``head`` = first ``max_toks``
    whitespace tokens of ``text``), scored with the FIELD's own docFreq,
    docCount, avgdl and norms — the per-field CollectionStatistics model
    (``core/index/FieldInfos.java``; BM25Similarity.computeWeight).
    ``table`` lets purge oracles score over the survivor corpus."""
    w = idf_sql(f"(SELECT doc_freq FROM htstats WHERE term = '{term}')",
                "(SELECT doc_count FROM hcstats)")
    avgdl = ("CAST((SELECT sum_ttf FROM hcstats) / "
             "CAST((SELECT doc_count FROM hcstats) AS DOUBLE) AS FLOAT)")
    cache = cache_sql("norm_tab.dec", avgdl)
    score = bm25_score_sql(w, "htf.freq", cache)
    return f"""WITH htoks AS (
  SELECT doc_id, tok AS term
  FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS ord
    FROM {table}
  )
  WHERE tok <> '' AND ord <= {max_toks} AND tok NOT IN ({STOPLIST_SQL})
),
hdl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS doc_len
  FROM {table} d LEFT JOIN htoks t ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
),
{NORM_TABLE_SQL},
hdn AS (
  SELECT hdl.doc_id, hdl.doc_len,
         (SELECT max(b) FROM norm_tab WHERE norm_tab.dec <= hdl.doc_len) AS norm_b
  FROM hdl
),
hcstats AS (
  SELECT sum(CASE WHEN doc_len > 0 THEN 1 ELSE 0 END)::BIGINT AS doc_count,
         sum(doc_len)::BIGINT AS sum_ttf
  FROM hdl
),
htf AS (
  SELECT term, doc_id, count(*)::BIGINT AS freq FROM htoks GROUP BY term, doc_id
),
htstats AS (
  SELECT term, count(*)::BIGINT AS doc_freq FROM htf GROUP BY term
)
SELECT htf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM htf
JOIN hdn ON hdn.doc_id = htf.doc_id
JOIN norm_tab ON norm_tab.b = hdn.norm_b
WHERE htf.term = '{term}'
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def combined_field_topk_sql(term: str, w_text: int, w_head: int,
                            max_toks: int = 8, k: int = 10) -> str:
    """CombinedFieldQuery twin (sandbox/.../CombinedFieldQuery.java,
    MultiNormsLeafSimScorer.java) over the two-field (text + head)
    index: pseudo docFreq = max over fields, pseudo docCount = max,
    pseudo sumTTF = weighted sum (exact for the integer weights this
    generator requires); per-doc freq = float32 chain of
    weight*field-freq in field order (head, text); per-doc norm byte
    re-encodes the float32 weighted sum of the fields' SmallFloat-
    decoded lengths via round + intToByte4."""
    assert float(w_text) == int(w_text) and float(w_head) == int(w_head), \
        "oracle requires integer field weights (exact float32 sums)"
    wt, wh = int(w_text), int(w_head)
    df_pseudo = (
        f"greatest(COALESCE((SELECT doc_freq FROM tstats "
        f"WHERE term = '{term}'), 0), "
        f"COALESCE((SELECT doc_freq FROM hts WHERE term = '{term}'), 0))"
    )
    dc_pseudo = ("greatest((SELECT doc_count FROM cstats), "
                 "(SELECT doc_count FROM hcst))")
    avgdl = (f"CAST(({wh} * (SELECT sum_ttf FROM hcst) + "
             f"{wt} * (SELECT sum_ttf FROM cstats)) / "
             f"CAST({dc_pseudo} AS DOUBLE) AS FLOAT)")
    weight = idf_sql(df_pseudo, dc_pseudo)
    # freq chain, fields sorted asc (head, text), each step float32
    f_h = _f4(f"{_f4(str(wh))} * COALESCE(htf.freq, 0)")
    f_t = _f4(f"{_f4(str(wt))} * COALESCE(tf.freq, 0)")
    cfreq = _f4(f"{f_h} + {f_t}")
    # norm chain: weighted decoded lengths, same field order
    n_h = _f4(f"{_f4(str(wh))} * {_f4('dech.dec')}")
    n_t = _f4(f"{_f4(str(wt))} * {_f4('dect.dec')}")
    nv = _f4(f"{n_h} + {n_t}")
    cache = cache_sql("nt.dec", avgdl)
    score = bm25_score_sql(weight, "n.cfreq", cache)
    return f"""WITH {base_ctes()},
htoks AS (SELECT doc_id, term FROM toks WHERE pos <= {max_toks - 1}),
hdl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS doc_len
  FROM documents d LEFT JOIN htoks t ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
),
hdn AS (
  SELECT hdl.doc_id,
         (SELECT max(b) FROM norm_tab WHERE norm_tab.dec <= hdl.doc_len)
           AS norm_b
  FROM hdl
),
hcst AS (
  SELECT sum(CASE WHEN doc_len > 0 THEN 1 ELSE 0 END)::BIGINT AS doc_count,
         sum(doc_len)::BIGINT AS sum_ttf
  FROM hdl
),
htf AS (
  SELECT term, doc_id, count(*)::BIGINT AS freq
  FROM htoks GROUP BY term, doc_id
),
hts AS (SELECT term, count(*)::BIGINT AS doc_freq FROM htf GROUP BY term),
combo AS (
  SELECT d.doc_id, {cfreq} AS cfreq, {nv} AS nv
  FROM documents d
  JOIN dn ON dn.doc_id = d.doc_id
  JOIN norm_tab dect ON dect.b = dn.norm_b
  JOIN hdn ON hdn.doc_id = d.doc_id
  JOIN norm_tab dech ON dech.b = hdn.norm_b
  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.term = '{term}'
  LEFT JOIN htf ON htf.doc_id = d.doc_id AND htf.term = '{term}'
),
normed AS (
  SELECT doc_id, cfreq,
         (SELECT max(b) FROM norm_tab
          WHERE dec <= CAST(floor(nv + CAST(0.5 AS FLOAT)) AS BIGINT))
           AS bc
  FROM combo WHERE cfreq > 0
)
SELECT n.doc_id, CAST({score} AS DOUBLE) AS score
FROM normed n JOIN norm_tab nt ON nt.b = n.bc
ORDER BY score DESC, n.doc_id ASC LIMIT {k}"""


def matchall_must_topk_sql(term: str, k: int = 10) -> str:
    """BooleanQuery with a MUST MatchAllDocsQuery scoring clause
    (BooleanQuery.rewrite keeps it; MatchAllDocsQuery.score() == 1.0):
    the term's match set, each double sum gaining 1.0 before the single
    float32 cast."""
    return f"""WITH {base_ctes()},{scored_term_cte('s', term)}
SELECT doc_id, CAST(CAST(score + 1.0 AS FLOAT) AS DOUBLE) AS score
FROM s ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def matchall_univ_topk_sql(term: str, k: int = 10) -> str:
    """'* NOT term': a required MatchAll makes the match set the whole
    corpus minus the excluded docs, every doc scoring exactly 1.0
    (gid-ascending ties)."""
    return f"""WITH {base_ctes()}
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{term}')
ORDER BY doc_id ASC LIMIT {k}"""


def term_postings_sql(term: str) -> str:
    return f"""WITH {base_ctes()}
SELECT doc_id, freq FROM tf WHERE term = '{term}' ORDER BY doc_id"""


def term_stats_sql() -> str:
    return f"""WITH {base_ctes()}
SELECT term, doc_freq, total_term_freq FROM tstats ORDER BY term"""


def doc_norms_sql() -> str:
    return f"""WITH {base_ctes()}
SELECT doc_id, doc_len, norm_b FROM dn ORDER BY doc_id"""


def phrase_match_sql(t1: str, t2: str) -> str:
    """Exact 2-term adjacent phrase: positions differ by 1 (pre-stop space)."""
    return f"""WITH {base_ctes()}
SELECT a.doc_id, count(*)::BIGINT AS freq
FROM toks a JOIN toks b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = '{t1}' AND b.term = '{t2}'
GROUP BY a.doc_id ORDER BY a.doc_id"""


def total_hits_or_sql(t1: str, t2: str) -> str:
    return f"""WITH {base_ctes()}
SELECT count(DISTINCT doc_id)::BIGINT AS n
FROM tf WHERE term IN ('{t1}', '{t2}')"""

# ------------------------------------------------------------------ payloads
#
# Payload-chain oracles (whitespace + DelimitedPayloadTokenFilter +
# lowercase, NO stop filter): the gate feeds the engine text where every
# non-empty token carries "|((pos + len(tok)) % 97 + 1)", so the oracle can
# recompute each occurrence's payload analytically from the ORIGINAL text
# while the engine must parse, store, merge and decode it.


def payload_ctes(table: str = "documents") -> str:
    """Self-contained CTEs for the payload chain: per-occurrence payloads,
    doc lengths WITHOUT stop removal, per-term stats, collection stats."""
    return f"""
ptoks AS (
  SELECT doc_id, tok AS term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS tok,
           generate_subscripts(string_split(text, ' '), 1) AS ord
    FROM {table}
  )
  WHERE tok <> ''
),
ppay AS (
  SELECT doc_id, term, pos,
         CAST((pos + length(term)) % 97 + 1 AS BIGINT) AS payload
  FROM ptoks
),
pdl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS doc_len
  FROM {table} d LEFT JOIN ptoks t ON d.doc_id = t.doc_id
  GROUP BY d.doc_id
),
{NORM_TABLE_SQL},
pdn AS (
  SELECT pdl.doc_id, pdl.doc_len,
         (SELECT max(b) FROM norm_tab WHERE norm_tab.dec <= pdl.doc_len) AS norm_b
  FROM pdl
),
pcstats AS (
  SELECT sum(CASE WHEN doc_len > 0 THEN 1 ELSE 0 END)::BIGINT AS doc_count,
         sum(doc_len)::BIGINT AS sum_ttf
  FROM pdl
),
ptf AS (
  SELECT term, doc_id, count(*)::BIGINT AS freq FROM ptoks GROUP BY term, doc_id
),
ptstats AS (
  SELECT term, count(*)::BIGINT AS doc_freq FROM ptf GROUP BY term
)"""


def term_payloads_sql(term: str) -> str:
    """Raw payload-stream oracle: each occurrence's (position, payload)."""
    return f"""WITH {payload_ctes()}
SELECT doc_id, CAST(pos AS BIGINT) AS position, payload
FROM ppay WHERE term = '{term}'
ORDER BY doc_id, position"""


P_AVGDL_SQL = (
    "CAST((SELECT sum_ttf FROM pcstats) / "
    "CAST((SELECT doc_count FROM pcstats) AS DOUBLE) AS FLOAT)"
)


def payload_topk_sql(term: str, func: str = "sum",
                     include_span_score: bool = True, k: int = 10) -> str:
    """PayloadScoreQuery oracle: per-doc payloadScore = func over occurrence
    payloads (float32 — sums of small ints are f32-exact), times the BM25
    span score (freq = span count) when include_span_score."""
    agg = {
        "sum": _f4("sum(payload)"),
        "max": _f4("max(payload)"),
        "min": _f4("min(payload)"),
        "avg": _f4(f"{_f4('sum(payload)')} / {_f4('count(*)')}"),
    }[func]
    w = idf_sql(
        f"(SELECT doc_freq FROM ptstats WHERE term = '{term}')",
        "(SELECT doc_count FROM pcstats)",
    )
    cache = cache_sql("norm_tab.dec", P_AVGDL_SQL)
    span = bm25_score_sql(w, "agg.freq", cache)
    score = _f4(f"{span} * agg.pay") if include_span_score else "agg.pay"
    return f"""WITH {payload_ctes()},
agg AS (
  SELECT doc_id, count(*)::BIGINT AS freq, {agg} AS pay
  FROM ppay WHERE term = '{term}' GROUP BY doc_id
)
SELECT agg.doc_id, CAST({score} AS DOUBLE) AS score
FROM agg
JOIN pdn ON pdn.doc_id = agg.doc_id
JOIN norm_tab ON norm_tab.b = pdn.norm_b
ORDER BY score DESC, agg.doc_id ASC LIMIT {k}"""


_PAY_OP_SQL = {"eq": "=", "lt": "<", "lte": "<=", "gt": ">", "gte": ">="}


def span_payload_topk_sql(term: str, payload: int, op: str = "eq",
                          k: int = 10) -> str:
    """SpanPayloadCheckQuery oracle, single-term span: freq = count of the
    term's occurrences whose payload matches under the MatchOperation;
    idf weight uses the term's FULL docFreq (SpanWeight.buildSimWeight —
    the payload filter never changes stats)."""
    w = idf_sql(
        f"(SELECT doc_freq FROM ptstats WHERE term = '{term}')",
        "(SELECT doc_count FROM pcstats)",
    )
    cache = cache_sql("norm_tab.dec", P_AVGDL_SQL)
    score = bm25_score_sql(w, "agg.freq", cache)
    cmp = _PAY_OP_SQL[op]
    return f"""WITH {payload_ctes()},
agg AS (
  SELECT doc_id, count(*)::BIGINT AS freq
  FROM ppay WHERE term = '{term}' AND payload {cmp} {payload}
  GROUP BY doc_id
)
SELECT agg.doc_id, CAST({score} AS DOUBLE) AS score
FROM agg
JOIN pdn ON pdn.doc_id = agg.doc_id
JOIN norm_tab ON norm_tab.b = pdn.norm_b
ORDER BY score DESC, agg.doc_id ASC LIMIT {k}"""


def span_payload_near_topk_sql(t1: str, t2: str, p1: int, p2: int,
                               op: str = "gte", k: int = 10) -> str:
    """SpanPayloadCheckQuery oracle over an adjacent ordered 2-term span
    (slop=0): for slop 0 the greedy NearSpansOrdered pick IS the token at
    pos+1, so the check reduces to an adjacency self-join with positionwise
    payload predicates; weight = float32 of the double idf sum over both
    terms' full docFreqs."""
    cmp = _PAY_OP_SQL[op]
    idfs = [
        "CAST("
        + idf_sql(
            f"(SELECT doc_freq FROM ptstats WHERE term = '{t}')",
            "(SELECT doc_count FROM pcstats)",
        )
        + " AS DOUBLE)"
        for t in (t1, t2)
    ]
    w = _f4(" + ".join(idfs))
    cache = cache_sql("norm_tab.dec", P_AVGDL_SQL)
    score = bm25_score_sql(w, "agg.freq", cache)
    return f"""WITH {payload_ctes()},
agg AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM ppay a
  JOIN ppay b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{t1}' AND b.term = '{t2}'
    AND a.payload {cmp} {p1} AND b.payload {cmp} {p2}
  GROUP BY a.doc_id
)
SELECT agg.doc_id, CAST({score} AS DOUBLE) AS score
FROM agg
JOIN pdn ON pdn.doc_id = agg.doc_id
JOIN norm_tab ON norm_tab.b = pdn.norm_b
ORDER BY score DESC, agg.doc_id ASC LIMIT {k}"""


# --------------------------------------------------- FILTER / custom sim


def filter_topk_sql(must_t: str, filter_t: str, k: int = 10) -> str:
    """BooleanClause.Occur.FILTER oracle: docs must contain both terms,
    score comes from the MUST term only (the filter is non-scoring)."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', must_t)}
SELECT s1.doc_id, s1.score
FROM s1
WHERE s1.doc_id IN (SELECT doc_id FROM tf WHERE term = '{filter_t}')
ORDER BY s1.score DESC, s1.doc_id ASC LIMIT {k}"""


def cached_filter_topk_sql(must_t: str, filter_terms: "tuple[str, ...]",
                           k: int = 10) -> str:
    """LRUQueryCache gate oracle: caching is transparent — the result is
    exactly a FILTER query (MUST term scores, docs must also contain any
    of the TermInSet filter's terms)."""
    inlist = ", ".join(f"'{t}'" for t in filter_terms)
    return f"""WITH {base_ctes()},{scored_term_cte('s1', must_t)}
SELECT s1.doc_id, s1.score
FROM s1
WHERE s1.doc_id IN (SELECT doc_id FROM tf WHERE term IN ({inlist}))
ORDER BY s1.score DESC, s1.doc_id ASC LIMIT {k}"""


def custom_sim_topk_sql(term: str, k1: float, b: float, k: int = 10) -> str:
    """BM25Similarity(k1, b) with non-default parameters
    (IndexSearcher.setSimilarity analog)."""
    return f"""WITH {base_ctes()},{scored_term_cte('s', term, k1=k1, b=b)}
SELECT doc_id, score FROM s
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def lm_dirichlet_topk_sql(term: str, mu: float = 2000.0, k: int = 10) -> str:
    """LMDirichletSimilarity term top-k — each op at the same point as
    functions/similarity.py LMDirichletSim, which mirrors
    LMDirichletSimilarity.java + LMSimilarity.DefaultCollectionModel:
      p     = f32( f32(ttf + 1) / f32(sttf + 2) )
      mu*p  = f32 multiply
      score = f32( max(0, ln(1 + freq / (mu*p))
                        + ln(mu / (decoded_len + mu))) )   [double logs]
    """
    ttf = f"(SELECT sum(freq) FROM tf WHERE term = '{term}')"
    sttf = "(SELECT sum_ttf FROM cstats)"
    p = _f4(f"{_f4(f'{ttf} + 1.0')} / {_f4(f'{sttf} + 2.0')}")
    mp = _f4(f"{mu} * {p}")
    score = (
        f"CAST(greatest(0.0, ln(1.0 + tf.freq / CAST({mp} AS DOUBLE)) "
        f"+ ln({mu} / (CAST(norm_tab.dec AS DOUBLE) + {mu}))) AS FLOAT)"
    )
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


def dfr_topk_sql(term: str, c: float = 1.0, k: int = 10) -> str:
    """DFRSimilarity(G, L, H2) term top-k — each op at the same point as
    functions/similarity.py DFRSim (DFRSimilarity.java + BasicModelG /
    AfterEffectL / NormalizationH2): all arithmetic DOUBLE, log2 spelled
    ln(x)/ln(2) (SimilarityBase.log2), one float cast on the final score:
      avgfl  = sttf / N;  tfn = freq * log2(1 + c * avgfl / decoded_len)
      F = ttf + 1;  lambda = F / (N + F)
      A = log2(lambda + 1);  B = log2((1 + lambda) / lambda)
      score  = f32( B - (B - A) / (1 + tfn) )   [boost 1, aeTimes1pTfn 1]
    """
    ttf = f"(SELECT sum(freq) FROM tf WHERE term = '{term}')"
    n = "(SELECT doc_count FROM cstats)"
    sttf = "(SELECT sum_ttf FROM cstats)"
    lam = f"(({ttf} + 1.0) / (CAST({n} AS DOUBLE) + {ttf} + 1.0))"
    a = f"(ln({lam} + 1.0) / ln(2.0))"
    b = f"(ln((1.0 + {lam}) / {lam}) / ln(2.0))"
    avgfl = f"(CAST({sttf} AS DOUBLE) / CAST({n} AS DOUBLE))"
    tfn = (
        f"(CAST(tf.freq AS DOUBLE) * "
        f"(ln(1.0 + {float(c)!r} * {avgfl} / CAST(norm_tab.dec AS DOUBLE))"
        f" / ln(2.0)))"
    )
    score = f"CAST({b} - ({b} - {a}) / (1.0 + {tfn}) AS FLOAT)"
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


def dfr_config_topk_sql(term: str, basic_model: str, after_effect: str,
                        normalization: str, c: float = 1.0,
                        z: float = 0.30, k: int = 10) -> str:
    """DFRSimilarity for any (BasicModel, AfterEffect, Normalization)
    combination with H1/H2/Z normalizations (H3 mixes float32 division
    the SQL twin cannot double-round-safely reproduce — pytest covers it)
    — op points per functions/similarity.DFRSim."""
    import numpy as np

    ttf = f"(SELECT sum(freq) FROM tf WHERE term = '{term}')"
    dfq = f"(SELECT count(*) FROM tf WHERE term = '{term}')"
    n = "(SELECT doc_count FROM cstats)"
    sttf = "(SELECT sum_ttf FROM cstats)"
    avgfl = f"(CAST({sttf} AS DOUBLE) / CAST({n} AS DOUBLE))"
    dl = "CAST(norm_tab.dec AS DOUBLE)"
    tf = "CAST(tf.freq AS DOUBLE)"
    c32 = float(np.float32(c))
    z32 = float(np.float32(z))
    if normalization == "H1":
        tfn = f"({tf} * {c32!r} * ({avgfl} / {dl}))"
    elif normalization == "H2":
        tfn = f"({tf} * (ln(1.0 + {c32!r} * {avgfl} / {dl}) / ln(2.0)))"
    elif normalization == "Z":
        tfn = f"({tf} * POWER({avgfl} / {dl}, {z32!r}))"
    else:
        raise ValueError(f"no SQL twin for normalization {normalization!r}")
    ae = (
        "1.0" if after_effect == "L"
        else f"((CAST({ttf} + 1 AS DOUBLE) + 1.0) / CAST({dfq} + 1 AS DOUBLE))"
    )
    if basic_model == "G":
        lam = f"(({ttf} + 1.0) / (CAST({n} AS DOUBLE) + {ttf} + 1.0))"
        a = f"(ln({lam} + 1.0) / ln(2.0))"
        b = f"(ln((1.0 + {lam}) / {lam}) / ln(2.0))"
        base = f"(({b} - ({b} - {a}) / (1.0 + {tfn})) * {ae})"
    else:
        if basic_model == "IF":
            a = (f"(ln(1.0 + ({n} + 1) / ({ttf} + 0.5)) / ln(2.0))")
        elif basic_model == "In":
            a = f"(ln(({n} + 1) / ({dfq} + 0.5)) / ln(2.0))"
        elif basic_model == "Ine":
            ne = (f"(CAST({n} AS DOUBLE) * (1.0 - POWER("
                  f"(CAST({n} AS DOUBLE) - 1.0) / CAST({n} AS DOUBLE), "
                  f"CAST({ttf} AS DOUBLE))))")
            a = f"(ln(({n} + 1) / ({ne} + 0.5)) / ln(2.0))"
        else:
            raise ValueError(f"unknown basic model {basic_model!r}")
        base = f"({a} * {ae} * (1.0 - 1.0 / (1.0 + {tfn})))"
    score = f"CAST({base} AS FLOAT)"
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


def ib_config_topk_sql(term: str, distribution: str, lambda_of: str,
                       normalization: str, c: float = 1.0,
                       z: float = 0.30, k: int = 10) -> str:
    """IBSimilarity for any (Distribution, Lambda, Normalization with
    H1/H2/Z) combination — op points per functions/similarity.IBSim
    (lambda = f32 of a double division on both sides, so CAST AS FLOAT
    is bit-faithful; the SPL rounding guards cannot fire at gate scale)."""
    import numpy as np

    ttf = f"(SELECT sum(freq) FROM tf WHERE term = '{term}')"
    dfq = f"(SELECT count(*) FROM tf WHERE term = '{term}')"
    n = "(SELECT doc_count FROM cstats)"
    sttf = "(SELECT sum_ttf FROM cstats)"
    avgfl = f"(CAST({sttf} AS DOUBLE) / CAST({n} AS DOUBLE))"
    dl = "CAST(norm_tab.dec AS DOUBLE)"
    tf = "CAST(tf.freq AS DOUBLE)"
    c32 = float(np.float32(c))
    z32 = float(np.float32(z))
    if normalization == "H1":
        tfn = f"({tf} * {c32!r} * ({avgfl} / {dl}))"
    elif normalization == "H2":
        tfn = f"({tf} * (ln(1.0 + {c32!r} * {avgfl} / {dl}) / ln(2.0)))"
    elif normalization == "Z":
        tfn = f"({tf} * POWER({avgfl} / {dl}, {z32!r}))"
    else:
        raise ValueError(f"no SQL twin for normalization {normalization!r}")
    num = ttf if lambda_of == "TTF" else dfq
    lam = (f"CAST(CAST(({num} + 1.0) / (CAST({n} AS DOUBLE) + 1.0) AS FLOAT)"
           " AS DOUBLE)")
    if distribution == "LL":
        base = f"(-ln({lam} / ({tfn} + {lam})))"
    elif distribution == "SPL":
        q = f"(1.0 - 1.0 / ({tfn} + 1.0))"
        powv = f"POWER({lam}, {q})"
        base = f"(-(ln(({powv} - {lam}) / (1.0 - {lam})) / ln(2.0)))"
    else:
        raise ValueError(f"unknown distribution {distribution!r}")
    score = f"CAST({base} AS FLOAT)"
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


def function_score_topk_sql(term: str, value: str = "log1p_len",
                            k: int = 10) -> str:
    """FunctionScoreQuery.boostByValue oracle: the child's float32 BM25
    score times a DOUBLE per-doc value (ln(1+decoded_len) or
    1/(1+decoded_len)), one float cast on the product."""
    factor = {
        "log1p_len": "ln(1.0 + CAST(norm_tab.dec AS DOUBLE))",
        "inv_len": "1.0 / (1.0 + CAST(norm_tab.dec AS DOUBLE))",
    }[value]
    return f"""WITH {base_ctes()},{scored_term_cte('s1', term)}
SELECT s1.doc_id, CAST(CAST({factor} * s1.score AS FLOAT) AS DOUBLE) AS score
FROM s1
JOIN dn ON dn.doc_id = s1.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
ORDER BY score DESC, s1.doc_id ASC LIMIT {k}"""


def lm_jm_topk_sql(term: str, lam: float = 0.1, k: int = 10) -> str:
    """LMJelinekMercerSimilarity term top-k — op points as in
    functions/similarity.py LMJelinekMercerSim:
      p     = f32( f32(ttf+1) / f32(sttf+2) ); aux = f32(lambda * p)
      score = f32( ln(1 + (f32(1-lambda) * freq / decoded_len) / aux) )
    """
    ttf = f"(SELECT sum(freq) FROM tf WHERE term = '{term}')"
    sttf = "(SELECT sum_ttf FROM cstats)"
    p = _f4(f"{_f4(f'{ttf} + 1.0')} / {_f4(f'{sttf} + 2.0')}")
    aux = _f4(f"{lam} * {p}")
    one_minus = _f4(f"1.0 - {lam}")
    score = (
        f"CAST(ln(1.0 + (CAST({one_minus} AS DOUBLE) * tf.freq "
        f"/ CAST(norm_tab.dec AS DOUBLE)) / CAST({aux} AS DOUBLE)) AS FLOAT)"
    )
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


def explain_classic_sql(term: str) -> str:
    """ClassicSimilarity Explanation oracle — the TFIDFScorer.explainScore
    tree (TFIDFSimilarity.java:430-540) flattened to (component, value)
    rows for the term query's own top-1 hit, every value at the scoring
    float32 points."""
    df = f"(SELECT doc_freq FROM tstats WHERE term = '{term}')"
    w = _f4(f"ln(({N_SQL} + 1) / CAST({df} + 1 AS DOUBLE)) + 1.0")
    norm = _f4(f"{_f4('1.0')} / {_f4('sqrt(CAST((SELECT dec FROM v) AS DOUBLE))')}")
    tf = _f4("sqrt(CAST((SELECT freq FROM v) AS DOUBLE))")
    score = _f4(f"{_f4(f'{tf} * {w}')} * {norm}")
    rows = [
        ("docFreq, number of documents containing term",
         f"CAST({df} AS DOUBLE)"),
        ("docCount, total number of documents with field",
         f"CAST({N_SQL} AS DOUBLE)"),
        ("idf(docFreq, docCount)", f"CAST({w} AS DOUBLE)"),
        ("freq, occurrences of term within document",
         "CAST((SELECT freq FROM v) AS DOUBLE)"),
        ("tf(freq), computed as sqrt(freq)", f"CAST({tf} AS DOUBLE)"),
        ("fieldNorm", f"CAST({norm} AS DOUBLE)"),
        ("score", f"CAST({score} AS DOUBLE)"),
    ]
    selects = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS component, {expr} AS value" for name, expr in rows
    )
    norm_s = _f4(f"{_f4('1.0')} / {_f4('sqrt(CAST(norm_tab.dec AS DOUBLE))')}")
    tf_s = _f4("sqrt(CAST(tf.freq AS DOUBLE))")
    score_s = _f4(f"{_f4(f'{tf_s} * {w}')} * {norm_s}")
    return f"""WITH {base_ctes()},
s AS (
  SELECT tf.doc_id, CAST({score_s} AS DOUBLE) AS score
  FROM tf
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE tf.term = '{term}'
),
top1 AS (SELECT doc_id FROM s ORDER BY score DESC, doc_id ASC LIMIT 1),
v AS (
  SELECT tf.freq AS freq, norm_tab.dec AS dec
  FROM tf
  JOIN top1 ON tf.doc_id = top1.doc_id
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE tf.term = '{term}'
)
{selects}"""


def explain_lm_dirichlet_sql(term: str, mu: float = 2000.0) -> str:
    """LMDirichletSimilarity Explanation oracle — the tree of
    LMDirichletSimilarity.explain (LMDirichletSimilarity.java:79-105)
    plus LMSimilarity's collection-probability leaf
    (LMSimilarity.java:77-107), flattened for the top-1 hit."""
    ttf = f"(SELECT sum(freq) FROM tf WHERE term = '{term}')"
    sttf = "(SELECT sum_ttf FROM cstats)"
    p = _f4(f"{_f4(f'{ttf} + 1.0')} / {_f4(f'{sttf} + 2.0')}")
    mp = _f4(f"{mu} * {p}")
    a = f"ln(1.0 + (SELECT freq FROM v) / CAST({mp} AS DOUBLE))"
    b = f"ln({mu} / (CAST((SELECT dec FROM v) AS DOUBLE) + {mu}))"
    rows = [
        ("mu", f"CAST({float(mu)} AS DOUBLE)"),
        ("freq, number of occurrences of term in the document",
         "CAST((SELECT freq FROM v) AS DOUBLE)"),
        ("P, probability that the current term is generated by the "
         "collection", f"CAST({p} AS DOUBLE)"),
        ("term weight, computed as log(1 + freq /(mu * P))",
         f"CAST({_f4(a)} AS DOUBLE)"),
        ("document norm, computed as log(mu / (dl + mu))",
         f"CAST({_f4(b)} AS DOUBLE)"),
        ("dl, length of field",
         "CAST(CAST((SELECT dec FROM v) AS FLOAT) AS DOUBLE)"),
        ("collection probability", f"CAST({p} AS DOUBLE)"),
        ("score",
         f"CAST({_f4(f'greatest({a} + {b}, 0.0)')} AS DOUBLE)"),
    ]
    selects = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS component, {expr} AS value" for name, expr in rows
    )
    score_s = (
        f"CAST(greatest(0.0, ln(1.0 + tf.freq / CAST({mp} AS DOUBLE)) "
        f"+ ln({mu} / (CAST(norm_tab.dec AS DOUBLE) + {mu}))) AS FLOAT)"
    )
    return f"""WITH {base_ctes()},
s AS (
  SELECT tf.doc_id, CAST({score_s} AS DOUBLE) AS score
  FROM tf
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE tf.term = '{term}'
),
top1 AS (SELECT doc_id FROM s ORDER BY score DESC, doc_id ASC LIMIT 1),
v AS (
  SELECT tf.freq AS freq, norm_tab.dec AS dec
  FROM tf
  JOIN top1 ON tf.doc_id = top1.doc_id
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE tf.term = '{term}'
)
{selects}"""


def lm_dirichlet_phrase_topk_sql(t1: str, t2: str, mu: float = 2000.0,
                                 k: int = 10) -> str:
    """Exact 2-term phrase under LMDirichletSimilarity — the
    SimilarityBase composite fold (PhraseWeight.java:56-60 binds the
    searcher's similarity; SimilarityBase.scorer builds one BasicSimScorer
    per TermStatistics; MultiSimilarity.MultiSimScorer sums them at the
    SHARED phrase freq as a float32 running sum):
      freq  = #adjacent (pos+1) occurrence pairs (pre-stop positions)
      aux_i = f32( mu * f32( f32(ttf_i + 1) / f32(sttf + 2) ) )
      s_i   = f32( max(0, ln(1 + freq / aux_i) + ln(mu / (dec + mu))) )
      score = f32(s_1 + s_2)   [running float32 sum]
    """
    sttf = "(SELECT sum_ttf FROM cstats)"

    def term_score(t: str) -> str:
        ttf = f"(SELECT sum(freq) FROM tf WHERE term = '{t}')"
        p = _f4(f"{_f4(f'{ttf} + 1.0')} / {_f4(f'{sttf} + 2.0')}")
        mp = _f4(f"{mu} * {p}")
        return (
            f"CAST(greatest(0.0, ln(1.0 + pf.freq / CAST({mp} AS DOUBLE)) "
            f"+ ln({mu} / (CAST(norm_tab.dec AS DOUBLE) + {mu}))) AS FLOAT)"
        )

    s1, s2 = term_score(t1), term_score(t2)
    score = _f4(f"CAST({s1} AS DOUBLE) + CAST({s2} AS DOUBLE)")
    return f"""WITH {base_ctes()},
pf AS (
  SELECT a.doc_id, count(*)::BIGINT AS freq
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = '{t1}' AND b.term = '{t2}'
  GROUP BY a.doc_id
)
SELECT pf.doc_id, CAST({score} AS DOUBLE) AS score
FROM pf
JOIN dn ON dn.doc_id = pf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
ORDER BY score DESC, pf.doc_id ASC LIMIT {k}"""


def lm_jm_synonym_topk_sql(t1: str, t2: str, lam: float = 0.1,
                           k: int = 10) -> str:
    """SynonymQuery under LMJelinekMercerSimilarity — one pseudo-term
    scorer over blended stats (SynonymQuery.java:205-222: df = max member
    doc_freq, ttf = Σ member ttf) at freq = Σ member freqs:
      aux   = f32( λ * f32( f32(Σttf + 1) / f32(sttf + 2) ) )
      score = f32( ln(1 + (f32(1-λ) * freq / dec) / aux) )
    """
    ttf = (
        f"(SELECT sum(total_term_freq) FROM tstats "
        f"WHERE term IN ('{t1}', '{t2}'))"
    )
    sttf = "(SELECT sum_ttf FROM cstats)"
    p = _f4(f"{_f4(f'{ttf} + 1.0')} / {_f4(f'{sttf} + 2.0')}")
    aux = _f4(f"{lam} * {p}")
    one_minus = _f4(f"1.0 - {lam}")
    score = (
        f"CAST(ln(1.0 + (CAST({one_minus} AS DOUBLE) * sf.f "
        f"/ CAST(norm_tab.dec AS DOUBLE)) / CAST({aux} AS DOUBLE)) AS FLOAT)"
    )
    return f"""WITH {base_ctes()},
sf AS (
  SELECT doc_id, sum(freq)::BIGINT AS f
  FROM tf WHERE term IN ('{t1}', '{t2}') GROUP BY doc_id
)
SELECT sf.doc_id AS doc_id, CAST({score} AS DOUBLE) AS score
FROM sf
JOIN dn ON dn.doc_id = sf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def boolean_sim_topk_sql(term: str, k: int = 10) -> str:
    """BooleanSimilarity term top-k: every hit scores exactly the boost
    (1.0 here) — ties broken by ascending docID."""
    return f"""WITH {base_ctes()}
SELECT doc_id, CAST(CAST(1.0 AS FLOAT) AS DOUBLE) AS score
FROM tf WHERE term = '{term}'
ORDER BY doc_id ASC LIMIT {k}"""


def classic_sim_topk_sql(term: str, k: int = 10) -> str:
    """ClassicSimilarity (TFIDFSimilarity) term top-k — each float32 op at
    the same point as functions/similarity.py ClassicSim, which mirrors
    ClassicSimilarity.java / TFIDFSimilarity.java:
      idf   = f32( ln((N+1) / (double)(df+1)) + 1.0 )
      norm  = f32( 1f / f32(sqrt(decoded_length)) )   [dec >= 1 for any hit]
      tf    = f32( sqrt((double) freq) )
      score = f32( f32(tf * idf) * norm )
    """
    df = f"(SELECT doc_freq FROM tstats WHERE term = '{term}')"
    w = _f4(f"ln(({N_SQL} + 1) / CAST({df} + 1 AS DOUBLE)) + 1.0")
    norm = _f4(f"{_f4('1.0')} / {_f4('sqrt(CAST(norm_tab.dec AS DOUBLE))')}")
    tf = _f4("sqrt(CAST(tf.freq AS DOUBLE))")
    score = _f4(f"{_f4(f'{tf} * {w}')} * {norm}")
    return f"""WITH {base_ctes()},
s AS (
  SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
  FROM tf
  JOIN dn ON dn.doc_id = tf.doc_id
  JOIN norm_tab ON norm_tab.b = dn.norm_b
  WHERE tf.term = '{term}'
)
SELECT doc_id, score FROM s
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def dfi_topk_sql(term: str, independence: str = "standardized",
                 k: int = 10) -> str:
    """DFISimilarity(independence) term top-k — op points as in
    functions/similarity.py DFISim (DFISimilarity.java:58-70): all
    double, one float cast on the score:
      expected = (F + 1) * decoded_len / (T + 1)
      measure  = standardized (f-e)/sqrt(e) | chisquared (f-e)^2/e
               | saturated (f-e)/e
      score    = 0 when freq <= expected else f32(log2(measure + 1))
    """
    ttf = f"(SELECT sum(freq) FROM tf WHERE term = '{term}')"
    sttf = "(SELECT sum_ttf FROM cstats)"
    e = (
        f"((CAST({ttf} AS DOUBLE) + 1.0) * CAST(norm_tab.dec AS DOUBLE)"
        f" / (CAST({sttf} AS DOUBLE) + 1.0))"
    )
    f = "CAST(tf.freq AS DOUBLE)"
    m = {
        "standardized": f"(({f} - {e}) / sqrt({e}))",
        "chisquared": f"(({f} - {e}) * ({f} - {e}) / {e})",
        "saturated": f"(({f} - {e}) / {e})",
    }[independence]
    score = (
        f"CAST(CASE WHEN {f} <= {e} THEN 0.0 "
        f"ELSE ln({m} + 1.0) / ln(2.0) END AS FLOAT)"
    )
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


def axiomatic_topk_sql(term: str, s: float = 0.25, kp: float = 0.35,
                       k: int = 10, variant: str = "exp") -> str:
    """AxiomaticF2EXP(s, k) / AxiomaticF2LOG(s) term top-k — op points as
    in functions/similarity.py AxiomaticF2EXPSim / AxiomaticF2LOGSim
    (Axiomatic.java:95-106 + AxiomaticF2EXP.java:58-83 /
    AxiomaticF2LOG.java:49-75): all double, one float cast:
      tfln  = freq / (freq + s + s * decoded_len / avgdl)
      idf   = pow((N + 1) / n, k)  |  ln((N + 1) / n)   [exp | log]
      score = f32(max(0, tfln * idf))
    """
    df = f"(SELECT doc_freq FROM tstats WHERE term = '{term}')"
    n = "(SELECT doc_count FROM cstats)"
    sttf = "(SELECT sum_ttf FROM cstats)"
    avgdl = f"(CAST({sttf} AS DOUBLE) / CAST({n} AS DOUBLE))"
    if variant == "exp":
        idf = (
            f"pow((CAST({n} AS DOUBLE) + 1.0) / CAST({df} AS DOUBLE), "
            f"{float(kp)!r})"
        )
    else:
        idf = f"ln((CAST({n} AS DOUBLE) + 1.0) / CAST({df} AS DOUBLE))"
    f = "CAST(tf.freq AS DOUBLE)"
    tfln = (
        f"({f} / ({f} + {float(s)!r} + {float(s)!r} * "
        f"CAST(norm_tab.dec AS DOUBLE) / {avgdl}))"
    )
    score = f"CAST(greatest({tfln} * {idf}, 0.0) AS FLOAT)"
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


def axiomatic_f13_topk_sql(term: str, family: str, s: float = 0.25,
                           kp: float = 0.35, query_len: int = 1,
                           k: int = 10) -> str:
    """AxiomaticF1EXP/F1LOG/F3EXP/F3LOG term top-k — op points as in
    functions/similarity.py (Axiomatic.java:95-106 combination):
      tf    = 1 + ln(1 + ln(freq + 1))                  [all double]
      F1:   ln = (avgdl + s) / (avgdl + dl * s); gamma = 0
      F3:   ln = 1; gamma = (((dl - queryLen) * s) * queryLen) / avgdl
      idf   = pow((N+1)/n, k) [exp] | ln((N+1)/n) [log]
      score = f32(max(0, tf * ln * idf - gamma))
    """
    assert family in ("f1exp", "f1log", "f3exp", "f3log")
    df = f"(SELECT doc_freq FROM tstats WHERE term = '{term}')"
    n = "(SELECT doc_count FROM cstats)"
    sttf = "(SELECT sum_ttf FROM cstats)"
    avgdl = f"(CAST({sttf} AS DOUBLE) / CAST({n} AS DOUBLE))"
    if family.endswith("exp"):
        idf = (f"pow((CAST({n} AS DOUBLE) + 1.0) / CAST({df} AS DOUBLE), "
               f"{float(kp)!r})")
    else:
        idf = f"ln((CAST({n} AS DOUBLE) + 1.0) / CAST({df} AS DOUBLE))"
    dl = "CAST(norm_tab.dec AS DOUBLE)"
    tf = "(1.0 + ln(1.0 + ln(CAST(tf.freq AS DOUBLE) + 1.0)))"
    if family.startswith("f1"):
        ln_c = f"(({avgdl} + {float(s)!r}) / ({avgdl} + {dl} * {float(s)!r}))"
        body = f"{tf} * {ln_c} * {idf}"
    else:
        ql = float(query_len)
        gamma = f"(((({dl} - {ql!r}) * {float(s)!r}) * {ql!r}) / {avgdl})"
        body = f"{tf} * {idf} - {gamma}"
    score = f"CAST(greatest({body}, 0.0) AS FLOAT)"
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


def ib_topk_sql(term: str, c: float = 1.0, k: int = 10) -> str:
    """IBSimilarity(LL, D, H2) term top-k — same op points as
    functions/similarity.py IBSim (IBSimilarity.java + DistributionLL /
    LambdaDF / NormalizationH2): lambda is LambdaDF's FLOAT
    (n+1)/(N+1), everything else double, one float cast on the score."""
    df = f"(SELECT doc_freq FROM tstats WHERE term = '{term}')"
    n = "(SELECT doc_count FROM cstats)"
    sttf = "(SELECT sum_ttf FROM cstats)"
    lam = _f4(f"({df} + 1.0) / (CAST({n} AS DOUBLE) + 1.0)")
    avgfl = f"(CAST({sttf} AS DOUBLE) / CAST({n} AS DOUBLE))"
    tfn = (
        f"(CAST(tf.freq AS DOUBLE) * "
        f"(ln(1.0 + {float(c)!r} * {avgfl} / CAST(norm_tab.dec AS DOUBLE))"
        f" / ln(2.0)))"
    )
    score = (
        f"CAST(-ln(CAST({lam} AS DOUBLE) / ({tfn} + CAST({lam} AS DOUBLE)))"
        f" AS FLOAT)"
    )
    return f"""WITH {base_ctes()}
SELECT tf.doc_id, CAST({score} AS DOUBLE) AS score
FROM tf
JOIN dn ON dn.doc_id = tf.doc_id
JOIN norm_tab ON norm_tab.b = dn.norm_b
WHERE tf.term = '{term}'
ORDER BY score DESC, tf.doc_id ASC LIMIT {k}"""


# ------------------------------------------------------------------ monitor


def _monitor_set_sqls(phrase: "tuple[str, str]",
                      sloppy_slop: int) -> "dict[str, str]":
    """Per-query match-set SELECTs (distinct doc_id) for the fixed Monitor
    gate registry — each reproduces one registered query's semantics over
    the ``toks`` CTE. Keys are the registered query_ids."""
    t_hot, t_mid, t_b = "merge", "window", "scan"
    p0, p1 = phrase
    term = lambda t: f"SELECT DISTINCT doc_id FROM toks WHERE term = '{t}'"
    sets = {
        "m_term": term(t_hot),
        "m_and": f"({term(t_hot)}) INTERSECT ({term(t_mid)})",
        "m_or": f"({term(t_b)}) UNION ({term(t_mid)})",
        "m_not": f"({term(t_hot)}) EXCEPT ({term(t_mid)})",
        "m_phrase": f"""
            SELECT DISTINCT a.doc_id FROM toks a
            JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                        AND b.term = '{p1}'
            WHERE a.term = '{p0}'""",
        "m_sloppy": "SELECT doc_id FROM sfreq",
        "m_msm": f"""
            SELECT doc_id FROM (
              SELECT doc_id, count(DISTINCT term) AS c FROM toks
              WHERE term IN ('{t_hot}', '{t_mid}', '{t_b}') GROUP BY doc_id
            ) WHERE c >= 2""",
        "m_nested": f"""
            (({term(t_hot)}) UNION ({term(t_mid)}))
            INTERSECT (({term(t_b)}) UNION ({term('batch')}))
            EXCEPT ({term('slow')})""",
    }
    return sets


def monitor_match_sql(phrase: "tuple[str, str]", sloppy_slop: int) -> str:
    """Per-registered-query aggregate of the Monitor match set:
    (query_id, n_matches, sum_doc) — the MatchingQueries roll-up."""
    sets = _monitor_set_sqls(phrase, sloppy_slop)
    parts = " UNION ALL ".join(
        f"SELECT '{qid}' AS query_id, count(*)::BIGINT AS n_matches, "
        f"COALESCE(sum(doc_id), 0)::BIGINT AS sum_doc FROM ({s})"
        for qid, s in sets.items()
    )
    sl = sloppy_sim_cte(list(phrase), [0, 1], sloppy_slop)
    return (f"WITH RECURSIVE {base_ctes()},{sl}\n{parts}"
            f"\nORDER BY query_id")


def monitor_pairs_sql(phrase: "tuple[str, str]", sloppy_slop: int,
                      max_doc: int) -> str:
    """Pair-level Monitor oracle: every (query_id, doc_id) match with
    doc_id < max_doc, ordered."""
    sets = _monitor_set_sqls(phrase, sloppy_slop)
    parts = " UNION ALL ".join(
        f"SELECT '{qid}' AS query_id, doc_id FROM ({s}) "
        f"WHERE doc_id < {max_doc}"
        for qid, s in sets.items()
    )
    sl = sloppy_sim_cte(list(phrase), [0, 1], sloppy_slop)
    return (f"WITH RECURSIVE {base_ctes()},{sl}\n{parts}"
            f"\nORDER BY query_id, doc_id")


# ----------------------------------------------------------- english chain


def porter_stems_sql(term_map: "dict[str, str]") -> str:
    """(term, stem) for every distinct post-stop corpus token; the stems of
    the changed words are the pinned hand-verified mapping, everything
    else is its own stem at this vocabulary."""
    cases = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(term_map.items())
    )
    return f"""WITH {base_ctes()}
SELECT term, CASE term {cases} ELSE term END AS stem
FROM (SELECT DISTINCT term FROM toks)
ORDER BY term"""


def ascii_fold_sql(synth_from: str, synth_to: str) -> str:
    """Accent-fold oracle: synthesize accents with the same translate the
    Spark side uses, fold back with DuckDB's ICU-backed strip_accents."""
    return f"""
SELECT doc_id,
       strip_accents(translate(text, '{synth_from}', '{synth_to}')) AS folded
FROM documents ORDER BY doc_id"""


def simple_mixed_topk_sql(t1: str, t2: str, t3: str, k: int = 10) -> str:
    """SimpleQueryParser right-to-left precedence: ``t1 + t2 | t3``
    parses to SHOULD(MUST(t1, t2), t3) (SimpleQueryParser.java:460-472 —
    the operator change wraps the AND pair as one clause). Inner MUST
    sums the two float32 term scores in double with ONE float32 cast;
    the outer SHOULD sums its matching clauses the same way."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', t1)},{scored_term_cte('s2', t2)},{scored_term_cte('s3', t3)},
sand AS (
  SELECT s1.doc_id, CAST(CAST(s1.score + s2.score AS FLOAT) AS DOUBLE) AS score
  FROM s1 JOIN s2 ON s1.doc_id = s2.doc_id
)
SELECT doc_id, CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM (SELECT * FROM sand UNION ALL SELECT * FROM s3)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def simple_must_not_topk_sql(must_t: str, not_t: str, k: int = 10) -> str:
    """SimpleQueryParser ``a + -b``: MUST(a, BQ[MUST_NOT b, SHOULD
    MatchAll]) — the negation wrapper as a REQUIRED clause. Docs must
    contain ``must_t``, must not contain ``not_t``, and the wrapper's
    MatchAll contributes a float32 1.0 inside the double sum
    (SimpleQueryParser.java:441-448 + BooleanWeight conjunction)."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', must_t)}
SELECT doc_id, CAST(CAST(score + 1.0 AS FLOAT) AS DOUBLE) AS score
FROM s1
WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{not_t}')
ORDER BY score DESC, doc_id ASC LIMIT {k}"""


def simple_not_topk_sql(not_t: str, should_t: str, k: int = 10) -> str:
    """SimpleQueryParser negation: ``-a b`` (default operator OR) parses
    to SHOULD(BQ[MUST_NOT a, SHOULD MatchAll], b) — buildQueryTree's
    negation wrapper (SimpleQueryParser.java:441-448). The wrapper
    matches every doc without ``not_t`` at score 1.0
    (MatchAllDocsQuery.score()); the outer SHOULD adds ``should_t``'s
    BM25 score where it matches, double sum, one float32 cast."""
    return f"""WITH {base_ctes()},{scored_term_cte('s1', should_t)}
SELECT doc_id, CAST(CAST(sum(score) AS FLOAT) AS DOUBLE) AS score
FROM (
  SELECT doc_id, 1.0 AS score FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM tf WHERE term = '{not_t}')
  UNION ALL SELECT doc_id, score FROM s1
)
GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}"""
