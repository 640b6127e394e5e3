"""BM25 scoring — brute-force DataFrame path (the permanent oracle).

The reference delegates BM25 to Elasticsearch 7.x (default similarity;
it never overrides `similarity` in its generated mappings,
`/root/reference/src/search-ingest/schemas.cr:61-82`), i.e. Lucene BM25
with k1=1.2, b=0.75:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(t,d)= tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score   = Σ_t idf(t) * tfn(t,d)

This module expresses the whole computation as Catalyst-optimized
DataFrame ops: tokenize (Arrow batch, doc-local tf/dl → NO shuffle) →
filter to query terms (pushed ahead of every aggregation) → df counts →
score expression → global top-k.  The only shuffles are the per-term df
count (tiny: |query terms| groups, map-side combined) and the final
top-k (TakeOrderedAndProject — no full sort).

It is deliberately index-free: it IS the correctness oracle the
compressed WAND fast path (query/wand.py) must match rank-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from search_ingest_spark.analysis import analyze, doc_terms_pandas

K1 = 1.2
B = 0.75

TOKENS_SCHEMA = "doc_id long, term string, tf int, dl int"


def doc_terms(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "standard",
) -> DataFrame:
    """(doc_id, term, tf, dl) — fully aggregated per doc with zero shuffle
    (tf and dl are doc-local; see analysis.doc_terms_pandas)."""
    sub = docs.select(id_col, text_col)
    return sub.mapInPandas(
        lambda it: doc_terms_pandas(it, id_col=id_col, text_col=text_col, mode=mode),
        schema=TOKENS_SCHEMA,
    )


def idf_expr(df_col: Column, n_docs: Column | int) -> Column:
    n = F.lit(n_docs) if isinstance(n_docs, int) else n_docs
    return F.log(1.0 + (n - df_col + 0.5) / (df_col + 0.5))


def tf_norm_expr(tf_col: Column, dl_col: Column, avgdl: Column, k1: float = K1, b: float = B) -> Column:
    return tf_col * (k1 + 1.0) / (tf_col + k1 * (1.0 - b + b * dl_col / avgdl))


def analyze_query(query_text: str, mode: str = "standard") -> list[str]:
    """Query-time analysis — SAME analyzer as index time (the reference
    applies one analyzer to both sides, schemas.cr:62-77)."""
    if mode == "simple":
        import re

        return re.findall(r"[a-z0-9]+", query_text.lower())
    return analyze(query_text)[0]


def bm25_brute_force(
    docs: DataFrame,
    query_text: str,
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "standard",
    tokens: DataFrame | None = None,
    round_to: int | None = None,
    deterministic_sum: bool = False,
    driver_idf: bool = False,
    match_all: bool = False,
    min_should_match: int | None = None,
    candidate_filter: DataFrame | None = None,
    exclude_text: str | None = None,
    search_after: tuple[float, int] | None = None,
) -> DataFrame:
    """Exact BM25 top-k over raw docs, no index. Returns
    (doc_id, score double, rank int) ordered by (score desc, doc_id asc).

    `deterministic_sum=True` fixes the float accumulation order (sorted
    by term) so results are bitwise reproducible — used for
    rank-identity assertions against the WAND fast path (Spark's default
    agg order is nondeterministic; SURVEY §4 item 4).
    `round_to` rounds scores for cross-engine (DuckDB) hash comparison.
    `candidate_filter` (a doc_id DataFrame) restricts the RESULT set
    without touching df/avgdl — ES filter-context semantics: a bool
    query's `filter` clause masks candidates but never changes the
    corpus statistics the match clause scores with.
    """
    # One materialized tokenize pass (guide §5): the stream feeds the
    # dl/stats aggregate, the query-term filter, the df aggregate and
    # (optionally) the must_not ban filter — the r07 plan audit showed
    # SIX MapInPandas tokenize nodes in one query because each consumer
    # re-derived the unpersisted stream.  MEMORY_AND_DISK, freed when
    # the query's RDD is GC'd.  A caller-supplied `tokens` frame is the
    # caller's to manage (it may already be cached or shared).
    toks = tokens if tokens is not None else doc_terms(
        docs, id_col=id_col, text_col=text_col, mode=mode).persist()
    terms = analyze_query(query_text, mode=mode)
    if not terms:
        raise ValueError("empty query after analysis")
    uniq_terms = sorted(set(terms))

    # Corpus stats: N docs + avgdl over docs with ≥1 token.  One cheap agg.
    dl = toks.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    qterms = toks.where(F.col("term").isin(uniq_terms))
    dfreq = qterms.groupBy("term").agg(F.count("*").alias("df"))

    joined = qterms.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats))
    if driver_idf:
        # idf evaluated on the driver with np.log — bitwise-identical to
        # the WAND scorer's (JVM Math.log can differ from libm by 1 ulp,
        # which would break exact rank-identity assertions on ties)
        import numpy as np

        n = dl.count()
        df_rows = dfreq.collect()
        idf_map = {
            r["term"]: float(np.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5)))
            for r in df_rows
        }
        pairs = []
        for t, v in idf_map.items():
            pairs.extend([F.lit(t), F.lit(v)])
        idf_col = F.element_at(F.create_map(*pairs), F.col("term"))
    else:
        idf_col = idf_expr(F.col("df"), F.col("n_docs"))
    scored = joined.withColumn(
        "partial",
        idf_col * tf_norm_expr(F.col("tf"), F.col("dl"), F.col("avgdl")),
    )
    if deterministic_sum:
        # accumulate in sorted-term order: bitwise-deterministic float sum
        per_doc = scored.groupBy("doc_id").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "partial"))),
                F.lit(0.0),
                lambda acc, x: acc + x["partial"],
            ).alias("score"),
            F.count("*").alias("_nmatch"),
        )
    else:
        per_doc = scored.groupBy("doc_id").agg(
            F.sum("partial").alias("score"), F.count("*").alias("_nmatch")
        )
    if match_all:
        # conjunctive (AND): the doc must contain every analyzed term
        per_doc = per_doc.where(F.col("_nmatch") == len(uniq_terms))
    elif min_should_match is not None and min_should_match > 1:
        # ES minimum_should_match: at least m of the query terms present
        per_doc = per_doc.where(F.col("_nmatch") >= min_should_match)
    per_doc = per_doc.drop("_nmatch")
    if candidate_filter is not None:
        # left-semi on doc_id; AQE picks broadcast vs shuffle by size
        per_doc = per_doc.join(
            candidate_filter.select("doc_id"), "doc_id", "left_semi"
        )
    if exclude_text:
        # bool must_not: anti-join against docs containing any excluded
        # term — candidates only, df/avgdl untouched (ES semantics)
        ex_terms = sorted(set(analyze_query(exclude_text, mode=mode)))
        banned = toks.where(F.col("term").isin(ex_terms)).select("doc_id")
        per_doc = per_doc.join(banned, "doc_id", "left_anti")

    if round_to is not None:
        per_doc = per_doc.withColumn("score", F.round("score", round_to))
    if search_after is not None:
        # ES search_after cursor: strictly after (score desc, doc_id
        # asc) position of the prior page's last hit, on ROUNDED scores
        s_a, d_a = search_after
        per_doc = per_doc.where(
            (F.col("score") < F.lit(float(s_a)))
            | ((F.col("score") == F.lit(float(s_a)))
               & (F.col("doc_id") > F.lit(int(d_a))))
        )
    topk = per_doc.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    # rank over the already-rounded score → deterministic across engines
    from search_ingest_spark.ranking import ranked_desc

    return ranked_desc(topk, "score", "doc_id")


def bm25_all_scores(
    docs: DataFrame,
    query_text: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "standard",
) -> DataFrame:
    """Per-document BM25 scores for EVERY matching doc (no top-k
    truncation) — (doc_id, score double).  The building block for
    relation queries (has_child/has_parent aggregate ALL matching
    children before ranking parents, so a k-limit here would be
    wrong).  Same stats/df/score expressions as bm25_brute_force."""
    # one materialized tokenize pass shared by the stats aggregate and
    # the query-term filter (same multi-consumer shape and fix as
    # bm25_brute_force above)
    toks = doc_terms(docs, id_col=id_col, text_col=text_col,
                     mode=mode).persist()
    uniq_terms = sorted(set(analyze_query(query_text, mode=mode)))
    if not uniq_terms:
        raise ValueError("empty query after analysis")
    dl = toks.groupBy("doc_id").agg(F.first("dl").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    qterms = toks.where(F.col("term").isin(uniq_terms))
    dfreq = qterms.groupBy("term").agg(F.count("*").alias("df"))
    joined = qterms.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(stats)
    )
    scored = joined.withColumn(
        "partial",
        idf_expr(F.col("df"), F.col("n_docs"))
        * tf_norm_expr(F.col("tf"), F.col("dl"), F.col("avgdl")),
    )
    return scored.groupBy("doc_id").agg(F.sum("partial").alias("score"))


def bm25_scores_cte(
    query_text: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
    exclude_doc: int | None = None,
) -> str:
    """Reusable oracle CTE chain (no leading WITH): toks / tf / dl /
    stats / q / dfreq / scores_r, where scores_r = (doc_id, score)
    with the ROUNDED brute-force BM25 score of every matching doc —
    the composable building block for oracle SQL that post-processes
    the full matching set (collapse, decay function_score,
    more_like_this).  Same expressions as bm25_oracle_sql."""
    uniq = sorted(set(analyze_query(query_text, mode="simple")))
    if not uniq:
        raise ValueError("empty query after analysis")
    term_list = ", ".join("('" + t.replace("'", "''") + "')" for t in uniq)
    excl = (f"\n  WHERE tf.doc_id <> {int(exclude_doc)}"
            if exclude_doc is not None else "")
    return f"""
toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
q(term) AS (VALUES {term_list}),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
scores_r AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ), {round_to})::DOUBLE AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats{excl}
  GROUP BY tf.doc_id
)""".strip()


def bm25_oracle_sql(
    query_text: str,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
    match_all: bool = False,
    min_should_match: int | None = None,
    filter_where: str | None = None,
    exclude_text: str | None = None,
    search_after: tuple[float, int] | None = None,
) -> str:
    """DuckDB SQL computing the identical BM25 top-k with the simple
    analyzer (`regexp_extract_all(lower(text),'[a-z0-9]+')` ==
    analysis.simple_tokens_col) — the driver-facing oracle.

    `exclude_text` = bool must_not: docs containing ANY of its analyzed
    terms are dropped from the candidate set (corpus statistics
    untouched, matching the engine and ES)."""
    terms = analyze_query(query_text, mode="simple")
    uniq = sorted(set(terms))
    term_list = ", ".join("('" + t.replace("'", "''") + "')" for t in uniq)
    having = f"\n  HAVING count(*) = {len(uniq)}" if match_all else ""
    if not match_all and min_should_match is not None and min_should_match > 1:
        having = f"\n  HAVING count(*) >= {min_should_match}"
    cand = (
        f"\n  WHERE doc_id IN (SELECT {id_col} FROM {table} WHERE {filter_where})"
        if filter_where else ""
    )
    if exclude_text:
        ex_uniq = sorted(set(analyze_query(exclude_text, mode="simple")))
        ex_list = ", ".join("'" + t.replace("'", "''") + "'" for t in ex_uniq)
        cand += (
            f"\n  {'AND' if cand else 'WHERE'} doc_id NOT IN "
            f"(SELECT doc_id FROM toks WHERE term IN ({ex_list}))"
        )
    after = ""
    if search_after is not None:
        # cursor comparison on the ROUNDED score (what callers paginate
        # by); DuckDB resolves the `score` select-alias in WHERE
        s_a, d_a = float(search_after[0]), int(search_after[1])
        after = (f"\n  {'AND' if cand else 'WHERE'} (score < {s_a!r}"
                 f" OR (score = {s_a!r} AND doc_id > {d_a}))")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
q(term) AS (VALUES {term_list}),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id{having}
),
topk AS (
  SELECT doc_id, round(score_raw, {round_to})::DOUBLE AS score
  FROM scores{cand}{after}
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def bool_oracle_sql(
    *,
    must: str | None = None,
    should: str | None = None,
    must_not: str | None = None,
    filter_where: str | None = None,
    minimum_should_match: int | None = None,
    k: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB SQL modeling Searcher.bool_topk — ES's composed `bool`
    query: docs must contain every analyzed `must` term AND at least
    `minimum_should_match` of the `should` terms (counted over should
    clauses only, ES semantics with must present; defaults to 1 for a
    pure-should bool); ALL matched must+should terms contribute
    additively to the BM25 score; `must_not` bans candidates;
    `filter_where` is non-scoring filter context.  A term appearing in
    both must and should is treated as must (scored once)."""
    must_uniq = sorted(set(analyze_query(must or "", mode="simple")))
    should_uniq = sorted(
        set(analyze_query(should or "", mode="simple")) - set(must_uniq)
    )
    uniq = sorted(set(must_uniq) | set(should_uniq))
    if not uniq:
        raise ValueError("bool oracle needs must and/or should terms")
    msm = minimum_should_match
    if not must_uniq and msm is None:
        msm = 1

    def _sql_list(ts: list[str]) -> str:
        return ", ".join("'" + t.replace("'", "''") + "'" for t in ts)

    term_list = ", ".join("('" + t.replace("'", "''") + "')" for t in uniq)
    having_parts = []
    if must_uniq:
        having_parts.append(
            f"count(CASE WHEN tf.term IN ({_sql_list(must_uniq)}) "
            f"THEN 1 END) = {len(must_uniq)}"
        )
    if msm is not None and msm > 0 and should_uniq:
        having_parts.append(
            f"count(CASE WHEN tf.term IN ({_sql_list(should_uniq)}) "
            f"THEN 1 END) >= {msm}"
        )
    having = ("\n  HAVING " + "\n     AND ".join(having_parts)
              if having_parts else "")
    cand = (
        f"\n  WHERE doc_id IN (SELECT {id_col} FROM {table} WHERE {filter_where})"
        if filter_where else ""
    )
    if must_not:
        ex_uniq = sorted(set(analyze_query(must_not, mode="simple")))
        cand += (
            f"\n  {'AND' if cand else 'WHERE'} doc_id NOT IN "
            f"(SELECT doc_id FROM toks WHERE term IN ({_sql_list(ex_uniq)}))"
        )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
q(term) AS (VALUES {term_list}),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id{having}
),
topk AS (
  SELECT doc_id, round(score_raw, {round_to})::DOUBLE AS score
  FROM scores{cand}
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def prefix_oracle_sql(
    prefix: str,
    k: int = 10,
    *,
    max_expansions: int = 50,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB SQL modeling Searcher.topk_prefix: the vocabulary terms in
    [prefix, prefix+1) capped at `max_expansions` by (df desc, term asc)
    — exactly plan_prefix's deterministic rewrite — scored as a plain OR
    query, each expanded term with its own idf."""
    p = prefix.lower().replace("'", "''")
    hi = (prefix.lower()[:-1]
          + chr(ord(prefix.lower()[-1]) + 1)).replace("'", "''")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
dfreq AS (
  SELECT term, df FROM vocab
  WHERE term >= '{p}' AND term < '{hi}'
  ORDER BY df DESC, term ASC
  LIMIT {int(max_expansions)}
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
topk AS (
  SELECT doc_id, round(score_raw, {round_to})::DOUBLE AS score
  FROM scores
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def wildcard_oracle_sql(
    pattern: str,
    k: int = 10,
    *,
    max_expansions: int = 50,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB SQL modeling Searcher.topk_wildcard: vocabulary terms
    matching the wildcard pattern (`*`→`%`, `?`→`_` — terms are
    [a-z0-9]+ so the translation is lossless), capped at
    `max_expansions` by (df desc, term asc), scored as a plain OR
    query, each expanded term with its own idf.  Literal '%'/'_' in the
    pattern are kept as literals via backslash-escaping + ESCAPE (they
    can never match a [a-z0-9]+ term, mirroring the engine's
    regex-escape, rather than being dropped — ADVICE r04)."""
    like = (pattern.lower()
            .replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
            .replace("*", "%").replace("?", "_").replace("'", "''"))
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
dfreq AS (
  SELECT term, df FROM vocab
  WHERE term LIKE '{like}' ESCAPE '\\'
  ORDER BY df DESC, term ASC
  LIMIT {int(max_expansions)}
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
topk AS (
  SELECT doc_id, round(score_raw, {round_to})::DOUBLE AS score
  FROM scores
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def regexp_oracle_sql(
    pattern: str,
    k: int = 10,
    *,
    max_expansions: int = 50,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB SQL modeling Searcher.topk_regexp: vocabulary terms
    FULLY matching the (portable-subset) regex, capped at
    `max_expansions` by (df desc, term asc), scored as a plain OR
    query, each expanded term with its own idf."""
    rx = pattern.lower().replace("'", "''")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
dfreq AS (
  SELECT term, df FROM vocab
  WHERE regexp_full_match(term, '{rx}')
  ORDER BY df DESC, term ASC
  LIMIT {int(max_expansions)}
),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
topk AS (
  SELECT doc_id, round(score_raw, {round_to})::DOUBLE AS score
  FROM scores
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def fuzzy_oracle_sql(
    query_text: str,
    k: int = 10,
    *,
    fuzziness: int = 1,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB SQL modeling Searcher.topk_fuzzy: the query's term set is
    expanded to every VOCABULARY term within `fuzziness` Levenshtein
    edits of any analyzed query term, then scored as a plain OR query
    (each expanded term with its own idf — reader.LocalSearcher.plan_fuzzy's
    documented semantics)."""
    terms = sorted(set(analyze_query(query_text, mode="simple")))
    f = int(fuzziness)
    cond = " OR ".join(
        f"levenshtein(term, '{t.replace(chr(39), chr(39) * 2)}') <= {f}"
        for t in terms
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
q AS (SELECT DISTINCT term FROM tf WHERE {cond}),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
topk AS (
  SELECT doc_id, round(score_raw, {round_to})::DOUBLE AS score
  FROM scores
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def multi_match(
    docs: DataFrame,
    query_text: str,
    fields: list[tuple[str, float]],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    mode: str = "simple",
    round_to: int = 4,
    mm_type: str = "best_fields",
    tie_breaker: float = 0.0,
) -> DataFrame:
    """ES multi_match over per-field BM25 scores — each field has its
    OWN statistics (df, avgdl, N) exactly like per-field Lucene
    indexes.  `fields` is [(sql_expr, boost), ...] — expressions over
    `docs` (e.g. a derived title column).  Returns (doc_id, score,
    rank).

    Combination = ES's documented semantics (the dis_max family):
    - best_fields: max(per-field) + tie_breaker * (sum - max) — the
      generalized DisjunctionMaxQuery; tie_breaker=0 is the classic
      winner-takes-all default;
    - most_fields: sum(per-field) — a plain bool-should across field
      clauses.
    A field scoring 0 (no matching term) contributes nothing either
    way, exactly as an empty Lucene sub-scorer.

    Scale shape: per-field scoring is the same shuffle-light pipeline as
    bm25_brute_force (doc-local tf/dl, tiny df agg); the union-then-
    combine groups on doc_id over |fields| × matched-docs rows.  At
    index scale this becomes per-field WAND top-k + candidate
    rescoring; the driver entry uses the exact formulation so the
    oracle is exact."""
    if mm_type not in ("best_fields", "most_fields"):
        raise ValueError(f"mm_type must be best_fields|most_fields, "
                         f"got {mm_type!r}")
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    per_field = []
    for expr, boost in fields:
        sub = docs.select(F.col(id_col), F.expr(expr).alias("__field"))
        toks = doc_terms(sub, id_col=id_col, text_col="__field", mode=mode)
        terms = analyze_query(query_text, mode=mode)
        uniq = sorted(set(terms))
        dl = toks.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
        qterms = toks.where(F.col("term").isin(uniq))
        dfreq = qterms.groupBy("term").agg(F.count("*").alias("df"))
        joined = qterms.join(F.broadcast(dfreq), "term").crossJoin(
            F.broadcast(stats)
        )
        scored = joined.withColumn(
            "partial",
            idf_expr(F.col("df"), F.col("n_docs"))
            * tf_norm_expr(F.col("tf"), F.col("dl"), F.col("avgdl")),
        )
        per_doc = scored.groupBy("doc_id").agg(F.sum("partial").alias("raw"))
        per_field.append(
            per_doc.select(
                "doc_id",
                F.round(F.lit(float(boost)) * F.col("raw"), round_to)
                .alias("score"),
            )
        )
    allf = per_field[0]
    for p in per_field[1:]:
        allf = allf.unionByName(p)
    agg = allf.groupBy("doc_id").agg(F.max("score").alias("_mx"),
                                     F.sum("score").alias("_sm"))
    if mm_type == "most_fields":
        combined = F.col("_sm")
    else:
        combined = F.col("_mx") + F.lit(float(tie_breaker)) * (
            F.col("_sm") - F.col("_mx"))
    best = agg.select(
        "doc_id", F.round(combined, round_to).alias("score"))
    topk = best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    from search_ingest_spark.ranking import ranked_desc

    return ranked_desc(topk, "score", "doc_id")


def multi_match_best_fields(
    docs: DataFrame,
    query_text: str,
    fields: list[tuple[str, float]],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    mode: str = "simple",
    round_to: int = 4,
) -> DataFrame:
    """Classic winner-takes-all multi_match — multi_match() with
    mm_type=best_fields, tie_breaker=0."""
    return multi_match(docs, query_text, fields, k, id_col=id_col,
                       mode=mode, round_to=round_to)


def function_score_oracle_sql(
    query_text: str,
    field: str,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
    modifier: str = "log1p",
    factor: float = 1.0,
    boost_mode: str = "multiply",
    missing: float = 1.0,
) -> str:
    """DuckDB replay of Searcher.function_score_topk: the full-corpus
    BM25 score per matching doc (no pre-modifier truncation — the
    modifier can reorder arbitrarily), combined with
    modifier(factor * coalesce(field, missing)) under boost_mode."""
    terms = analyze_query(query_text, mode="simple")
    uniq = sorted(set(terms))
    term_list = ", ".join("('" + t.replace("'", "''") + "')" for t in uniq)
    fv = f"({float(factor)!r} * coalesce(d.{field}::DOUBLE, {float(missing)!r}))"
    mod = {"none": fv, "log1p": f"ln(1.0 + {fv})",
           "sqrt": f"sqrt({fv})"}[modifier]
    comb = (f"scores.score_raw * {mod}" if boost_mode == "multiply"
            else f"scores.score_raw + {mod}")
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
q(term) AS (VALUES {term_list}),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
topk AS (
  SELECT scores.doc_id AS doc_id, round({comb}, {round_to})::DOUBLE AS score
  FROM scores JOIN {table} d ON d.{id_col} = scores.doc_id
  ORDER BY score DESC, scores.doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def boosting_oracle_sql(
    positive_text: str,
    negative_text: str,
    k: int = 10,
    *,
    negative_boost: float = 0.5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB replay of Searcher.boosting_topk: full positive BM25
    matching set, score × negative_boost where the doc also matches
    ANY analyzed negative term."""
    pos = sorted(set(analyze_query(positive_text, mode="simple")))
    neg = sorted(set(analyze_query(negative_text, mode="simple")))
    pos_list = ", ".join("('" + t.replace("'", "''") + "')" for t in pos)
    neg_list = ", ".join("'" + t.replace("'", "''") + "'" for t in neg)
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
q(term) AS (VALUES {pos_list}),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
neg AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ({neg_list})),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
topk AS (
  SELECT s.doc_id,
         round(CASE WHEN n.doc_id IS NOT NULL
                    THEN s.score_raw * {float(negative_boost)!r}
                    ELSE s.score_raw END, {round_to})::DOUBLE AS score
  FROM scores s LEFT JOIN neg n ON n.doc_id = s.doc_id
  ORDER BY score DESC, s.doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def multi_match_oracle_sql(
    query_text: str,
    fields: list[tuple[str, float]],
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    round_to: int = 4,
    mm_type: str = "best_fields",
    tie_breaker: float = 0.0,
) -> str:
    """DuckDB replay of multi_match: one per-field scoring CTE (own
    stats/df), union, the engine's exact combine (max + tie_breaker *
    (sum - max), or plain sum for most_fields), top-k."""
    terms = analyze_query(query_text, mode="simple")
    uniq = sorted(set(terms))
    term_list = ", ".join("('" + t.replace("'", "''") + "')" for t in uniq)
    parts = []
    for i, (expr, boost) in enumerate(fields):
        parts.append(f"""
f{i} AS (
  WITH toks AS (
    SELECT {id_col} AS doc_id,
           unnest(regexp_extract_all(lower({expr}), '[a-z0-9]+')) AS term
    FROM {table}
  ),
  tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
  dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
  stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
  q(term) AS (VALUES {term_list}),
  dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf
            WHERE term IN (SELECT term FROM q) GROUP BY 1)
  SELECT tf.doc_id,
         round({float(boost)!r} * sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ), {round_to})::DOUBLE AS score
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
)""".strip())
    union = " UNION ALL ".join(
        f"SELECT * FROM f{i}" for i in range(len(fields))
    )
    ctes = ",\n".join(parts)
    if mm_type == "most_fields":
        comb = "sum(score)"
    else:
        comb = (f"max(score) + {float(tie_breaker)!r} "
                f"* (sum(score) - max(score))")
    return f"""
WITH {ctes},
best AS (
  SELECT doc_id, round({comb}, {round_to})::DOUBLE AS score
  FROM ({union}) GROUP BY doc_id
),
topk AS (
  SELECT doc_id, score FROM best ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def bm25_quantized_oracle_sql(
    query_text: str,
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB SQL modeling the impact-QUANTIZED scoring mode: the same
    BM25 pipeline but with each posting's tf-norm quantized exactly as
    the index build does (index/build.quantize_impacts: q = floor(tfn *
    IMPACT_SCALE), contribution = idf * (q + 0.5) / IMPACT_SCALE).

    avgdl is written as sum(dl)/count(*) — the exact-integer division
    the build's stats table computes — so the floor() input is the same
    float64 in both engines."""
    from search_ingest_spark.index.codec import IMPACT_SCALE

    terms = analyze_query(query_text, mode="simple")
    uniq = sorted(set(terms))
    term_list = ", ".join("('" + t.replace("'", "''") + "')" for t in uniq)
    s = repr(float(IMPACT_SCALE))
    tfn = (
        f"(tf.tf * ({K1} + 1.0)"
        f" / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)))"
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs,
                 (sum(dl)::DOUBLE / count(*)::DOUBLE) AS avgdl FROM dl),
q(term) AS (VALUES {term_list}),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * ((floor({tfn} * {s}) + 0.5) / {s})
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
topk AS (
  SELECT doc_id, round(score_raw, {round_to})::DOUBLE AS score
  FROM scores
  ORDER BY score DESC, doc_id ASC
  LIMIT {k}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def decay_oracle_sql(
    query_text: str, field: str, k: int = 10, *,
    origin: float, scale: float, offset: float = 0.0,
    decay: float = 0.5, shape: str = "gauss", round_to: int = 4,
) -> str:
    """DuckDB replay of Searcher.decay_score_topk: rounded brute-force
    scores × the identical decay multiplier, rounded again."""
    import math

    if shape not in ("gauss", "exp", "linear"):
        raise ValueError(f"shape must be gauss|exp|linear, got {shape!r}")
    ln_decay = math.log(float(decay))
    d = (f"greatest(0.0, abs(d.{field}::DOUBLE - {float(origin)!r})"
         f" - {float(offset)!r}) / {float(scale)!r}")
    mult = {
        "gauss": f"exp({ln_decay!r} * ({d}) * ({d}))",
        "exp": f"exp({ln_decay!r} * ({d}))",
        "linear": f"greatest(0.0, 1.0 - {1.0 - float(decay)!r} * ({d}))",
    }[shape]
    return f"""
WITH {bm25_scores_cte(query_text, round_to=round_to)},
combined AS (
  SELECT s.doc_id,
         round(s.score * (CASE WHEN d.{field} IS NULL THEN 1.0
                               ELSE {mult} END), {round_to})::DOUBLE AS score
  FROM scores_r s JOIN documents d USING (doc_id)
),
topk AS (
  SELECT doc_id, score FROM combined
  ORDER BY score DESC, doc_id ASC LIMIT {int(k)}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def mlt_oracle_sql(
    seed_doc_id: int, k: int = 10, *,
    max_query_terms: int = 5, round_to: int = 4,
) -> str:
    """DuckDB replay of Searcher.more_like_this_topk: select the seed's
    terms by (tf desc, df asc, term asc) — integer-deterministic, no
    float products — then BM25-score the selection over every doc but
    the seed."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
seed_tf AS (SELECT term, tf FROM tf WHERE doc_id = {int(seed_doc_id)}),
seed_df AS (
  SELECT term, count(*)::BIGINT AS df FROM tf
  WHERE term IN (SELECT term FROM seed_tf) GROUP BY 1
),
sel AS (
  SELECT s.term, d.df FROM seed_tf s JOIN seed_df d USING (term)
  ORDER BY s.tf DESC, d.df ASC, s.term ASC LIMIT {int(max_query_terms)}
),
scores AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (stats.n_docs - sel.df + 0.5) / (sel.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ), {round_to})::DOUBLE AS score
  FROM tf
  JOIN sel USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  WHERE tf.doc_id <> {int(seed_doc_id)}
  GROUP BY tf.doc_id
),
topk AS (
  SELECT doc_id, score FROM scores
  ORDER BY score DESC, doc_id ASC LIMIT {int(k)}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def phrase_suggest_oracle_sql(
    text: str, *, max_edits: int = 1, per_token: int = 3, size: int = 3,
    edit_weight: float = 1.0, backoff: float = 0.4, round_to: int = 4,
) -> str:
    """DuckDB replay of Searcher.suggest_phrases: dictionary (df, cf),
    corpus bigram counts and total recomputed brute-force from raw
    text; per-position candidate CTEs (same (distance, df desc, term)
    ranking, raw-token fallback when empty), cross-joined and scored
    with the identical Stupid-Backoff float chain."""
    tokens = analyze_query(text, mode="simple")
    if not tokens:
        raise ValueError("empty suggest text after analysis")
    if len(tokens) > 8:
        raise ValueError(f"phrase suggester caps input at 8 tokens, "
                         f"got {len(tokens)}")
    e, c = int(max_edits), int(per_token)
    n = len(tokens)
    cand_ctes = []
    for i, t in enumerate(tokens):
        lit = "'" + t.replace("'", "''") + "'"
        cand_ctes.append(f"""
cand_{i} AS (
  SELECT term, cf, levenshtein(term, {lit})::INT AS d
  FROM dict
  WHERE abs(length(term) - {len(t)}) <= {e}
    AND levenshtein(term, {lit}) <= {e}
  ORDER BY levenshtein(term, {lit}) ASC, df DESC, term ASC
  LIMIT {c}
),
cand_{i}f AS (
  SELECT term, cf, d FROM cand_{i}
  UNION ALL
  SELECT {lit}, 0::BIGINT, 0
  WHERE NOT EXISTS (SELECT 1 FROM cand_{i})
)""".strip())
    combo_cols = ", ".join(
        f"c{i}.term AS t{i}, c{i}.cf AS cf{i}, c{i}.d AS d{i}"
        for i in range(n))
    combo_from = " CROSS JOIN ".join(
        f"cand_{i}f c{i}" for i in range(n))
    sug = " || ' ' || ".join(f"t{i}" for i in range(n))
    bo, ew = float(backoff), float(edit_weight)
    score_terms = [f"ln((cf0 + 1.0) / (tot.total + 1.0))"]
    joins = []
    for i in range(n - 1):
        score_terms.append(
            f"CASE WHEN b{i}.cnt IS NOT NULL "
            f"THEN ln(b{i}.cnt * 1.0 / s{i}.s) "
            f"ELSE ln({bo!r} * (cf{i + 1} + 1.0) / (tot.total + 1.0)) END")
        joins.append(f"LEFT JOIN big b{i} ON b{i}.w1 = t{i} "
                     f"AND b{i}.w2 = t{i + 1}")
        joins.append(f"LEFT JOIN startc s{i} ON s{i}.w1 = t{i}")
    edits = " + ".join(f"d{i}" for i in range(n))
    score = ("\n      + ".join(score_terms)
             + f"\n      - {ew!r} * ({edits})")
    nl = ",\n".join(cand_ctes)
    return f"""
WITH docs_arr AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS a
  FROM documents
),
toks AS (
  SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS w
  FROM docs_arr
),
dict AS (
  SELECT w AS term, count(DISTINCT doc_id)::BIGINT AS df,
         count(*)::BIGINT AS cf
  FROM toks GROUP BY 1
),
tot AS (SELECT count(*)::BIGINT AS total FROM toks),
big AS (
  SELECT t1.w AS w1, t2.w AS w2, count(*)::BIGINT AS cnt
  FROM toks t1
  JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  GROUP BY 1, 2
),
startc AS (SELECT w1, sum(cnt)::BIGINT AS s FROM big GROUP BY 1),
{nl},
combos AS (
  SELECT {combo_cols} FROM {combo_from}
),
scored AS (
  SELECT {sug} AS suggestion,
    round({score}, {int(round_to)})::DOUBLE AS score
  FROM combos CROSS JOIN tot
  {chr(10).join(joins)}
),
topk AS (
  SELECT suggestion, score FROM scored
  ORDER BY score DESC, suggestion ASC LIMIT {int(size)}
)
SELECT suggestion, score,
       row_number() OVER (ORDER BY score DESC, suggestion ASC)::INT AS rank
FROM topk
""".strip()


def explain_oracle_sql(
    query_text: str, doc_id: int, *, round_to: int = 4,
) -> str:
    """DuckDB replay of Searcher.explain: per-term tf/dl/df/idf and
    the BM25 partial contribution for one document, brute-force from
    raw text.  Same expressions (and op order) as bm25_oracle_sql's
    score arm, one row per query term present in the doc."""
    uniq = sorted(set(analyze_query(query_text, mode="simple")))
    if not uniq:
        raise ValueError("empty query after analysis")
    term_list = ", ".join("('" + t.replace("'", "''") + "')" for t in uniq)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
q(term) AS (VALUES {term_list}),
dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf WHERE term IN (SELECT term FROM q) GROUP BY 1)
SELECT tf.term,
       tf.tf::INT AS tf,
       dl.dl::INT AS dl,
       dfreq.df::BIGINT AS df,
       round(ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)),
             {int(round_to)})::DOUBLE AS idf,
       round(
         ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl)),
         {int(round_to)})::DOUBLE AS partial
FROM tf
JOIN dfreq USING (term)
JOIN dl USING (doc_id)
CROSS JOIN stats
WHERE tf.doc_id = {int(doc_id)}
""".strip()


def term_suggest_oracle_sql(
    text: str, *, max_edits: int = 1, size: int = 3,
) -> str:
    """DuckDB replay of Searcher.suggest_terms: dictionary (distinct
    terms + doc frequency) recomputed from raw text, candidates by
    levenshtein <= max_edits, per-token window."""
    tokens = sorted(set(analyze_query(text, mode="simple")))
    if not tokens:
        raise ValueError("empty suggest text after analysis")
    tok_vals = ", ".join(
        "('" + t.replace("'", "''") + "')" for t in tokens)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
  FROM documents
),
tdict AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY 1
),
q(token) AS (VALUES {tok_vals}),
cand AS (
  SELECT q.token, t.term AS suggestion, t.df,
         levenshtein(q.token, t.term)::INT AS distance
  FROM q CROSS JOIN tdict t
  WHERE t.term <> q.token
    AND abs(length(t.term) - length(q.token)) <= {int(max_edits)}
    AND levenshtein(q.token, t.term) <= {int(max_edits)}
),
ranked AS (
  SELECT token, suggestion, df, distance,
         row_number() OVER (PARTITION BY token
                            ORDER BY distance ASC, df DESC,
                                     suggestion ASC)::INT AS rank
  FROM cand
)
SELECT token, suggestion, df, distance, rank
FROM ranked WHERE rank <= {int(size)}
""".strip()


def terms_set_oracle_sql(terms: list[str], msm_expr: str, k: int = 10, *,
                         round_to: int = 4) -> str:
    """DuckDB replay of Searcher.terms_set_topk: brute-force rounded
    BM25 over the term set, per-doc matched-term count from the tf
    table (one row per distinct (doc, term)), per-doc threshold from
    `msm_expr` over the raw documents row."""
    return f"""
WITH {bm25_scores_cte(" ".join(terms), round_to=round_to)},
nm AS (
  SELECT tf.doc_id, count(*)::INT AS n_matched
  FROM tf WHERE tf.term IN (SELECT term FROM q)
  GROUP BY 1
),
sel AS (
  SELECT s.doc_id, s.score, nm.n_matched
  FROM scores_r s
  JOIN nm USING (doc_id)
  JOIN documents d USING (doc_id)
  WHERE nm.n_matched >= ({msm_expr})
),
topk AS (
  SELECT * FROM sel ORDER BY score DESC, doc_id ASC LIMIT {int(k)}
)
SELECT doc_id, score, n_matched,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def match_bool_prefix_oracle_sql(
    text: str,
    k: int = 10,
    *,
    max_expansions: int = 50,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> str:
    """DuckDB replay of Searcher.match_bool_prefix_topk: q-set = the
    exact tokens (all but the last) UNION the last token's capped
    prefix expansion (df desc, term asc — plan_prefix's deterministic
    rewrite), deduped, scored as a plain OR with per-term idf."""
    tokens = analyze_query(text, mode="simple")
    if not tokens:
        raise ValueError("empty query after analysis")
    last = tokens[-1].replace("'", "''")
    hi = (tokens[-1][:-1] + chr(ord(tokens[-1][-1]) + 1)).replace("'", "''")
    exact = sorted(set(tokens[:-1]))
    exact_cte = (
        "exact(term) AS (VALUES "
        + ", ".join("('" + t.replace("'", "''") + "')" for t in exact)
        + "),"
        if exact else "exact(term) AS (SELECT NULL WHERE FALSE),"
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({text_col}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::INT AS dl FROM toks GROUP BY 1),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl)::DOUBLE AS avgdl FROM dl),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
{exact_cte}
expd AS (
  SELECT term FROM vocab
  WHERE term >= '{last}' AND term < '{hi}'
  ORDER BY df DESC, term ASC
  LIMIT {int(max_expansions)}
),
qterms AS (SELECT term FROM exact UNION SELECT term FROM expd),
dfreq AS (SELECT v.term, v.df FROM vocab v JOIN qterms USING (term)),
scores AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id
),
topk AS (
  SELECT doc_id, round(score_raw, {round_to})::DOUBLE AS score
  FROM scores
  ORDER BY score DESC, doc_id ASC
  LIMIT {int(k)}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


# -- rank_feature / distance_feature --------------------------------------------
# ES's feature-boost family: additive SHOULD-clause contributions from
# numeric doc-values, each a bounded monotone transform.  One spec,
# two compilers (the filters.py pattern): feature_contrib_col renders a
# pyspark Column over the doc_attrs row, feature_contrib_sql the
# identical DuckDB expression over the raw-table row — same literals,
# same operation order, so the float chains agree.
#
#   {"function": "saturation", "field": c, "pivot": p, "boost": b}
#       b * x / (x + p)                 (rank_feature default)
#   {"function": "log", "field": c, "scaling_factor": s, "boost": b}
#       b * ln(1 + s·x)
#   {"function": "sigmoid", "field": c, "pivot": p, "exponent": e,
#    "boost": b}
#       b * x^e / (x^e + p^e)           (p^e folded in Python once,
#                                        the same literal both sides)
#   {"function": "distance", "field": c, "origin": o, "pivot": p,
#    "boost": b}
#       b * p / (p + |x − o|)           (distance_feature)
#
# A NULL feature value contributes 0 — ES: the clause simply doesn't
# match, and a should clause that doesn't match adds nothing.

_FEATURE_KINDS = ("saturation", "log", "sigmoid", "distance")


def _check_feature(spec: dict) -> None:
    kind = spec.get("function")
    if kind not in _FEATURE_KINDS:
        raise ValueError(
            f"feature function must be one of {_FEATURE_KINDS}, "
            f"got {kind!r}")
    if "field" not in spec:
        raise ValueError(f"feature spec needs a field: {spec!r}")
    need = {"saturation": ["pivot"], "log": ["scaling_factor"],
            "sigmoid": ["pivot", "exponent"],
            "distance": ["origin", "pivot"]}[kind]
    for key in need:
        if key not in spec:
            raise ValueError(f"{kind} feature needs {key!r}: {spec!r}")


def feature_contrib_col(spec: dict):
    """pyspark Column: this feature's additive score contribution."""
    from pyspark.sql import functions as F

    _check_feature(spec)
    x = F.col(spec["field"]).cast("double")
    b = float(spec.get("boost", 1.0))
    kind = spec["function"]
    if kind == "saturation":
        c = x / (x + F.lit(float(spec["pivot"])))
    elif kind == "log":
        c = F.log1p(F.lit(float(spec["scaling_factor"])) * x)
    elif kind == "sigmoid":
        e = float(spec["exponent"])
        pe = float(spec["pivot"]) ** e
        c = F.pow(x, F.lit(e)) / (F.pow(x, F.lit(e)) + F.lit(pe))
    else:  # distance
        o, p = float(spec["origin"]), float(spec["pivot"])
        c = F.lit(p) / (F.lit(p) + F.abs(x - F.lit(o)))
    return F.coalesce(F.lit(b) * c, F.lit(0.0))


def feature_contrib_sql(spec: dict, *, ref: str = "d.") -> str:
    """DuckDB rendering of feature_contrib_col, same operation order.
    `field_sql` in the spec overrides the column reference (synthetic
    attrs replayed as doc_id formulas on the raw table)."""
    _check_feature(spec)
    x = f"({spec.get('field_sql', ref + spec['field'])})::DOUBLE"
    b = float(spec.get("boost", 1.0))
    kind = spec["function"]
    if kind == "saturation":
        c = f"{x} / ({x} + {float(spec['pivot'])!r})"
    elif kind == "log":
        c = f"ln(1.0 + {float(spec['scaling_factor'])!r} * {x})"
    elif kind == "sigmoid":
        e = float(spec["exponent"])
        pe = float(spec["pivot"]) ** e
        c = f"pow({x}, {e!r}) / (pow({x}, {e!r}) + {pe!r})"
    else:  # distance
        o, p = float(spec["origin"]), float(spec["pivot"])
        c = f"{p!r} / ({p!r} + abs({x} - {o!r}))"
    return f"coalesce({b!r} * ({c}), 0.0)"


def rank_feature_oracle_sql(
    query_text: str,
    features: list[dict],
    k: int = 10,
    *,
    round_to: int = 4,
) -> str:
    """DuckDB replay of Searcher.rank_feature_topk: full-corpus BM25
    per matching doc plus the sum of feature contributions, rounded at
    the very end like the engine."""
    contribs = " + ".join(feature_contrib_sql(f) for f in features)
    return f"""
WITH {bm25_scores_cte(query_text, round_to=round_to)},
raw AS (
  SELECT tf.doc_id,
         sum(
           ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))
         ) AS score_raw
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  WHERE tf.term IN (SELECT term FROM q)
  GROUP BY tf.doc_id
),
topk AS (
  SELECT raw.doc_id,
         round(raw.score_raw + ({contribs}), {int(round_to)})::DOUBLE
           AS score
  FROM raw JOIN documents d ON d.doc_id = raw.doc_id
  ORDER BY score DESC, raw.doc_id ASC
  LIMIT {int(k)}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()


def multi_match_cross_fields(
    docs: DataFrame,
    query_text: str,
    fields: list[tuple[str, float]],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    mode: str = "simple",
    round_to: int = 4,
) -> DataFrame:
    """ES multi_match type=cross_fields — TERM-centric: each query term
    may match in ANY field, and the fields are treated as one big field
    by BLENDING term statistics (ES wraps the per-field terms in a
    BlendedTermQuery).  Deterministic model, documented where Lucene's
    blending is heuristic:

        df_blend(t)  = max over fields of df_field(t)
        idf_blend(t) = bm25-idf(df_blend(t), N)      N = table rows
        contrib(d,t) = idf_blend(t) ·
                       max over fields of boost_f · tfnorm_f(t, d)
        score(d)     = Σ_t contrib(d, t)

    (field-centric best_fields takes a max over whole FIELD scores —
    a doc with 'spark' in the title and 'query' in the body wins under
    cross_fields but not best_fields; that distinction is the test.)
    Same shuffle-light shape as multi_match: per-field doc-local
    tf/dl, vocabulary-sized df aggregates, one (doc, term) max + one
    per-doc sum.  Returns (doc_id, score, rank)."""
    terms = analyze_query(query_text, mode=mode)
    uniq = sorted(set(terms))
    if not uniq:
        raise ValueError("empty query after analysis")
    n_total = docs.count()
    per_field = []
    for fi, (expr, boost) in enumerate(fields):
        sub = docs.select(F.col(id_col), F.expr(expr).alias("__field"))
        toks = doc_terms(sub, id_col=id_col, text_col="__field", mode=mode)
        dl = toks.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        avgdl = dl.agg(F.avg("dl").alias("avgdl"))
        qterms = toks.where(F.col("term").isin(uniq))
        dfreq = qterms.groupBy("term").agg(F.count("*").alias("df"))
        normed = (
            qterms.crossJoin(F.broadcast(avgdl))
            .select(
                "doc_id", "term",
                (F.lit(float(boost))
                 * tf_norm_expr(F.col("tf"), F.col("dl"), F.col("avgdl")))
                .alias("bnorm"))
        )
        per_field.append((normed, dfreq.select(
            "term", F.col("df").alias("df"))))
    all_norm = per_field[0][0]
    all_df = per_field[0][1]
    for normed, dfreq in per_field[1:]:
        all_norm = all_norm.unionByName(normed)
        all_df = all_df.unionByName(dfreq)
    df_blend = all_df.groupBy("term").agg(F.max("df").alias("df"))
    contrib = (
        all_norm.groupBy("doc_id", "term").agg(F.max("bnorm").alias("mx"))
        .join(F.broadcast(df_blend), "term")
        .select("doc_id",
                (idf_expr(F.col("df"), n_total) * F.col("mx"))
                .alias("partial"))
    )
    best = contrib.groupBy("doc_id").agg(
        F.round(F.sum("partial"), round_to).alias("score"))
    topk = best.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
    from search_ingest_spark.ranking import ranked_desc

    return ranked_desc(topk, "score", "doc_id")


def multi_match_cross_fields_oracle_sql(
    query_text: str,
    fields: list[tuple[str, float]],
    k: int = 10,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> str:
    """DuckDB replay of multi_match_cross_fields: per-field tf-norms
    and dfs, blended df = max over fields, one (doc, term) max, one
    per-doc sum — the same arithmetic."""
    uniq = sorted(set(analyze_query(query_text, mode="simple")))
    term_list = ", ".join("('" + t.replace("'", "''") + "')" for t in uniq)
    chains = [f"q(term) AS (VALUES {term_list})",
              f"n_total AS (SELECT count(*)::BIGINT AS n FROM {table})"]
    norm_arms, df_arms = [], []
    for i, (expr, boost) in enumerate(fields):
        s = f"_{i}"
        chains.append(f"""
toks{s} AS (
  SELECT {id_col} AS doc_id,
         unnest(regexp_extract_all(lower({expr}), '[a-z0-9]+')) AS term
  FROM {table}
),
tf{s} AS (SELECT doc_id, term, count(*)::INT AS tf FROM toks{s}
          GROUP BY 1, 2),
dl{s} AS (SELECT doc_id, count(*)::INT AS dl FROM toks{s} GROUP BY 1),
ad{s} AS (SELECT avg(dl)::DOUBLE AS avgdl FROM dl{s}),
qt{s} AS (
  SELECT tf{s}.doc_id, tf{s}.term,
         {float(boost)!r} * tf{s}.tf * ({K1} + 1.0)
           / (tf{s}.tf + {K1} * (1.0 - {B} + {B} * dl{s}.dl / ad{s}.avgdl))
           AS bnorm
  FROM tf{s} JOIN dl{s} USING (doc_id) CROSS JOIN ad{s}
  WHERE tf{s}.term IN (SELECT term FROM q)
),
dfq{s} AS (SELECT term, count(*)::BIGINT AS df FROM tf{s}
           WHERE term IN (SELECT term FROM q) GROUP BY 1)""".strip())
        norm_arms.append(f"SELECT * FROM qt{s}")
        df_arms.append(f"SELECT * FROM dfq{s}")
    return f"""
WITH {", ".join(chains)},
all_norm AS ({" UNION ALL ".join(norm_arms)}),
all_df AS ({" UNION ALL ".join(df_arms)}),
df_blend AS (SELECT term, max(df)::BIGINT AS df FROM all_df GROUP BY 1),
contrib AS (
  SELECT n.doc_id,
         ln(1.0 + (t.n - b.df + 0.5) / (b.df + 0.5)) * max(n.bnorm)
           AS partial
  FROM all_norm n JOIN df_blend b USING (term) CROSS JOIN n_total t
  GROUP BY n.doc_id, n.term, b.df, t.n
),
best AS (
  SELECT doc_id, round(sum(partial), {int(round_to)})::DOUBLE AS score
  FROM contrib GROUP BY 1
),
topk AS (
  SELECT * FROM best ORDER BY score DESC, doc_id ASC LIMIT {int(k)}
)
SELECT doc_id, score,
       row_number() OVER (ORDER BY score DESC, doc_id ASC)::INT AS rank
FROM topk
""".strip()
