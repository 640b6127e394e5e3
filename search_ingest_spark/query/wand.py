"""Top-k query engine: document-at-a-time scoring with block-max pruning.

The fast path the reference gets from Elasticsearch/Lucene (WAND /
block-max WAND over its inverted index) re-expressed for Spark's
execution model.  An unfiltered top-k (`topk`, the dictionary-expansion
queries, `topk_quantized`) is ES's coordinating node plus one fan-out:

1. Query planning on the driver, with the code the Spark-free reader
   uses (query/reader.py): analyze the query with the SAME analyzer as
   index time, look up term ids + document frequencies in `term_dict`
   (a pruned pyarrow read of a tiny table) and compute each idf once;
   then read only the block METADATA of those terms' postings and order
   the shards by their score upper bound (reader.plan_exact /
   plan_quantized).  No posting bytes are read here.
2. ONE Spark job of one stage: `spark.range(n).mapInArrow` runs
   n = min(defaultParallelism, shards in the plan) tasks; task i scores
   the stride-split chunk i of the UB-ordered plan with the serving
   worker (reader._serve_worker: pyarrow reads of the query terms'
   blocks from the snapshot pinned when the Searcher opened it, θ-gated
   batches of the kernel below) and returns its candidates.  Postings
   never enter the JVM and nothing is shuffled.
3. The driver merges the candidates (about k per kernel call) exactly
   (reader.merge_candidates: HALF_UP rounding, the search_after cursor,
   (score desc, doc_id asc)) and returns the ranked rows as a
   LocalRelation, whose collect starts no further job.

Filtered top-k (attr_filter / attr_where), topk_many and the
full-matching-set queries still run as Spark plans over a pruned
postings scan (a cogroup with doc_attrs, or _scored_partitions).

The scorer kernel is exact block-max pruning, NumPy-vectorized:
segments of doc-id space are processed in DESCENDING upper-bound order,
so the top-k threshold θ rises as fast as possible and every remaining
segment with UB < θ is skipped without decoding.  Exactness: a segment
is only skipped when the sum of its blocks' upper bounds (stored
rounded UP, see build) is strictly below the kth true score.

Determinism (rank-identity vs the brute-force oracle, SURVEY §4.4):
per-doc scores accumulate per-term partial products in ascending
term_id order == ascending term order == the oracle's
`deterministic_sum` order, so scores are bitwise identical.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_ingest_spark.catalog import Catalog
from search_ingest_spark.index import build as ib
from search_ingest_spark.query import filters
from search_ingest_spark.index.codec import decode_block, decode_blocks_bulk
from search_ingest_spark.query.bm25 import B, K1, analyze_query
from search_ingest_spark.session import trimmed

# segment-count cap per kernel invocation (see shard_topk): bounds the
# Python segment loop's fixed cost while keeping pruning block-accurate
# up to ~_MAX_SEGMENTS block boundaries per frame
_MAX_SEGMENTS = 1024


def _round_half_up(x: float, nd: int) -> float:
    """Round half AWAY from zero at nd decimals — what Spark's F.round
    and DuckDB's round() do (np.round banks to even).  Used by the
    search_after cursor test (ambiguous band only) and the serving
    path's final ranking stage — one definition so they cannot drift."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{nd}"),
                                           rounding=ROUND_HALF_UP))


RANKED_SCHEMA = "doc_id long, score double, rank int"


def local_frame(spark: SparkSession, schema: str, **columns) -> DataFrame:
    """Driver-held rows as a DataFrame whose plan is a LocalRelation:
    `columns` maps each name of the DDL `schema`, in order, to its
    values; no columns give the zero-row frame.  createDataFrame over a
    pyarrow Table keeps the rows in the plan, so collect() starts no
    Spark job — empty or not.  A list, or an empty pandas frame, plans
    a LogicalRDD instead, and collecting that is a job of ~0.4 s."""
    import pyarrow as pa

    if columns:
        tbl = pa.table(columns)
    else:
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType

        tbl = to_arrow_schema(StructType.fromDDL(schema)).empty_table()
    return spark.createDataFrame(tbl, schema)


def ranked_frame(spark: SparkSession, doc_ids=(), scores=()) -> DataFrame:
    """(doc_id, score, rank) LocalRelation over hits already in rank
    order; no arguments give the zero-row result."""
    return local_frame(
        spark, RANKED_SCHEMA,
        doc_id=np.asarray(doc_ids, dtype=np.int64),
        score=np.asarray(scores, dtype=np.float64),
        rank=np.arange(1, len(doc_ids) + 1, dtype=np.int32))


def score_phrase_combos(
    tokens: list[str],
    by_tok: dict[str, list[tuple[str, int, int]]],
    cnt: dict[tuple[str, str], int],
    start: dict[str, int],
    total: int,
    *, backoff: float = 0.4, edit_weight: float = 1.0, round_to: int = 4,
) -> list[tuple[str, float]]:
    """Pure phrase-suggester scoring kernel, shared by the Spark and
    serving paths (both collect the SAME vocabulary-sized inputs, so
    suggestions are bitwise identical): every combination of per-token
    candidates (term, cf, distance) scored

        log P(w₁) + Σᵢ log P(wᵢ | wᵢ₋₁) − edit_weight · Σ edits

    with P(w) = (cf+1)/(total+1) and Stupid-Backoff bigram
    conditionals (cnt/start when seen, else backoff·P(w₂)).  Returns
    [(suggestion, rounded score)] sorted (score desc, suggestion asc)."""
    import itertools
    import math

    lists = [by_tok[t] for t in tokens]
    n_combos = math.prod(len(li) for li in lists)
    if n_combos > 4096:
        raise ValueError(
            f"candidate explosion: {n_combos} combinations — lower "
            f"per_token or shorten the query")
    bo, ew = float(backoff), float(edit_weight)
    scored: list[tuple[str, float]] = []
    for combo in itertools.product(*lists):
        words = [c[0] for c in combo]
        s = math.log((combo[0][1] + 1.0) / (total + 1.0))
        for (a, _, _), (b, cf_b, _) in zip(combo, combo[1:]):
            c_ab = cnt.get((a, b), 0)
            if c_ab > 0:
                s = s + math.log(c_ab * 1.0 / start[a])
            else:
                s = s + math.log(bo * (cf_b + 1.0) / (total + 1.0))
        s = s - ew * sum(c[2] for c in combo)
        scored.append((" ".join(words), _round_half_up(s, round_to)))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored


def regexp_prune_prefix(p: str) -> str:
    """Literal prefix SAFE for range-pruning a term-sorted dictionary
    scan under an anchored regex `p` ('' = don't prune).  Two traps the
    naive cut-at-first-metachar prefix falls into (ADVICE r04): any '|'
    may introduce a top-level alternative that shares no prefix
    ('abc|xyz' must also scan 'xyz'), so the prune is disabled outright
    when the pattern contains one; and a quantifier '?*+{' directly
    after the literal prefix makes its last char optional/repeated
    ('ab?c' matches 'ac'), so the prefix shrinks by one.  Conservative:
    '+' and '{2}' keep the char mandatory, but shortening only widens
    the scan, never narrows it."""
    metas = ".?*+()[]{}|\\^$"
    if "|" in p:
        return ""
    cut = min((p.index(c) for c in metas if c in p), default=len(p))
    if cut < len(p) and p[cut] in "?*+{":
        cut -= 1
    return p[:cut] if cut > 0 else ""


class Searcher:
    """Per-index query handle; caches the tiny planning tables."""

    def __init__(self, spark: SparkSession, cat: Catalog) -> None:
        self.spark = spark
        self.cat = cat
        st = cat.read(ib.STATS_TABLE).first()
        self.n_docs = int(st["n_docs"])
        self.avgdl = float(st["avgdl"])
        self.mode = st["analyzer"]
        self.postings = cat.read(ib.POSTINGS_TABLE)
        self.term_dict = cat.read(ib.TERM_DICT_TABLE)
        # planning reads the (tiny, term-sorted) dictionary via pyarrow —
        # row groups pruned by term min/max stats, NO Spark job per query
        # (the ES analog: the coordinating node's in-memory term lookup)
        import pyarrow.dataset as ds

        self._dict_ds = ds.dataset(cat.data_path(ib.TERM_DICT_TABLE))
        # the unfiltered top-k reads postings through pyarrow, on the
        # driver (block metadata) and in its Spark tasks (blocks): the
        # snapshot path is pinned here, postings_q's on first use
        self._postings_path = cat.data_path(ib.POSTINGS_TABLE)
        self._postings_ds = ds.dataset(self._postings_path,
                                       partitioning="hive")
        self._pq: tuple | None = None

    # -- planning -----------------------------------------------------------
    def plan(self, query_text: str) -> dict[int, float]:
        """term_id → idf for the query's terms present in the dictionary."""
        import pyarrow.compute as pc

        terms = sorted(set(analyze_query(query_text, mode=self.mode)))
        if not terms:
            return {}
        tbl = self._dict_ds.to_table(
            columns=["term_id", "df"], filter=pc.field("term").isin(terms)
        )
        n = self.n_docs
        return {
            int(tid): float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
            for tid, df in zip(tbl["term_id"].to_pylist(), tbl["df"].to_pylist())
        }

    # -- execution ----------------------------------------------------------
    def topk(self, query_text: str, k: int = 10, *, round_to: int | None = None,
             match_all: bool = False,
             min_match: int | None = None,
             attr_filter: dict | None = None,
             attr_where=None,
             exclude_text: str | None = None,
             search_after: tuple[float, int] | None = None,
             required_text: str | None = None) -> DataFrame:
        """(doc_id, score, rank) — rank-identical to the brute-force oracle.

        Without a filter this is the module docstring's fan-out: the
        driver plans the shards from the postings' block metadata, ONE
        Spark job of one stage scores shard chunks with
        reader._serve_worker, and the driver merges the candidates
        (reader.merge_candidates) into a LocalRelation — the result is
        bitwise identical to LocalSearcher.topk, which runs the same
        three pieces without Spark.

        `match_all=True` = conjunctive (AND) query.  A query with terms
        missing from the dictionary can match nothing under AND.

        `attr_filter` = {attr: value} equality filters over the
        doc_attrs table (built with attr_cols=[...]) — ES bool-query
        filter context on the INDEX path, planned in Spark instead: per
        shard, the pruned postings scan cogroups with the shard's
        qualifying doc ids (the Lucene filter-bitset analog; the attrs
        scan is partition-pruned and predicate-pushed), the scorer
        masks candidates before truncation, then TakeOrdered + rank.
        df/avgdl are untouched, exactly like ES.

        `attr_where` = an arbitrary Column predicate over doc_attrs
        (range filters, geo distance via query.geo.haversine_km, ...) —
        the general filter context; rides the same cogroup path.

        `exclude_text` = ES bool `must_not` terms: any doc containing
        ANY of its analyzed terms is excluded.  The excluded terms'
        postings ride the same scans as the query terms (no extra job);
        they add nothing to a shard's bound, and the kernel decodes
        their doc-id runs into a ban set before scoring.  df/avgdl are untouched, exactly like ES —
        and a doc matching both a positive and an excluded term is
        excluded (must_not wins).

        `search_after` = (score, doc_id) of the last hit of the prior
        page (ES search_after cursor): returns the top-k strictly after
        that (score desc, doc_id asc) sort position.  Stateless and
        depth-independent — page 1000 costs the same as page 1, unlike
        from/size.  The kernel keeps candidates at/below the cursor
        (overinclusive by one rounding ulp) and the final merge
        re-applies the exact rounded comparison before the cut at k.

        `required_text` = ES bool `must` clauses alongside `query_text`
        as the `should` clauses: docs must contain EVERY analyzed
        required term; all matched terms (must and should) contribute
        additively to the score; `min_match` then counts SHOULD matches
        only (ES minimum_should_match with must present).  A term in
        both texts is treated as must (scored once).  See bool_topk for
        the request-shaped wrapper."""
        from search_ingest_spark.query import reader

        resolved = reader.resolve_terms(
            self, query_text, match_all=match_all, min_match=min_match,
            exclude_text=exclude_text, required_text=required_text)
        if resolved is None:
            return ranked_frame(self.spark)
        idf, excluded, required_tids = resolved
        if not attr_filter and attr_where is None:
            tids, plan = reader.plan_exact(self._postings_ds, idf,
                                           self.avgdl, excluded)
            return self._fan_out(self._postings_path, tids, plan,
                                 reader.kernel_params(
                                     idf, k, avgdl=self.avgdl,
                                     match_all=match_all,
                                     round_to=round_to, excluded=excluded,
                                     min_match=min_match,
                                     after=search_after,
                                     required_tids=required_tids))
        out_schema = "doc_id long, score double"
        scan_ids = sorted(set(idf) | excluded)
        pruned = self.postings.where(F.col("term_id").isin([int(t) for t in scan_ids]))
        attrs = self.cat.read(ib.DOC_ATTRS_TABLE)
        if attr_filter:
            # scalar = ES `term`; list = ES `terms`; dict with
            # gte/gt/lte/lt = ES `range` (query/filters.py — one
            # spec compiled identically for both query paths)
            attrs = attrs.where(filters.spark_cond(attr_filter))
        if attr_where is not None:
            attrs = attrs.where(attr_where)
        avgdl, _idf = self.avgdl, idf

        def co_scorer(post_pdf: pd.DataFrame,
                      allow_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(post_pdf) == 0 or len(allow_pdf) == 0:
                return pd.DataFrame({
                    "doc_id": pd.array([], dtype="int64"),
                    "score": pd.array([], dtype="float64"),
                })
            banned = None
            if excluded:
                post_pdf, banned = split_banned(post_pdf, excluded)
            allowed = np.sort(allow_pdf["doc_id"].to_numpy(np.int64))
            return shard_topk(post_pdf, idf=_idf, k=k, avgdl=avgdl,
                              match_all=match_all, round_to=round_to,
                              allowed=allowed, min_match=min_match,
                              banned=banned, after=search_after,
                              required_tids=required_tids)

        topk = (
            pruned.groupBy("shard")
            .cogroup(attrs.select("shard", "doc_id").groupBy("shard"))
            .applyInPandas(trimmed(co_scorer), schema=out_schema)
        )
        if round_to is not None:
            topk = topk.withColumn("score", F.round("score", round_to))
        if search_after is not None:
            s_a, d_a = search_after
            topk = topk.where(
                (F.col("score") < F.lit(float(s_a)))
                | ((F.col("score") == F.lit(float(s_a)))
                   & (F.col("doc_id") > F.lit(int(d_a))))
            )
        topk = topk.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        from search_ingest_spark.ranking import ranked_desc

        return ranked_desc(topk, "score", "doc_id")

    def _fan_out(self, path: str, tids: list[int], plan: list,
                 params: dict) -> DataFrame:
        """Score a UB-descending shard `plan` in ONE Spark job of one
        stage and merge on the driver: task i runs reader._serve_worker
        in-process over the stride-split chunk i of the plan (each chunk
        stays UB-descending and UB-balanced), against the pinned
        snapshot `path`, from θ0 = -inf — each task's θ gates only its
        own batches, so its candidates hold its chunk's exact top k.
        The driver merges all candidates with the serving path's exact
        tail and returns the ranked rows as a LocalRelation.  Each task
        ends by trimming its worker's zipimporter cache
        (session.trimmed), which takes ~200 ms off the next task that
        worker runs."""
        from search_ingest_spark.query import reader

        if not plan:
            return ranked_frame(self.spark)
        n = min(self.spark.sparkContext.defaultParallelism, len(plan))
        chunks = [plan[j::n] for j in range(n)]
        batch = reader.LocalSearcher._PAR_BATCH

        def score(batches):
            import pyarrow as pa

            from search_ingest_spark.query.reader import _serve_worker

            for b in batches:
                for i in b.column(0).to_pylist():
                    for fr in _serve_worker((path, chunks[i], tids,
                                             params, -np.inf, batch)):
                        yield pa.RecordBatch.from_pandas(
                            fr, preserve_index=False)

        got = (self.spark.range(n, numPartitions=n)
               .mapInArrow(trimmed(score), "doc_id long, score double")
               .toArrow())
        doc_ids, scores = reader.merge_candidates(
            got["doc_id"].to_numpy(), got["score"].to_numpy(), params)
        return ranked_frame(self.spark, doc_ids, scores)

    # -- composed bool query --------------------------------------------------
    def bool_topk(self, *, must: str | None = None,
                  should: str | None = None,
                  must_not: str | None = None,
                  filter: dict | None = None,  # noqa: A002 — ES field name
                  minimum_should_match: int | None = None,
                  k: int = 10, round_to: int | None = None) -> DataFrame:
        """ES's canonical composed `bool` request in one kernel pass
        (reference: queries forwarded to ES's bool DSL, elastic.cr):

          must     — AND semantics, scored
          should   — additive scoring, optional unless
                     minimum_should_match (counted over should only
                     when must is present, ES semantics)
          must_not — ban set, candidates only (df/avgdl untouched)
          filter   — non-scoring filter context (term/terms/range spec,
                     query/filters.py)

        All four clause types ride the ONE pruned postings scan + one
        per-shard kernel invocation — no extra jobs or shuffles vs a
        plain match query.  When only should clauses are given,
        minimum_should_match defaults to 1 (ES's default for a pure
        should bool)."""
        if must is None and should is None:
            raise ValueError("bool query needs must and/or should clauses")
        msm = minimum_should_match
        if must is None and msm is None:
            msm = 1  # pure-should bool: ES default
        return self.topk(
            should or "", k, round_to=round_to, min_match=msm,
            attr_filter=filter, exclude_text=must_not,
            required_text=must,
        )

    def _topk_expanded(self, idf: dict[int, float], k: int,
                       round_to: int | None) -> DataFrame:
        """Shared tail for dictionary-expansion queries (prefix /
        wildcard / regexp / fuzzy OR-rewrites): the expanded idf map
        runs as a plain OR top-k through the one-job fan-out."""
        from search_ingest_spark.query import reader

        if not idf:
            return ranked_frame(self.spark)
        tids, plan = reader.plan_exact(self._postings_ds, idf, self.avgdl)
        return self._fan_out(self._postings_path, tids, plan,
                             reader.kernel_params(idf, k, avgdl=self.avgdl,
                                                  round_to=round_to))

    def match_bool_prefix_topk(
        self, text: str, k: int = 10, *, max_expansions: int = 50,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES `match_bool_prefix` (the search-as-you-type query): every
        analyzed token is a SHOULD term except the LAST, which matches
        as a prefix — "spark qu" finds docs with 'spark' or any
        'qu…' term while the user is still typing.  The plan is the
        UNION of the exact-term idf map and the capped prefix
        expansion (dedup by term — a term can be both exact and
        expanded), fed to the unchanged OR kernel; like every
        dictionary-expansion query each expanded term scores with its
        own idf.  (doc_id, score, rank)."""
        tokens = analyze_query(text, mode=self.mode)
        if not tokens:
            return ranked_frame(self.spark)
        idf: dict[int, float] = {}
        if len(tokens) > 1:
            idf.update(self.plan(" ".join(tokens[:-1])))
        idf.update(self.plan_prefix(tokens[-1], max_expansions))
        return self._topk_expanded(idf, int(k), round_to)

    # -- fuzzy execution ------------------------------------------------------
    def plan_fuzzy(self, query_text: str, fuzziness: int = 1) -> dict[int, float]:
        """term_id → idf over every dictionary term within `fuzziness`
        Levenshtein edits of any analyzed query term (ES match
        `fuzziness`).  ES walks an FST automaton; the analog here is a
        Catalyst filter over the (tiny, term-sorted) dictionary with a
        length pre-filter so the edit-distance evaluation touches only
        plausible rows.  Each expanded term scores with its OWN idf —
        a documented divergence from ES's blended-df rewrite, chosen so
        scores stay an exact function of corpus statistics."""
        terms = sorted(set(analyze_query(query_text, mode=self.mode)))
        if not terms:
            return {}
        f = int(fuzziness)
        cond = None
        for t in terms:
            e = (
                (F.abs(F.length("term") - F.lit(len(t))) <= f)
                & (F.levenshtein(F.col("term"), F.lit(t)) <= f)
            )
            cond = e if cond is None else cond | e
        rows = self.term_dict.where(cond).select("term_id", "df").collect()
        n = self.n_docs
        return {
            int(r["term_id"]):
                float(np.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5)))
            for r in rows
        }

    def topk_fuzzy(
        self, query_text: str, k: int = 10, *, fuzziness: int = 1,
        round_to: int | None = None,
    ) -> DataFrame:
        """(doc_id, score, rank) for an OR query over the fuzzy-expanded
        term set — the expansion plan feeds the unchanged WAND kernel."""
        return self._topk_expanded(
            self.plan_fuzzy(query_text, fuzziness), k, round_to)

    # -- prefix execution -----------------------------------------------------
    def plan_prefix(
        self, prefix: str, max_expansions: int = 50
    ) -> dict[int, float]:
        """term_id → idf for every dictionary term starting with
        `prefix` (ES `prefix` query expansion).  ES rewrites to at most
        `max_expansions` terms; the cap here is deterministic —
        highest-df first (the terms that can actually match documents),
        term asc on ties.  The term-sorted dictionary layout makes the
        scan a pruned [prefix, prefix+1) range predicate, the same
        trick the completion suggester uses (reader.suggest)."""
        p = prefix.lower()
        if not p:
            return {}
        hi = p[:-1] + chr(ord(p[-1]) + 1)
        rows = (
            self.term_dict
            .where((F.col("term") >= p) & (F.col("term") < hi))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(max_expansions))
            .select("term_id", "df")
            .collect()
        )
        n = self.n_docs
        return {
            int(r["term_id"]):
                float(np.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5)))
            for r in rows
        }

    def topk_prefix(
        self, prefix: str, k: int = 10, *, max_expansions: int = 50,
        round_to: int | None = None,
    ) -> DataFrame:
        """(doc_id, score, rank) for an OR query over the prefix-expanded
        term set — the expansion plan feeds the unchanged WAND kernel,
        each expanded term scoring with its own idf (same documented
        divergence from ES's blended-df rewrite as topk_fuzzy)."""
        return self._topk_expanded(self.plan_prefix(prefix, max_expansions),
                                   k, round_to)

    # -- wildcard execution ---------------------------------------------------
    def plan_wildcard(
        self, pattern: str, max_expansions: int = 50
    ) -> dict[int, float]:
        """term_id → idf for dictionary terms matching an ES `wildcard`
        pattern (`*` = any run, `?` = exactly one char), capped at
        `max_expansions` by (df desc, term asc) — the same deterministic
        rewrite as plan_prefix.  The literal prefix before the first
        wildcard narrows the term-sorted dictionary scan to a pruned
        range (ES walks a compiled automaton over its FST; the analog
        here is range + regex over the tiny dictionary table)."""
        p = pattern.lower()
        if not p:
            return {}
        cut = min((p.index(c) for c in "*?" if c in p), default=len(p))
        scan = self.term_dict
        if cut > 0:
            lo = p[:cut]
            hi = lo[:-1] + chr(ord(lo[-1]) + 1)
            scan = scan.where((F.col("term") >= lo) & (F.col("term") < hi))
        import re as _re

        rx = "^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
            for ch in p
        ) + "$"
        rows = (
            scan.where(F.col("term").rlike(rx))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(max_expansions))
            .select("term_id", "df")
            .collect()
        )
        n = self.n_docs
        return {
            int(r["term_id"]):
                float(np.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5)))
            for r in rows
        }

    def topk_wildcard(
        self, pattern: str, k: int = 10, *, max_expansions: int = 50,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES wildcard query: the expansion plan feeds the unchanged
        WAND kernel as an OR query, each expanded term scoring with its
        own idf (same documented divergence from ES's blended-df
        rewrite as topk_prefix/topk_fuzzy)."""
        return self._topk_expanded(
            self.plan_wildcard(pattern, max_expansions), k, round_to)

    # -- full matching-set scoring (aggregation building block) ---------------
    def all_matching_scores(
        self, query_text: str, *, match_all: bool = False,
        min_match: int | None = None, round_to: int | None = None,
        with_nmatch: bool = False,
    ) -> DataFrame:
        """(doc_id, score) for EVERY doc matching `query_text` — no
        top-k truncation.  The index-backed building block every
        aggregation/relation query rides (VERDICT r04 item 1): facets,
        metric aggs, top_hits, has_child/has_parent all need the full
        matching set, which previously re-tokenized the corpus per
        query (bm25.bm25_all_scores — now demoted to oracle duty).
        Plan shape: ONE pruned postings scan (`In(term_id, …)` reaches
        the parquet scan, so at 100 TB only the query terms' posting
        blocks are read — a few MB, not the corpus), one
        applyInPandas over the existing shard partitioning (each doc
        lives in exactly one doc-range shard, so per-shard results
        concatenate with no cross-shard reduce), zero Python over
        non-matching docs.  Scores are bitwise identical to
        Searcher.topk's kernel (same decode + ascending-term fold)."""
        idf = self.plan(query_text)
        out_schema = "doc_id long, score double"
        if with_nmatch:
            out_schema += ", n_matched int"
        n_terms = len(set(analyze_query(query_text, mode=self.mode)))
        if (not idf or (match_all and len(idf) < n_terms)
                or (min_match is not None and len(idf) < min_match)):
            return local_frame(self.spark, out_schema)
        pruned = self.postings.where(
            F.col("term_id").isin([int(t) for t in idf]))
        avgdl, _idf, _ma, _mm = self.avgdl, idf, match_all, min_match
        _wn = with_nmatch

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            return shard_all_scores(pdf, idf=_idf, avgdl=avgdl,
                                    match_all=_ma, min_match=_mm,
                                    with_nmatch=_wn)

        out = _scored_partitions(pruned, scorer, out_schema)
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        return out

    def sorted_topk(
        self, sort_field: str, k: int = 10, *,
        attr_filter: dict | None = None, ascending: bool = False,
        search_after: tuple | None = None,
    ) -> DataFrame:
        """Field-sorted top-k (ES `sort` by a doc-values field,
        doc_id tie-break) on the Spark path: a column-pruned doc_attrs
        scan + orderBy/limit, which Catalyst executes as TakeOrdered —
        a per-partition k-heap, no full sort ever materializes, so the
        plan is one scan at any corpus size; `ascending` flips the
        heap's comparator, same plan.  The serving twin
        (LocalSearcher.sorted_topk) goes further and early-terminates
        on the index-sorted table built with sort_field=... — same
        rows, bitwise (integer/string fields), BOTH directions (parquet
        keeps min AND max stats, so the desc-sorted layout serves asc
        queries with the same O(k + skipped) read — a pruning ES
        itself lacks, where an asc sort over a desc index sort scans).
        NULL sort keys are never returned (ES: missing sorts last; a
        top-k never reaches them).  (doc_id, sort_field, rank)."""
        attrs = self.cat.read(ib.DOC_ATTRS_TABLE)
        if attr_filter:
            attrs = attrs.where(filters.spark_cond(attr_filter))
        if search_after is not None:
            # ES's stateless sorted cursor: strictly-after rows only;
            # the predicate pushes into the parquet scan
            av, aid = search_after[0], int(search_after[1])
            past = (F.col(sort_field) > F.lit(av) if ascending
                    else F.col(sort_field) < F.lit(av))
            attrs = attrs.where(
                past | ((F.col(sort_field) == F.lit(av))
                        & (F.col("doc_id") > F.lit(aid))))
        key = (F.asc(sort_field) if ascending else F.desc(sort_field))
        top = (
            attrs.where(F.col(sort_field).isNotNull())
            .select("doc_id", sort_field)
            .orderBy(key, F.asc("doc_id"))
            .limit(int(k))
        )
        from search_ingest_spark.ranking import ranked_asc, ranked_desc

        ranker = ranked_asc if ascending else ranked_desc
        return ranker(top, sort_field, "doc_id").select(
            "doc_id", sort_field, "rank")

    def terms_set_topk(
        self, terms: list[str], msm_expr: str, msm_cols: list[str],
        k: int = 10, *, round_to: int = 4,
    ) -> DataFrame:
        """ES `terms_set` query: docs matching at least M of `terms`
        where M comes from a PER-DOCUMENT field
        (minimum_should_match_field — `msm_expr`, a SQL expression over
        the doc-values columns `msm_cols`; ES reads a plain field, an
        expression generalizes it exactly like ES's
        minimum_should_match_script).  Matching docs score as a plain
        BM25 OR over the matched terms.

        Plan: ONE pruned postings pass (all_matching_scores
        with_nmatch=True — the kernel already tracks the per-doc
        matched-term count for match_all/min_match, so the count is
        free), a doc-values join for the per-doc threshold, and a
        TakeOrdered — the same shape as every filtered top-k, with the
        threshold evaluated doc-side instead of a global constant.
        (doc_id, score, n_matched, rank)."""
        for t in terms:
            if len(analyze_query(t, mode=self.mode)) != 1:
                raise ValueError(
                    f"terms_set terms must be single tokens, got {t!r}")
        scored = self.all_matching_scores(
            " ".join(terms), round_to=round_to, with_nmatch=True)
        attrs = self.cat.read(ib.DOC_ATTRS_TABLE).select(
            "doc_id", *dict.fromkeys(msm_cols))
        sel = (
            scored.join(attrs, "doc_id")
            .where(F.col("n_matched") >= F.expr(msm_expr))
            .select("doc_id", "score", "n_matched")
        )
        topk = sel.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
        from search_ingest_spark.ranking import ranked_desc

        return ranked_desc(topk, "score", "doc_id",
                           extra_cols=["n_matched"]).select(
            "doc_id", "score", "n_matched", "rank")

    def function_score_topk(
        self, query_text: str, field: str, k: int = 10, *,
        modifier: str = "log1p", factor: float = 1.0,
        boost_mode: str = "multiply", missing: float = 1.0,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES `function_score` with ONE field_value_factor function:
        relevance re-shaped by a stored attribute, e.g. score *
        ln(1 + n_chars) to prefer longer docs (the classic relevance-
        tuning move the reference's ES indexes support out of the box).

        score' = combine(bm25, modifier(factor * coalesce(field,
        missing))) with modifier ∈ {none, log1p, sqrt} and boost_mode ∈
        {multiply, sum} — the deterministic, oracle-able subset of ES's
        function_score.

        The modifier can REORDER docs arbitrarily, so a top-k of the
        unmodified scores is NOT a candidate superset — this rides
        all_matching_scores (pruned postings scan, the full matching
        set) and joins doc_attrs for the field, then TakeOrdered.  At
        100 TB both sides of the join are bounded by the matching set,
        never the corpus."""
        if modifier not in ("none", "log1p", "sqrt"):
            raise ValueError(f"modifier must be none|log1p|sqrt, "
                             f"got {modifier!r}")
        if boost_mode not in ("multiply", "sum"):
            raise ValueError(f"boost_mode must be multiply|sum, "
                             f"got {boost_mode!r}")
        scored = self.all_matching_scores(query_text)
        attrs = self.cat.read(ib.DOC_ATTRS_TABLE).select(
            "doc_id", F.col(field).alias("_fv"))
        fv = F.lit(float(factor)) * F.coalesce(
            F.col("_fv").cast("double"), F.lit(float(missing)))
        mod = {"none": fv, "log1p": F.log1p(fv), "sqrt": F.sqrt(fv)}[modifier]
        combined = (F.col("score") * mod if boost_mode == "multiply"
                    else F.col("score") + mod)
        out = scored.join(attrs, "doc_id").select(
            "doc_id", combined.alias("score"))
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        topk = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        from search_ingest_spark.ranking import ranked_desc

        return ranked_desc(topk, "score", "doc_id")

    def random_score_topk(
        self, query_text: str, seed: str, k: int = 10, *,
        round_to: int = 6,
    ) -> DataFrame:
        """ES function_score `random_score` with a seed + field: a
        CONSISTENTLY-random ranking of the hit set — the standard way
        to pull a reproducible random sample of matching docs (QA
        sampling, A/B slice assignment).  ES hashes (seed, field
        value); here score = md5-prefix-60bit(seed ':' doc_id) / 2⁶⁰ ∈
        [0, 1) — the module's standard engine-portable hash, so the
        oracle replays it bit-for-bit and the sample is stable across
        engines AND runs.  One pruned hit-set scan + TakeOrdered;
        nothing random at execution time.  (doc_id, score, rank)."""
        from search_ingest_spark.ops.dedup import hash_shingle_col

        hits = self.matching_doc_ids(query_text)
        key = F.concat(F.lit(str(seed)), F.lit(":"),
                       F.col("doc_id").cast("string"))
        score = F.round(
            hash_shingle_col(key).cast("double") / F.lit(float(1 << 60)),
            int(round_to))
        topk = (hits.select("doc_id", score.alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k)))
        from search_ingest_spark.ranking import ranked_desc

        return ranked_desc(topk, "score", "doc_id")

    def termvectors(self, doc_id: int) -> DataFrame:
        """ES `_termvectors` for one doc: (term, tf, df) of every term
        the doc contains.  Like ES when term vectors aren't stored,
        the doc's _source is re-analyzed on the fly — ONE doc_store
        point-read (doc_id predicate reaches the shard-partitioned,
        doc-sorted parquet scan), a driver-side analyze of that single
        text (bounded, the more_like_this pattern), and a pruned
        In(term) dictionary probe for the dfs."""
        if not self.cat.exists(ib.DOC_STORE_TABLE):
            raise ValueError(
                "termvectors requires a doc store — build the index "
                "with store_fields including the text column")
        from collections import Counter

        row = (self.cat.read(ib.DOC_STORE_TABLE)
               .where(F.col("doc_id") == int(doc_id))
               .select("text").collect())
        if not row:
            raise ValueError(f"doc {doc_id} not found in doc_store")
        tf = Counter(analyze_query(row[0]["text"], mode=self.mode))
        out_schema = "term string, tf int"
        if not tf:
            return local_frame(self.spark, out_schema + ", df long")
        tf_df = self.spark.createDataFrame(
            sorted(tf.items()), out_schema)
        dict_df = self.term_dict.where(
            F.col("term").isin(list(tf))).select("term", "df")
        return tf_df.join(F.broadcast(dict_df), "term").select(
            "term", "tf", F.col("df").cast("long").alias("df"))

    def rank_feature_topk(
        self, query_text: str, features: list[dict], k: int = 10, *,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES `rank_feature` / `distance_feature` SHOULD clauses: the
        BM25 score plus additive, bounded, monotone feature boosts from
        numeric doc-values (saturation / log / sigmoid / distance —
        bm25.feature_contrib_col, the dual-compiled spec shared with
        the oracle).  NULL feature values contribute 0 (the clause
        "doesn't match").

        Boosts can reorder arbitrarily, so this rides
        all_matching_scores (full matching set, pruned postings scan)
        + ONE doc_attrs join carrying only the feature columns, then
        TakeOrdered — the function_score plan shape.
        (doc_id, score, rank)."""
        if not features:
            raise ValueError("rank_feature_topk needs ≥1 feature spec")
        from search_ingest_spark.query.bm25 import feature_contrib_col

        contrib = None
        for spec in features:
            c = feature_contrib_col(spec)
            contrib = c if contrib is None else contrib + c
        cols = list(dict.fromkeys(f["field"] for f in features))
        scored = self.all_matching_scores(query_text)
        attrs = self.cat.read(ib.DOC_ATTRS_TABLE).select("doc_id", *cols)
        out = scored.join(attrs, "doc_id").select(
            "doc_id", (F.col("score") + contrib).alias("score"))
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        topk = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))
        from search_ingest_spark.ranking import ranked_desc

        return ranked_desc(topk, "score", "doc_id")

    def boosting_topk(
        self, positive_text: str, negative_text: str, k: int = 10, *,
        negative_boost: float = 0.5, round_to: int | None = None,
    ) -> DataFrame:
        """ES `boosting` query: docs matching the positive query keep
        their BM25 score; those ALSO matching the negative query have
        it multiplied by `negative_boost` (demoted, not excluded — the
        soft cousin of bool must_not).  Like function_score, the
        demotion can reorder arbitrarily, so this rides
        all_matching_scores (full positive matching set, pruned
        postings scan) left-anti-style against the negative HIT SET
        (postings-pruned ids only, scores never computed).  At 100 TB
        both sides are bounded by their matching sets; the join key is
        doc_id with AQE free to broadcast the (usually far smaller)
        negative side."""
        if not 0.0 <= negative_boost <= 1.0:
            raise ValueError(
                f"negative_boost must be in [0, 1], got {negative_boost}")
        scored = self.all_matching_scores(positive_text)
        neg = (self.matching_doc_ids(negative_text)
               .withColumn("_neg", F.lit(True)))
        out = scored.join(neg, "doc_id", "left").select(
            "doc_id",
            F.when(F.col("_neg").isNotNull(),
                   F.col("score") * F.lit(float(negative_boost)))
            .otherwise(F.col("score")).alias("score"),
        )
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        topk = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        from search_ingest_spark.ranking import ranked_desc

        return ranked_desc(topk, "score", "doc_id")

    def decay_score_topk(
        self, query_text: str, field: str, k: int = 10, *,
        origin: float, scale: float, offset: float = 0.0,
        decay: float = 0.5, shape: str = "gauss",
        round_to: int | None = None,
    ) -> DataFrame:
        """ES `function_score` decay functions (gauss / exp / linear):
        relevance damped by a doc value's distance from `origin` —
        "prefer recent" / "prefer near" relevance tuning.  ES contract:
        the multiplier is exactly `decay` at distance `scale` past
        `offset`, 1.0 inside the offset; with

            d = max(0, |value − origin| − offset)

        gauss  → exp(ln(decay) · (d/scale)²)
        exp    → exp(ln(decay) · d/scale)
        linear → max(0, 1 − (1 − decay) · d/scale)

        Docs with a NULL field keep multiplier 1.0 (ES skips the
        function).  Like field_value_factor, the damping can reorder
        arbitrarily, so this rides all_matching_scores (full matching
        set, pruned postings scan) joined to doc_attrs — at 100 TB
        both sides are bounded by the matching set.  Base scores,
        like rescore, are rounded BEFORE the combine and the combined
        score after, so the DuckDB oracle replays the arithmetic."""
        if shape not in ("gauss", "exp", "linear"):
            raise ValueError(f"shape must be gauss|exp|linear, got {shape!r}")
        if not 0.0 < decay < 1.0:
            raise ValueError(f"decay must be in (0, 1), got {decay}")
        if scale <= 0:
            raise ValueError(f"scale must be positive, got {scale}")
        import math

        from search_ingest_spark.ranking import ranked_desc

        scored = self.all_matching_scores(query_text, round_to=round_to)
        attrs = self.cat.read(ib.DOC_ATTRS_TABLE).select(
            "doc_id", F.col(field).alias("_fv"))
        d = F.greatest(
            F.lit(0.0),
            F.abs(F.col("_fv").cast("double") - F.lit(float(origin)))
            - F.lit(float(offset)),
        ) / F.lit(float(scale))
        ln_decay = math.log(float(decay))
        mult = {
            "gauss": F.exp(F.lit(ln_decay) * d * d),
            "exp": F.exp(F.lit(ln_decay) * d),
            "linear": F.greatest(
                F.lit(0.0), F.lit(1.0) - F.lit(1.0 - float(decay)) * d),
        }[shape]
        mult = F.when(F.col("_fv").isNull(), F.lit(1.0)).otherwise(mult)
        out = scored.join(attrs, "doc_id").select(
            "doc_id", (F.col("score") * mult).alias("score"))
        if round_to is not None:
            out = out.withColumn("score", F.round("score", round_to))
        topk = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return ranked_desc(topk, "score", "doc_id")

    def more_like_this_topk(
        self, seed_doc_id: int, k: int = 10, *,
        max_query_terms: int = 5, round_to: int | None = None,
    ) -> DataFrame:
        """ES `more_like_this` seeded by one indexed document: pick the
        seed's `max_query_terms` most representative terms, run them as
        an OR query, exclude the seed itself.

        Term selection is DETERMINISTIC-INTEGER on purpose: order by
        (seed tf desc, corpus df asc, term asc) — "frequent in the doc,
        rare in the corpus", the monotone core of ES's tf·idf selection
        heuristic without a float product whose cross-engine ulp could
        flip a tie.  The seed's text comes from the doc_store column
        family (one pruned point-read — stored fields exist exactly for
        this), term dfs from the dictionary (pruned In(term) scan
        bounded by the seed's vocabulary); the query then rides
        all_matching_scores + TakeOrdered, so at 100 TB the cost is one
        doc fetch + one ordinary pruned term query."""
        from collections import Counter

        from search_ingest_spark.ranking import ranked_desc

        if not self.cat.exists(ib.DOC_STORE_TABLE):
            raise ValueError(
                "more_like_this requires a doc store — build the index "
                "with store_fields including the text column")
        store = self.cat.read(ib.DOC_STORE_TABLE)
        row = (store.where(F.col("doc_id") == int(seed_doc_id))
               .select("text").collect())
        if not row:
            raise ValueError(
                f"seed doc {seed_doc_id} not found in doc_store")
        tf = Counter(analyze_query(row[0]["text"], mode=self.mode))
        if not tf:
            return ranked_frame(self.spark)
        dfm = {
            r["term"]: int(r["df"])
            for r in self.term_dict.where(
                F.col("term").isin(list(tf)))
            .select("term", "df").collect()
        }
        sel = sorted(dfm, key=lambda t: (-tf[t], dfm[t], t))
        sel = sel[:int(max_query_terms)]
        scored = self.all_matching_scores(" ".join(sel), round_to=round_to)
        out = scored.where(F.col("doc_id") != int(seed_doc_id))
        topk = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return ranked_desc(topk, "score", "doc_id")

    def suggest_terms(
        self, text: str, *, max_edits: int = 1, size: int = 3,
    ) -> DataFrame:
        """ES `term` suggester: per analyzed input token, dictionary
        terms within `max_edits` Levenshtein edits (the token itself
        excluded), ranked by (distance asc, df desc, term asc) — ES's
        sort=score (closer is better) with frequency tie-break.  ES
        walks an FST automaton per token; the analog is ONE Catalyst
        pass over the (vocabulary-sized, corpus-independent) dictionary
        with the tokens broadcast and a length pre-filter so the
        edit-distance evaluation touches only plausible rows, then a
        per-token window.  (token, suggestion, df, distance, rank)."""
        tokens = sorted(set(analyze_query(text, mode=self.mode)))
        out_schema = ("token string, suggestion string, df long, "
                      "distance int, rank int")
        if not tokens:
            return local_frame(self.spark, out_schema)
        from pyspark.sql import Window

        tok_df = self.spark.createDataFrame(
            [(t,) for t in tokens], "token string")
        e = int(max_edits)
        cand = (
            self.term_dict.select("term", "df")
            .join(F.broadcast(tok_df))
            .where(
                (F.abs(F.length("term") - F.length("token")) <= e)
                & (F.col("term") != F.col("token"))
                & (F.levenshtein("term", "token") <= e)
            )
            .select(
                "token", F.col("term").alias("suggestion"),
                F.col("df").cast("long").alias("df"),
                F.levenshtein("term", "token").cast("int")
                .alias("distance"),
            )
        )
        w = Window.partitionBy("token").orderBy(
            F.asc("distance"), F.desc("df"), F.asc("suggestion"))
        return (
            cand.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= int(size))
        )

    def suggest_phrases(
        self, text: str, *, max_edits: int = 1, per_token: int = 3,
        size: int = 3, edit_weight: float = 1.0, backoff: float = 0.4,
        round_to: int = 4,
    ) -> DataFrame:
        """ES `phrase` suggester ("did you mean"): whole-query
        corrections ranked by a corpus bigram language model plus an
        edit-distance channel penalty — the deterministic core of ES's
        candidate-generator + smoothed-LM design (ES default: Stupid
        Backoff, factor 0.4).

        Per position, the top `per_token` dictionary candidates within
        `max_edits` (the token itself at distance 0 when indexed; the
        raw token as a zero-frequency fallback when nothing is close).
        Every combination is scored

            log P(w₁) + Σᵢ log P(wᵢ | wᵢ₋₁) − edit_weight · Σ edits

        with P(w) = (cf(w)+1)/(total+1), P(w₂|w₁) = cnt(w₁,w₂)/start(w₁)
        when the bigram was seen, else backoff·P(w₂) — cf from the
        dictionary, cnt from the build-time bigram table
        (with_bigrams=True), total = the exact stats.sum_dl.

        Scale shape: ONE dictionary pass generates all candidates
        (vocabulary-sized, like suggest_terms), ONE pruned probe of the
        bigram table (`w1 IN (…) AND w2 IN (…)` reaches the parquet
        scan of a w1-partitioned, (w1,w2)-sorted table), and the
        ≤ per_token^T enumeration runs on the driver over those
        collected counts (score_phrase_combos, shared with the serving
        path) — exactly ES's per-shard candidate scoring, never a
        corpus scan.  (suggestion, score, rank), score rounded so the
        DuckDB oracle replays the float chain."""
        if not self.cat.exists(ib.BIGRAM_TABLE):
            raise ValueError(
                "phrase suggester requires bigram stats — build the "
                "index with with_bigrams=True")
        tokens = analyze_query(text, mode=self.mode)
        out_schema = "suggestion string, score double, rank int"
        if not tokens:
            return local_frame(self.spark, out_schema)
        if len(tokens) > 8:
            raise ValueError(
                f"phrase suggester caps input at 8 tokens, got "
                f"{len(tokens)}")
        from pyspark.sql import Window

        uniq = sorted(set(tokens))
        tok_df = self.spark.createDataFrame(
            [(t,) for t in uniq], "token string")
        e = int(max_edits)
        w = Window.partitionBy("token").orderBy(
            F.asc("distance"), F.desc("df"), F.asc("term"))
        cand_rows = (
            self.term_dict.select("term", "df", "cf")
            .join(F.broadcast(tok_df))
            .where((F.abs(F.length("term") - F.length("token")) <= e)
                   & (F.levenshtein("term", "token") <= e))
            .select("token", "term", "df", "cf",
                    F.levenshtein("term", "token").alias("distance"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(per_token))
            .collect()
        )
        by_tok: dict[str, list[tuple[str, int, int]]] = {}
        for r in cand_rows:
            by_tok.setdefault(r["token"], []).append(
                (r["term"], int(r["cf"]), int(r["distance"])))
        for t in uniq:
            if t not in by_tok:  # nothing within max_edits: keep raw
                by_tok[t] = [(t, 0, 0)]
        lists = [by_tok[t] for t in tokens]
        w1s = sorted({c[0] for li in lists[:-1] for c in li})
        w2s = sorted({c[0] for li in lists[1:] for c in li})
        cnt: dict[tuple[str, str], int] = {}
        start: dict[str, int] = {}
        if w1s and w2s:
            big = self.cat.read(ib.BIGRAM_TABLE)
            for r in (big.where(F.col("w1").isin(w1s)
                                & F.col("w2").isin(w2s))
                      .collect()):
                cnt[(r["w1"], r["w2"])] = int(r["cnt"])
            for r in (big.where(F.col("w1").isin(w1s))
                      .groupBy("w1").agg(F.sum("cnt").alias("s"))
                      .collect()):
                start[r["w1"]] = int(r["s"])
        total = int(self.cat.read(ib.STATS_TABLE).first()["sum_dl"])
        scored = score_phrase_combos(
            tokens, by_tok, cnt, start, total, backoff=backoff,
            edit_weight=edit_weight, round_to=round_to)
        data = [(sug, sc, i + 1) for i, (sug, sc) in
                enumerate(scored[:int(size)])]
        return self.spark.createDataFrame(data, out_schema)

    def explain(self, query_text: str, doc_id: int, *,
                round_to: int = 4) -> DataFrame:
        """ES `_explain` analog: the per-term BM25 breakdown of ONE
        document's score for a query — (term, tf, dl, df, idf,
        partial), one row per query term the doc actually contains,
        where partial = idf · tf-norm is exactly the contribution the
        scoring kernel folds (same op order, so the rows sum to the
        doc's Searcher score before rounding).

        Point-read shape: the postings scan is pruned to the query's
        term_ids AND to blocks whose [first_doc_id, last_doc_id]
        covers the doc — both predicates reach the parquet scan, so at
        100 TB this touches at most one block per query term (ES
        answers _explain from exactly those per-segment postings).
        The ≤|terms| decoded rows collect to the driver; idf/partial
        are computed once there with the kernel's arithmetic."""
        import pyarrow.compute as pc

        terms = sorted(set(analyze_query(query_text, mode=self.mode)))
        out_schema = ("term string, tf int, dl int, df long, "
                      "idf double, partial double")
        if not terms:
            return local_frame(self.spark, out_schema)
        tbl = self._dict_ds.to_table(
            columns=["term_id", "term", "df"],
            filter=pc.field("term").isin(terms))
        meta = {int(t): (s, int(d)) for t, s, d in zip(
            tbl["term_id"].to_pylist(), tbl["term"].to_pylist(),
            tbl["df"].to_pylist())}
        if not meta:
            return local_frame(self.spark, out_schema)
        d = int(doc_id)
        pruned = self.postings.where(
            F.col("term_id").isin(list(meta))
            & (F.col("first_doc_id") <= d) & (F.col("last_doc_id") >= d))

        def ker(pdf: pd.DataFrame) -> pd.DataFrame:
            out = {"term_id": [], "tf": [], "dl": []}
            for _, row in pdf.iterrows():
                docs, tfs, dls = decode_block(
                    row["data"], int(row["first_doc_id"]),
                    int(row["n_docs"]))
                pos = np.searchsorted(docs, d)
                if pos < len(docs) and docs[pos] == d:
                    out["term_id"].append(int(row["term_id"]))
                    out["tf"].append(int(tfs[pos]))
                    out["dl"].append(int(dls[pos]))
            return pd.DataFrame(out, dtype="int64")

        hit_rows = (pruned.groupBy("shard")
                    .applyInPandas(ker, "term_id long, tf long, dl long")
                    .collect())
        n, avgdl = self.n_docs, self.avgdl
        data = []
        for r in sorted(hit_rows, key=lambda r: meta[r["term_id"]][0]):
            term, df = meta[r["term_id"]]
            tf, dl = int(r["tf"]), int(r["dl"])
            idf = float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
            partial = idf * (
                (tf * (K1 + 1.0))
                / (tf + K1 * (1.0 - B + B * dl / avgdl)))
            data.append((term, tf, dl, df,
                         _round_half_up(idf, round_to),
                         _round_half_up(partial, round_to)))
        return self.spark.createDataFrame(data, out_schema)

    def matching_doc_ids(self, query_text: str, *,
                         match_all: bool = False,
                         min_match: int | None = None) -> DataFrame:
        """(doc_id) of every doc matching `query_text` — the hit-set
        form of all_matching_scores for filter-shaped aggregations
        (facets / stats) that never look at the score."""
        return self.all_matching_scores(
            query_text, match_all=match_all, min_match=min_match
        ).select("doc_id")

    # -- constant_score execution --------------------------------------------
    def constant_score(self, attr_filter: dict, k: int = 10, *,
                       boost: float = 1.0) -> DataFrame:
        """ES `constant_score`: filter context ONLY — every matching doc
        scores exactly `boost`, no BM25, no postings touched.  Ranked
        deterministically by doc_id asc (all scores tie).  The filter
        compiles through the shared spec (query/filters.py), so the
        predicate pushes into the doc_attrs parquet scan; at 100 TB
        this is a pruned columnar scan + TakeOrdered, no shuffle."""
        from search_ingest_spark.query import filters as _filters
        from search_ingest_spark.ranking import ranked_desc

        attrs = self.cat.read(ib.DOC_ATTRS_TABLE)
        hits = (
            attrs.where(_filters.spark_cond(attr_filter))
            .select("doc_id").orderBy(F.asc("doc_id")).limit(k)
            .withColumn("score", F.lit(float(boost)))
        )
        return ranked_desc(hits, "score", "doc_id")

    # -- regexp execution -----------------------------------------------------
    def plan_regexp(
        self, pattern: str, max_expansions: int = 50
    ) -> dict[int, float]:
        """term_id → idf for dictionary terms fully matching an ES
        `regexp` pattern (always anchored to the WHOLE term, like ES),
        capped at `max_expansions` by (df desc, term asc).  The SAFE
        literal prefix (regexp_prune_prefix: no '|' anywhere, last char
        dropped under a trailing quantifier) narrows the term-sorted
        dictionary scan to a pruned range — the same FST-walk analog as
        plan_wildcard.  Patterns should stay in the
        portable subset (classes, alternation, quantifiers) shared by
        Java regex / Python re / RE2."""
        p = pattern.lower()
        if not p:
            return {}
        scan = self.term_dict
        lo = regexp_prune_prefix(p)
        if lo:
            hi = lo[:-1] + chr(ord(lo[-1]) + 1)
            scan = scan.where((F.col("term") >= lo) & (F.col("term") < hi))
        rows = (
            scan.where(F.col("term").rlike("^(?:" + p + ")$"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(max_expansions))
            .select("term_id", "df")
            .collect()
        )
        n = self.n_docs
        return {
            int(r["term_id"]):
                float(np.log(1.0 + (n - r["df"] + 0.5) / (r["df"] + 0.5)))
            for r in rows
        }

    def topk_regexp(
        self, pattern: str, k: int = 10, *, max_expansions: int = 50,
        round_to: int | None = None,
    ) -> DataFrame:
        """ES regexp query: the expansion plan feeds the unchanged WAND
        kernel as an OR query, each expanded term scoring with its own
        idf (same documented divergence from ES's blended-df rewrite as
        topk_prefix/topk_wildcard/topk_fuzzy)."""
        return self._topk_expanded(
            self.plan_regexp(pattern, max_expansions), k, round_to)

    # -- quantized execution --------------------------------------------------
    def topk_quantized(
        self, query_text: str, k: int = 10, *, round_to: int | None = None,
    ) -> DataFrame:
        """(doc_id, score, rank) over the impact-quantized postings table
        (build_index(quantize=True)): score = Σ idf_t * (q + 0.5)/100
        with q the build-time-quantized tf-norm (codec module doc).

        Why a separate mode: the one-byte impacts shrink the decoded
        posting volume (no tf/dl varint streams) and max_impact is an
        EXACT per-block bound, so block-max pruning skips strictly more
        than the exact path's (max_tf, min_dl) proxy — the Lucene
        impact-ordered-postings idea on columnar storage.  Scores carry
        ~1% quantization noise, hence opt-in with its own oracle that
        models the same quantization (bm25.bm25_quantized_oracle_sql)."""
        from search_ingest_spark.query import reader

        idf = self.plan(query_text)
        if not idf:
            return ranked_frame(self.spark)
        if self._pq is None:
            import pyarrow.dataset as ds

            path = self.cat.data_path(ib.POSTINGS_Q_TABLE)
            self._pq = (path, ds.dataset(path, partitioning="hive"))
        path, pq = self._pq
        tids, plan = reader.plan_quantized(pq, idf)
        return self._fan_out(path, tids, plan, reader.kernel_params(
            idf, k, quantized=True, round_to=round_to))

    # -- batch execution ------------------------------------------------------
    def topk_many(
        self, queries: dict[int, str], k: int = 10, *, round_to: int | None = None,
    ) -> DataFrame:
        """Execute a whole query set in ONE Spark job.

        This is the throughput path the architecture is built for: the
        per-job scheduling overhead that dominates single-query latency
        in local mode amortizes over the set; the postings scan prunes
        to the UNION of all queries' term ids (one pass), and each
        shard scores every query against its already-materialized
        Arrow batch.  Returns (query_id, doc_id, score, rank).
        """
        plans = {qid: self.plan(text) for qid, text in queries.items()}
        plans = {qid: p for qid, p in plans.items() if p}
        out_schema = "query_id int, doc_id long, score double"
        if not plans:
            return local_frame(self.spark, out_schema + ", rank int")
        all_tids = sorted({t for p in plans.values() for t in p})
        pruned = self.postings.where(
            F.col("term_id").isin([int(t) for t in all_tids])
        )
        avgdl = self.avgdl

        def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
            frames = []
            tid_col = pdf["term_id"].to_numpy(np.int64)
            for qid, idf in plans.items():
                sub = pdf[np.isin(tid_col, list(idf))]
                res = shard_topk(sub, idf=idf, k=k, avgdl=avgdl, round_to=round_to)
                res.insert(0, "query_id", np.int32(qid))
                frames.append(res)
            return pd.concat(frames, ignore_index=True)

        per_shard = _scored_partitions(pruned, scorer, out_schema)
        if round_to is not None:
            per_shard = per_shard.withColumn("score", F.round("score", round_to))
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            per_shard.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank")
        )


def _scored_partitions(pruned: DataFrame, scorer, out_schema: str) -> DataFrame:
    """Run a shard-composable scoring kernel ONCE PER TASK instead of
    once per shard group (guide §4.1 — the boundary crossings, not the
    kernel, are the cost).  Shards are disjoint doc-id ranges, so every
    kernel in this module already composes over multi-shard frames (the
    Spark-free serving path feeds it ALL shards' blocks in one call and
    matches the Spark path bit for bit); correctness only needs each
    doc's rows whole within one task, which hash(shard) repartitioning
    guarantees.  vs groupBy("shard").applyInPandas this removes the
    per-group Sort and the per-group Arrow roundtrip — measured at 1.2M
    docs / 128 shards: ~8 ms of pure group overhead per shard, >1 s of
    a 1.6 s query.  Partition count follows
    spark.sql.shuffle.partitions (scale-adaptive, never a local
    constant); per-task memory is the task's slice of the QUERY TERMS'
    blocks — the same reduce-slice scaling as any shuffle."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = [f for f in it if len(f)]
        if frames:
            yield scorer(pd.concat(frames, ignore_index=True)
                         if len(frames) > 1 else frames[0])

    return pruned.repartition("shard").mapInPandas(trimmed(run),
                                                   schema=out_schema)


def split_banned(
    pdf: pd.DataFrame, excluded_tids: frozenset[int],
) -> tuple[pd.DataFrame, np.ndarray | None]:
    """Split one shard's postings frame into (positive rows, sorted
    banned doc ids) for ES bool `must_not` semantics: the excluded
    terms' postings blocks are decoded (one fused pass; their tf/dl
    streams are simply ignored) and their doc-id runs unioned into the
    ban set.  Doc-id
    spaces of shards are disjoint, so the split composes with the
    multi-shard merged frames of the serving path."""
    tid = pdf["term_id"].to_numpy(np.int64)
    ex_mask = np.isin(tid, np.fromiter(excluded_tids, dtype=np.int64))
    if not ex_mask.any():
        return pdf, None
    ex = pdf[ex_mask]
    d_all, _tf, _dl, _off = decode_blocks_bulk(
        list(ex["data"]),
        ex["first_doc_id"].to_numpy(np.int64),
        ex["n_docs"].to_numpy(np.int64),
    )
    return pdf[~ex_mask], np.unique(d_all)


def _bm25_model(idf: dict[int, float], avgdl: float, k1: float, b: float):
    """Scoring model for the EXACT path: per-block upper bounds from
    (max_tf, min_dl) and per-term bulk decode of (doc, tf, dl) varint
    streams into BM25 contributions.  The expressions are verbatim the
    ones shard_topk carried inline before the model split (bitwise
    identity to the oracle depends on the op order staying fixed)."""

    def block_ub(pdf: pd.DataFrame, tid: np.ndarray) -> np.ndarray:
        # Per-block upper bound from (max_tf, min_dl): the tf-norm is
        # increasing in tf and decreasing in dl, so evaluating it at
        # (max_tf, min_dl) under the CURRENT avgdl bounds every posting
        # in the block.  Inflated 1e-9 relative so float rounding can
        # never undercut a true doc score computed with the same ops.
        mtf = pdf["max_tf"].to_numpy(np.float64)
        mdl = pdf["min_dl"].to_numpy(np.float64)
        return (
            np.array([idf[t] for t in tid])
            * ((mtf * (k1 + 1.0)) / (mtf + k1 * (1.0 - b + b * mdl / avgdl)))
            * (1.0 + 1e-9)
        )

    def decode_term(t: int, data_list: list, firsts: np.ndarray,
                    ndocs: np.ndarray):
        d_all, tf, dl, offs = decode_blocks_bulk(data_list, firsts, ndocs)
        # mirrors bm25.idf_expr * bm25.tf_norm_expr, same op order —
        # per-term partial products stay bitwise identical to the
        # brute-force oracle's
        contrib_all = idf[int(t)] * (
            (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
        )
        return d_all, contrib_all, offs

    return block_ub, decode_term


def _impact_model(idf: dict[int, float]):
    """Scoring model for the QUANTIZED path: exact per-block bound from
    the stored one-byte max_impact, contributions idf*(q+0.5)/SCALE
    (codec module doc; same op order as bm25.bm25_quantized_oracle_sql)."""
    from search_ingest_spark.index.codec import (
        IMPACT_SCALE,
        decode_impact_blocks_bulk,
    )

    def block_ub(pdf: pd.DataFrame, tid: np.ndarray) -> np.ndarray:
        mimp = pdf["max_impact"].to_numpy(np.float64)
        return (
            np.array([idf[t] for t in tid])
            * ((mimp + 0.5) / IMPACT_SCALE)
            * (1.0 + 1e-9)
        )

    def decode_term(t: int, data_list: list, firsts: np.ndarray,
                    ndocs: np.ndarray):
        d_all, q_all, offs = decode_impact_blocks_bulk(
            data_list, firsts, ndocs
        )
        contrib_all = idf[int(t)] * (
            (q_all.astype(np.float64) + 0.5) / IMPACT_SCALE
        )
        return d_all, contrib_all, offs

    return block_ub, decode_term


def shard_topk(
    pdf: pd.DataFrame, *, idf: dict[int, float], k: int, avgdl: float = 1.0,
    k1: float = K1, b: float = B, match_all: bool = False,
    round_to: int | None = None, allowed: np.ndarray | None = None,
    theta0: float = -np.inf, min_match: int | None = None,
    banned: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    model=None,
    required_tids: frozenset[int] | None = None,
) -> pd.DataFrame:
    """Exact top-k for one shard's query-term postings (block-max pruning).

    `required_tids` = ES composed `bool`: the MUST subset of the query
    terms.  A doc qualifies iff it contains every required term AND at
    least `min_match` of the remaining (SHOULD) terms; ALL matched
    terms contribute additively to the score (ES's must+should
    scoring).  Mutually exclusive with match_all (which is the special
    case required_tids == all terms); when required_tids is given,
    min_match counts SHOULD matches only — ES minimum_should_match in
    the presence of must clauses.  The OR upper bounds stay valid
    (qualification only drops docs), so pruning stays exact.

    `match_all=True` = conjunctive (AND) semantics: only docs containing
    EVERY query term qualify (ES `operator: and`); the OR upper bounds
    remain valid bounds so pruning stays exact.  `min_match=m` = ES
    `minimum_should_match`: at least m distinct query terms must match
    (same bound argument — dropping non-qualifying docs can only be
    done after counting, never loosens the UB).

    `theta0` is an external score floor (already guard-adjusted by the
    caller): segments whose upper bound is below it are skipped from the
    start.  A multi-shard caller passes its global kth-best score so a
    shard processed later inherits the earlier shards' threshold —
    pruning can only drop docs provably outside the global top-k, so
    results stay exact (LocalSearcher's shared-θ serving path).

    `banned` = sorted doc ids to EXCLUDE (ES bool `must_not` on a term:
    the caller decodes the excluded terms' postings into this set).
    Dropping docs can only lower scores, so every upper bound stays
    valid and pruning stays exact.

    `model` selects the scoring arithmetic: a (block_ub, decode_term)
    pair (see _bm25_model / _impact_model); None = exact BM25.  The
    segment/prune/heap machinery is model-independent, so the quantized
    path shares every qualifier (match_all/min_match/banned/allowed/
    after) with the exact path.

    Pure function over the postings rows of ONE shard — unit-testable
    without Spark."""
    if banned is not None and len(banned) == 0:
        banned = None
    if len(pdf) == 0 or (allowed is not None and len(allowed) == 0):
        return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                             "score": pd.array([], dtype="float64")})
    term_ids = sorted(idf)
    if required_tids is not None and not required_tids <= set(term_ids):
        # a must term absent from the scored set can never be matched
        return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                             "score": pd.array([], dtype="float64")})
    block_ub, decode_term = model if model is not None else _bm25_model(
        idf, avgdl, k1, b
    )

    tid = pdf["term_id"].to_numpy(np.int64)
    ub = block_ub(pdf, tid)
    first = pdf["first_doc_id"].to_numpy(np.int64)
    last = pdf["last_doc_id"].to_numpy(np.int64)

    # --- segment the shard's doc-id space by block boundaries ------------
    # events: +ub at first, -ub after last
    starts = np.concatenate([first, last + 1])
    deltas = np.concatenate([ub, -ub])
    order = np.argsort(starts, kind="stable")
    bounds = starts[order]
    seg_ub = np.cumsum(deltas[order])
    # float-cancellation defense: sequential-sum error after i events is
    # bounded by i * eps * Σ|delta|; inflate each prefix by that bound so
    # accumulated cancellation across many block boundaries can never
    # erode a segment UB below the true bound (the prune stays exact)
    mag = np.cumsum(np.abs(deltas[order]))
    seg_ub = seg_ub + mag * (np.arange(1, len(seg_ub) + 1) * 2.3e-16)
    # merge duplicate boundaries (keep last cumsum at each boundary)
    uniq_mask = np.concatenate([bounds[1:] != bounds[:-1], [True]])
    seg_lo = bounds[uniq_mask]                      # segment start doc ids
    seg_ub = seg_ub[uniq_mask]                      # UB within [lo, next_lo)
    seg_hi = np.concatenate([seg_lo[1:] - 1, [int(last.max())]])
    live = seg_ub > 1e-12
    seg_lo, seg_hi, seg_ub = seg_lo[live], seg_hi[live], seg_ub[live]
    # cap the segment count: past a few thousand segments the Python
    # loop's fixed per-iteration cost (searchsorted + slicing + heap)
    # dominates the kernel.  Merge runs of ADJACENT segments and bound
    # the union by its members' max UB — still a valid upper bound, so
    # pruning stays exact (merely coarser) and scores/results are
    # unchanged; the per-term bulk decode makes the wider gather cheap.
    if len(seg_lo) > _MAX_SEGMENTS:
        width = -(-len(seg_lo) // _MAX_SEGMENTS)
        starts = np.arange(0, len(seg_lo), width)
        seg_ub = np.maximum.reduceat(seg_ub, starts)
        seg_hi = seg_hi[np.minimum(starts + width - 1, len(seg_hi) - 1)]
        seg_lo = seg_lo[starts]

    # --- process segments in descending-UB order with rising threshold ---
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    results_docs: list[np.ndarray] = []
    results_scores: list[np.ndarray] = []
    decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}  # row → (docs, contrib)

    # group postings rows per term for interval lookup; first/last are
    # hoisted per term ONCE — re-slicing first[rows] inside the segment
    # loop is O(term blocks) per (segment, term) and dominated the
    # kernel at corpus scale (measured 24M element-copies on one query)
    rows_by_term: dict[int, np.ndarray] = {}
    first_by_term: dict[int, np.ndarray] = {}
    last_by_term: dict[int, np.ndarray] = {}
    for t in term_ids:
        rows = np.flatnonzero(tid == t)
        rows = rows[np.argsort(first[rows], kind="stable")]
        rows_by_term[t] = rows
        first_by_term[t] = first[rows]
        last_by_term[t] = last[rows]

    datas = pdf["data"].to_numpy(object)
    ndocs = pdf["n_docs"].to_numpy(np.int64)

    # When the caller ranks on ROUNDED scores (round_to set), a doc whose
    # raw score is below the kth raw score by less than one rounding ulp
    # can still round-tie with it and win on the doc_id tie-break — so
    # both the prune threshold and the final truncation keep a guard band
    # of one ulp (10^-round_to) around the kth raw score.
    guard = 10.0 ** -round_to if round_to is not None else 0.0

    def theta() -> float:
        own = heap[0][0] - guard if len(heap) >= k else -np.inf
        return own if own > theta0 else theta0

    terms_decoded: set[int] = set()

    def ensure_term(t: int) -> None:
        """Lazy per-term BULK decode: the first segment touching any of
        t's blocks decodes ALL of t's blocks in this frame in one
        vectorized pass (decode_blocks_bulk ≈ 18x per-block decode —
        numpy call overhead dominated the serving path's kernel time);
        a term every one of whose segments prunes is never decoded.
        The contribution arithmetic lives in the model's decode_term
        (same elementwise expression order as the oracles)."""
        if t in terms_decoded:
            return
        terms_decoded.add(t)
        rows = rows_by_term[t]
        if len(rows) == 0:
            return
        d_all, contrib_all, offs = decode_term(
            t, [datas[r] for r in rows], first[rows], ndocs[rows]
        )
        for i, r in enumerate(rows):
            decoded[int(r)] = (d_all[offs[i]:offs[i + 1]],
                               contrib_all[offs[i]:offs[i + 1]])

    for si in np.argsort(-seg_ub, kind="stable"):
        if seg_ub[si] < theta():
            break  # descending order → all remaining segments prune
        lo, hi = int(seg_lo[si]), int(seg_hi[si])
        # gather contributions from every term's blocks overlapping [lo, hi],
        # in term order (deterministic float accumulation)
        seg_docs: list[np.ndarray] = []
        seg_contrib: list[np.ndarray] = []
        seg_isreq: list[bool] = []  # parallel: append came from a MUST term
        for t in term_ids:
            t_isreq = required_tids is not None and t in required_tids
            rows = rows_by_term[t]
            ft = first_by_term[t]
            lt = last_by_term[t]
            # blocks with first <= hi and last >= lo
            i0 = int(np.searchsorted(ft, lo, side="left"))
            # step back while previous block's run may cover lo
            while i0 > 0 and lt[i0 - 1] >= lo:
                i0 -= 1
            j = i0
            if j < len(rows) and ft[j] <= hi:
                ensure_term(t)
            while j < len(rows) and ft[j] <= hi:
                d, c = decoded[int(rows[j])]
                m = (d >= lo) & (d <= hi)
                if allowed is not None and m.any():
                    # filter mask: membership in the sorted allowed set
                    pos = np.searchsorted(allowed, d)
                    pos = np.minimum(pos, len(allowed) - 1)
                    m &= allowed[pos] == d
                if banned is not None and m.any():
                    # must_not mask: NON-membership in the banned set
                    pos = np.searchsorted(banned, d)
                    pos = np.minimum(pos, len(banned) - 1)
                    m &= banned[pos] != d
                if m.any():
                    seg_docs.append(d[m])
                    seg_contrib.append(c[m])
                    seg_isreq.append(t_isreq)
                j += 1
        if not seg_docs:
            continue
        # left-fold accumulation in term order: seg_docs/seg_contrib were
        # appended term-by-term (ascending term_id), and each doc occurs
        # at most once per term, so `scores_u[idx] += c` applies each
        # doc's contributions sequentially in term order — bitwise equal
        # to the oracle's sorted F.aggregate fold.  (np.add.reduceat is
        # NOT usable here: it sums pairwise, not left-to-right.)
        docs_u = np.unique(np.concatenate(seg_docs))
        scores_u = np.zeros(len(docs_u), dtype=np.float64)
        nmatch = np.zeros(len(docs_u), dtype=np.int32)
        nmatch_req = (np.zeros(len(docs_u), dtype=np.int32)
                      if required_tids is not None else None)
        for ai, (d_arr, c_arr) in enumerate(zip(seg_docs, seg_contrib)):
            idxs = np.searchsorted(docs_u, d_arr)
            scores_u[idxs] += c_arr
            nmatch[idxs] += 1
            if nmatch_req is not None and seg_isreq[ai]:
                nmatch_req[idxs] += 1
        if required_tids is not None:
            # composed bool: ALL must terms + ≥min_match should terms
            qual = (nmatch_req == len(required_tids)) & (
                nmatch - nmatch_req >= (min_match or 0)
            )
            docs_u, scores_u = docs_u[qual], scores_u[qual]
            if len(docs_u) == 0:
                continue
        else:
            need = len(term_ids) if match_all else (min_match or 0)
            if need > 1:
                qual = nmatch >= need
                docs_u, scores_u = docs_u[qual], scores_u[qual]
                if len(docs_u) == 0:
                    continue
        if after is not None:
            # search_after cursor (s, d): only docs strictly after that
            # sort position on ROUNDED scores qualify.  The test must be
            # EXACT here, not merely overinclusive: the θ heap below
            # feeds on these rows, and one cursor-adjacent spurious doc
            # (raw just above s, rounding above s) would displace the
            # true kth and inflate θ by the whole cursor-to-kth gap —
            # pruning real page-2 docs (observed on merged multi-shard
            # frames, where competition is global).  Docs outside the
            # ±guard band are resolved by the raw comparison; the few
            # ambiguous ones get the same HALF_UP decimal rounding the
            # final stage uses, so kernel and final stage agree.
            s_a, d_a = after
            if round_to is None:
                qual_a = (scores_u < s_a) | (
                    (scores_u == s_a) & (docs_u > d_a)
                )
            else:
                qual_a = scores_u < s_a - guard
                amb = ~qual_a & (scores_u <= s_a + guard)
                for i in np.flatnonzero(amb):
                    r = _round_half_up(float(scores_u[i]), round_to)
                    qual_a[i] = r < s_a or (r == s_a and int(docs_u[i]) > d_a)
            docs_u, scores_u = docs_u[qual_a], scores_u[qual_a]
            if len(docs_u) == 0:
                continue
        results_docs.append(docs_u)
        results_scores.append(scores_u)
        # update threshold heap (score asc, doc_id desc so kth = weakest)
        if k > 0:
            cand = np.argsort(-scores_u, kind="stable")[: k]
            for ci in cand:
                item = (float(scores_u[ci]), -int(docs_u[ci]))
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)

    if not results_docs:
        return pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                             "score": pd.array([], dtype="float64")})
    docs_all = np.concatenate(results_docs)
    scores_all = np.concatenate(results_scores)
    # a doc appears in exactly one segment (segments partition doc space)
    order_all = np.lexsort((docs_all, -scores_all))
    if round_to is not None and k > 0 and len(order_all) > k:
        # emit every doc within one rounding ulp of the kth raw score —
        # the global (rounded) rank stage resolves the ties exactly
        kth = scores_all[order_all[k - 1]]
        top = order_all[scores_all[order_all] >= kth - guard]
    else:
        top = order_all[:k]
    return pd.DataFrame({
        "doc_id": docs_all[top].astype(np.int64),
        "score": scores_all[top].astype(np.float64),
    })


def shard_topk_impact(
    pdf: pd.DataFrame, *, idf: dict[int, float], k: int,
    round_to: int | None = None, theta0: float = -np.inf,
    match_all: bool = False, allowed: np.ndarray | None = None,
    min_match: int | None = None, banned: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """Exact top-k under QUANTIZED scoring for one shard's impact blocks.

    Same segment/prune/merge machinery as shard_topk — literally: this
    is shard_topk under _impact_model, where contributions come from
    the one-byte impacts (idf * (q+0.5)/IMPACT_SCALE) and the per-block
    bound is idf * (max_impact+0.5)/IMPACT_SCALE — exact, so pruning is
    tighter.  "Exact" here means: the top-k under the quantized scoring
    function, which is what the quantized oracle models.  All of
    shard_topk's qualifiers (match_all/min_match/banned/allowed/after)
    apply unchanged; fixes to the shared kernel land on both paths."""
    return shard_topk(
        pdf, idf=idf, k=k, round_to=round_to, theta0=theta0,
        match_all=match_all, allowed=allowed, min_match=min_match,
        banned=banned, after=after, model=_impact_model(idf),
    )


def shard_all_scores(
    pdf: pd.DataFrame, *, idf: dict[int, float], avgdl: float = 1.0,
    k1: float = K1, b: float = B, model=None,
    match_all: bool = False, min_match: int | None = None,
    with_nmatch: bool = False,
) -> pd.DataFrame:
    """Per-doc score for EVERY matching doc of ONE shard — (doc_id,
    score), no top-k truncation.  The aggregation twin of shard_topk
    (VERDICT r04 item 1): facets / metric aggs / top_hits / relation
    queries need the full matching set, so there is no threshold to
    prune against and the block-max segment machinery would be pure
    overhead — instead every block of every query term is bulk-decoded
    once (decode_blocks_bulk, same ~18x win as the lazy path) and
    contributions fold per doc in ascending-term order, bitwise
    identical to shard_topk's accumulation and to the brute-force
    oracle's sorted F.aggregate fold.  Pure function over one shard's
    pruned postings rows — unit-testable without Spark.

    `with_nmatch=True` adds the per-doc count of matched query terms
    (already tracked for match_all/min_match) as an `n_matched` int32
    column — the terms_set query reads it."""
    empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                          "score": pd.array([], dtype="float64")})
    if with_nmatch:
        empty["n_matched"] = pd.array([], dtype="int32")
    if len(pdf) == 0:
        return empty
    _, decode_term = model if model is not None else _bm25_model(
        idf, avgdl, k1, b
    )
    tid = pdf["term_id"].to_numpy(np.int64)
    first = pdf["first_doc_id"].to_numpy(np.int64)
    datas = pdf["data"].to_numpy(object)
    ndocs = pdf["n_docs"].to_numpy(np.int64)
    term_ids = sorted(idf)
    per_term: list[tuple[np.ndarray, np.ndarray]] = []
    for t in term_ids:
        rows = np.flatnonzero(tid == t)
        if len(rows) == 0:
            continue
        rows = rows[np.argsort(first[rows], kind="stable")]
        d_all, contrib_all, _ = decode_term(
            t, [datas[r] for r in rows], first[rows], ndocs[rows]
        )
        per_term.append((d_all, contrib_all))
    if not per_term:
        return empty
    docs_u = np.unique(np.concatenate([d for d, _ in per_term]))
    scores_u = np.zeros(len(docs_u), dtype=np.float64)
    nmatch = np.zeros(len(docs_u), dtype=np.int32)
    # left-fold in ascending-term order (each doc occurs at most once
    # per term) — the same deterministic accumulation shard_topk uses
    for d_arr, c_arr in per_term:
        idxs = np.searchsorted(docs_u, d_arr)
        scores_u[idxs] += c_arr
        nmatch[idxs] += 1
    need = len(term_ids) if match_all else (min_match or 0)
    if need > 1:
        qual = nmatch >= need
        docs_u, scores_u, nmatch = docs_u[qual], scores_u[qual], nmatch[qual]
        if len(docs_u) == 0:
            return empty
    out = pd.DataFrame({"doc_id": docs_u.astype(np.int64),
                        "score": scores_u.astype(np.float64)})
    if with_nmatch:
        out["n_matched"] = nmatch.astype(np.int32)
    return out


def iter_empty(_: Iterator) -> Iterator[pd.DataFrame]:  # pragma: no cover
    yield from ()
