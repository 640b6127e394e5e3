"""Global top-k rank assignment without a global window.

`Window.orderBy(...)` with no partition spec funnels rows through a
single-partition WindowExec and logs a perf warning on every query.  All
our uses rank an ALREADY-limited result (k rows, post
TakeOrderedAndProject), so the scalable formulation is a single no-key
aggregate: collect the k rows into one array, sort it (score desc, id
asc — identical to the orderBy the limit used), posexplode, and
rank = pos + 1.  Pure JVM (whole-stage codegen around a one-group
HashAggregate), no WindowExec, bitwise-identical ordering.

r07 (guide §1.2, measured): the original formulation sorted with an
`array_sort` Python-built LAMBDA comparator — constructing that
comparator tree cost 70-130 ms of driver-side Py4J per query, ~30% of a
warm top-k's wall in local mode, and the interpreted lambda also runs
per comparison at execution.  The sort is now expressed through
`sort_array`'s native struct ordering (codegen, no lambda):

- numeric id  → sort struct(score, -id, payload) DESCENDING:
  score desc, then -id desc == id asc.  Works for ANY orderable score
  type (doubles, longs, strings — `F.desc` and struct-field ordering
  use the same comparator).
- else numeric score (string id, e.g. msearch's `_mid`) → sort
  struct(-score, id, payload) ASCENDING: -score asc == score desc,
  then id asc.  Negation maps every 0.0 to -0.0 uniformly, so
  within-frame ordering is unaffected.
- neither numeric → TypeError: no caller ranks such a frame, and the
  lambda comparator that once served it was dropped.

Tie depth: every caller ranks frames whose id column is unique
(doc_id / vec_id / term / composed `_mid`), so the payload fields
appended after the sort keys are never reached by the comparison —
ordering is exactly the old comparator's.  Oracle-verified: the full
187-query sweep is bit-identical across the rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _is_numeric(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, T.NumericType)


def _explode_ranked(
    ranked: Column, id_col: str, key_col: str, extras: list[str],
    rank_col: str, df: DataFrame,
) -> DataFrame:
    return (
        df.agg(ranked.alias("_ranked"))
        .select(F.posexplode("_ranked").alias("_pos", "_row"))
        .select(
            F.col(f"_row.{id_col}").alias(id_col),
            F.col(f"_row.{key_col}").alias(key_col),
            (F.col("_pos") + 1).cast("int").alias(rank_col),
            *[F.col(f"_row.{c}").alias(c) for c in extras],
        )
    )


def ranked_desc(
    df: DataFrame, score_col: str, id_col: str, *, rank_col: str = "rank",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Append 1-based `rank` ordered by (score desc, id asc).

    Input is expected to be small (a top-k result); the aggregate runs as
    one group.  Output columns: (id_col, score_col, rank_col) in rank
    order, plus any `extra_cols` carried through the sort struct
    unchanged (they never participate in the ordering — every caller's
    id column is unique, see module doc).

    Raises TypeError when neither column is numeric.  Preconditions,
    not checked here: scores are finite and ids are
    unique.  A NaN score sorts above every number (Spark's NaN order)
    instead of tying; duplicate ids let the extra columns decide ties.
    The top-k front-ends check their scores before ranking
    (query.reader.merge_candidates rejects NaN).
    """
    extras = list(extra_cols or [])
    if _is_numeric(df, id_col):
        # struct(score, -id, id, payload...) sorted DESC:
        # score desc, tie -> -id desc == id asc
        arr = F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(score_col),
                    (-F.col(id_col)).alias("_negid"),
                    F.col(id_col),
                    *[F.col(c) for c in extras],
                )
            ),
            asc=False,
        )
    elif _is_numeric(df, score_col):
        # struct(-score, id, score, payload...) sorted ASC:
        # -score asc == score desc, tie -> id asc
        arr = F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col(score_col)).alias("_negscore"),
                    F.col(id_col),
                    F.col(score_col),
                    *[F.col(c) for c in extras],
                )
            ),
            asc=True,
        )
    else:
        raise TypeError(
            f"ranked_desc needs a numeric score or id column; "
            f"{score_col!r} is {df.schema[score_col].dataType.simpleString()}"
            f" and {id_col!r} is {df.schema[id_col].dataType.simpleString()}")
    return _explode_ranked(arr, id_col, score_col, extras, rank_col, df)


def ranked_asc(
    df: DataFrame, key_col: str, id_col: str, *, rank_col: str = "rank",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Append 1-based `rank` ordered by (key asc, id asc) — the
    ascending twin of :func:`ranked_desc`, same no-window one-group
    aggregate.  Plain ascending struct ordering needs no negation at
    all: struct(key, id, payload...) ASC is (key asc, id asc) with the
    payload unreachable behind the unique id.

    Same preconditions as :func:`ranked_desc`, not checked here: keys
    are finite (a NaN key sorts last instead of tying) and ids are
    unique (duplicates let the extra columns decide ties)."""
    extras = list(extra_cols or [])
    arr = F.sort_array(
        F.collect_list(
            F.struct(F.col(key_col), F.col(id_col),
                     *[F.col(c) for c in extras])
        ),
        asc=True,
    )
    return _explode_ranked(arr, id_col, key_col, extras, rank_col, df)
