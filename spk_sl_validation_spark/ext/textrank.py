"""TextRank keyword extraction: PageRank over the token-adjacency graph.

North-star text-analysis extension (Mihalcea & Tarau 2004): build an
undirected co-occurrence graph over corpus tokens (edge weight = count
of adjacent occurrences), run damped PageRank iterations, rank tokens
by final score. One loop, the shape of ``graph.pagerank`` and
``cluster.kmeans``: one join + one aggregate per iteration, a lazy
``localCheckpoint`` to truncate lineage, ``N_ITER`` fixed iterations
(the registered query and its oracle) or, with ``eps``, until the
L∞ score change falls to ``eps``.

Determinism: each neighbor contribution is rounded to 12 decimals and
summed as exact DECIMAL(28,12), which no summation order can change,
so after any number of iterations the scores are bit-identical to the
DuckDB oracle's unrolled replay. No tolerance.

Scale shape: the graph is vocabulary-bounded (edges ≤ distinct
bigrams), typically millions of nodes for a 100 TB corpus — a small
DataFrame relative to the corpus. The expensive step is the one
corpus-wide bigram count; iterations then run on the compact graph,
shuffling only (node, score) rows keyed by token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spk_sl_validation_spark.ext.graph import linf_delta
from spk_sl_validation_spark.ext.hashing import ws_tokens

DAMPING = 0.85
N_ITER = 3  # fixed iterations of the registered keyword query and its oracle
TOP_K = 20  # keywords kept by the registered query and its oracle


def token_adjacency_edges(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(u, v, w): symmetric token-adjacency edge weights (self-loops
    dropped). One posexplode + window lead (the shingle_rows shape) +
    one vocabulary-bounded aggregate."""
    toks = df.select(F.col(id_col), F.posexplode(ws_tokens(text_col)).alias("pos", "tok"))
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    adj = toks.select(
        F.col("tok").alias("u"), F.lead("tok").over(w_doc).alias("v")
    ).filter(F.col("v").isNotNull() & (F.col("u") != F.col("v")))
    sym = adj.unionByName(adj.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return sym.groupBy("u", "v").agg(F.count(F.lit(1)).alias("w"))


def _frac_edges(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Degree-normalized adjacency (u, v, frac): checkpointed once, the
    relation every iteration joins against."""
    edges = token_adjacency_edges(df, id_col, text_col).localCheckpoint(eager=True)
    deg = edges.groupBy("u").agg(F.sum("w").alias("wdeg"))
    return (
        edges.join(deg, "u")
        .select("u", "v", (F.col("w").cast("double") / F.col("wdeg").cast("double")).alias("frac"))
        .localCheckpoint(eager=True)
    )


def _textrank_step(frac_edges: DataFrame, scores: DataFrame) -> DataFrame:
    """One synchronous damped update of :func:`textrank_scores`."""
    contribs = frac_edges.join(scores, frac_edges.u == scores.tok).select(
        F.col("v"),
        F.round(F.col("score") * F.col("frac"), 12).cast("decimal(28,12)").alias("c"),
    )
    return (
        contribs.groupBy(F.col("v").alias("tok"))
        .agg(F.sum("c").alias("__sum"))
        .select(
            "tok",
            (
                F.lit(1 - DAMPING)
                + F.lit(DAMPING) * F.round(F.col("__sum").cast("double"), 12)
            ).alias("score"),
        )
    )


def textrank_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_iter: int = N_ITER,
    eps: float | None = None,
) -> tuple[DataFrame, int]:
    """(tok, score): damped PageRank over the adjacency graph from
    uniform init 1.0. Returns ``(scores, n_iterations_run)``.

    score(v) ← 0.15 + 0.85 · Σ_u score(u)·w(u,v)/wdeg(u); each
    contribution is rounded to 12 decimals and summed as exact
    DECIMAL(28,12) — order-independent and identical across engines,
    so the aggregate is a plain codegen'd hash aggregate (the same
    round-then-exact-decimal rule as the LM scorers; replaces the
    interpreted position-ordered fold).

    ``n_iter`` fixed synchronous iterations (the oracle mode), or —
    when ``eps`` is given — iterate until the max per-token score
    change ≤ ``eps`` (L∞, ``ext/graph.py`` :func:`linf_delta`) with
    ``n_iter`` as the cap. With ``eps=0.0`` and the same cap the
    scores are bit-identical to the fixed mode (pinned by test).
    """
    # Pre-divide each edge by its source degree once: contributions are
    # then score(u) * frac — one multiply per edge per iteration.
    frac_edges = _frac_edges(df, id_col, text_col)
    scores = frac_edges.select(F.col("u").alias("tok")).distinct().select(
        "tok", F.lit(1.0).alias("score")
    )
    it = 0
    for it in range(1, n_iter + 1):
        prev = scores
        # lazy: materialized once at first use (the delta probe's job
        # in eps mode), so each iteration reads the previous one's rows
        scores = _textrank_step(frac_edges, prev).localCheckpoint(eager=False)
        if eps is not None and linf_delta(scores, prev, "tok", "score") <= eps:
            break
    return scores, it


def textrank_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_iter: int = N_ITER,
    top_k: int = TOP_K,
) -> DataFrame:
    """(tok, score, rank): the corpus's top-k TextRank keywords."""
    scores, _ = textrank_scores(df, id_col, text_col, n_iter)
    w = Window.orderBy(F.col("score").desc(), F.col("tok").asc())
    return scores.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= top_k)


def textrank_keywords_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`textrank_keywords` at ``N_ITER`` and
    ``TOP_K``: the same iterations unrolled as chained CTEs — the
    oracle is literally iteration-by-iteration replay."""
    toks = rf"string_split_regex(trim({text_col}), '\s+')"
    iters = []
    prev = "r0"
    for i in range(1, N_ITER + 1):
        iters.append(
            f"""r{i} AS (
  SELECT fe.v AS tok,
         {1 - DAMPING!r} + {DAMPING!r} * round(
           CAST(sum(CAST(round(r.score * fe.frac, 12) AS DECIMAL(28,12))) AS DOUBLE), 12)
           AS score
  FROM fe JOIN {prev} r ON r.tok = fe.u
  GROUP BY fe.v
)"""
        )
        prev = f"r{i}"
    iter_sql = ",\n".join(iters)
    return f"""
WITH t AS (
  SELECT {id_col}, u.pos, u.tok FROM (
    SELECT {id_col},
           unnest(list_transform(range(1, len(tk) + 1),
                  i -> struct_pack(pos := i, tok := tk[i]))) AS u
    FROM (SELECT {id_col}, {toks} AS tk FROM {table})
  )
),
adj AS (
  SELECT tok AS u, lead(tok) OVER (PARTITION BY {id_col} ORDER BY pos) AS v
  FROM t
),
e0 AS (SELECT u, v FROM adj WHERE v IS NOT NULL AND u <> v),
edges AS (
  SELECT u, v, count(*) AS w
  FROM (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0)
  GROUP BY u, v
),
deg AS (SELECT u, sum(w) AS wdeg FROM edges GROUP BY u),
fe AS (
  SELECT e.u, e.v, CAST(e.w AS DOUBLE) / CAST(d.wdeg AS DOUBLE) AS frac
  FROM edges e JOIN deg d ON e.u = d.u
),
r0 AS (SELECT DISTINCT u AS tok, CAST(1.0 AS DOUBLE) AS score FROM edges),
{iter_sql},
ranked AS (
  SELECT tok, score, row_number() OVER (ORDER BY score DESC, tok ASC) AS rank
  FROM {prev}
)
SELECT tok, score, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {TOP_K}
"""
