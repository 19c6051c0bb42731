"""Okapi BM25 full-text ranking over a document corpus.

Extension beyond the reference surface (the reference delegates lexical
relevance to its vector store's full-text search; the keyword-priority
ranking it does implement — ``/root/reference/src/app.py`` multi-strategy
search — is covered by ``operators/multi_strategy.py``). This is the
engine-side analog: score documents against a small bag of query terms
with BM25 and return the global top-k.

Scale shape (the part that must survive 100 TB):

- ONE corpus scan feeds everything: per-doc term frequencies for the
  query terms (shuffle keyed on ``doc_id``), per-doc token length
  (map-side ``size()``, no explode), and the corpus-level statistics
  (N, total token count, per-term document frequencies) as partial+final
  aggregations that reduce to a SINGLE broadcast row — no join on the
  term dimension at all.
- Docs containing none of the query terms are filtered *before* the
  ``groupBy`` (predicate on the exploded term), so the shuffled volume is
  proportional to the posting lists of the query terms, not the corpus.
- The final top-k is ``orderBy().limit()`` → TakeOrderedAndProject:
  per-partition heaps + a k-row driver merge, never a global sort.

Bit-exactness discipline (required for the DuckDB value-hash oracle):
every floating-point input is integer-exact (term counts, doc lengths,
document frequencies, N), and the per-document score is a FIXED-ORDER
sum of per-term contributions (explicit ``c1 + c2 + ... + cn`` columns,
never an ``agg(sum(...))`` over doubles whose partition order could vary).

Plan-building rule (shared with ``index/inverted.py``): a per-request
plan is built from SQL TEXT in one ``spark.sql`` call, not ``Column``
node by node, and user text reaches it only as a parameter. Every
``F.col``/``F.lit``/operator on a Python ``Column`` costs py4j round
trips — ``F.lit`` takes three, about 0.3 ms on a 4-core host — so a
6-term inverted search built node by node took ~2,500 round trips
(~410 ms), more than running the finished plan. Built as below it takes
~70 (45 fixed plus 4 per term; ~120 ms, most of it Spark's own parse and
analysis). ``bm25_plan`` emits the tf/df pivots and the score as one
``spark.sql`` statement over the caller's candidate rows; the query
terms bind as named parameters ``:t0 .. :tn`` (``spark.sql(...,
args=...)``), never spliced into the text, so a term holding a quote, a
brace, ``:name`` or ``--`` is just a string to match.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.text import extract_tokens

#: Okapi defaults (Robertson et al.; also Lucene's and Milvus 2.5's
#: full-text-search defaults).
K1 = 1.2
B = 0.75


def sql_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier that survives ``spark.sql``'s
    ``{frame}`` formatting (backticks doubled, braces doubled)."""
    quoted = "`" + name.replace("`", "``") + "`"
    return quoted.replace("{", "{{").replace("}", "}}")


def bm25_score_sql(tf_cols: Sequence[str], df_cols: Sequence[str]) -> str:
    """SQL text of the BM25 score over named tf/df column pairs (doubles
    of exact integers), ``__dl`` (int token count) and ``__n``/``__tot``
    (double corpus stats). Literals are DOUBLE literals written as in the
    oracle SQL (``2.2D`` not K1+1.0, ``0.25D`` not 1-B) so both engines
    round the same decimal text to the same double; ``ln`` is the
    natural log ``F.log`` compiles to; the per-term contributions sum in
    one fixed left-to-right order."""
    dl = "CAST(__dl AS DOUBLE)"
    contribs = [
        f"(ln(1.0D + (__n - {df} + 0.5D) / ({df} + 0.5D))"
        f" * (({tf} * 2.2D) / ({tf} + 1.2D * (0.25D + 0.75D * {dl} / (__tot / __n)))))"
        for tf, df in zip(tf_cols, df_cols)
    ]
    return " + ".join(contribs)


def bm25_score_expr_for(tf_cols: Sequence[str], df_cols: Sequence[str]) -> Column:
    """The BM25 score as ONE ``F.expr`` over named tf/df column pairs
    (``bm25_score_sql``) — one JVM call however many terms."""
    return F.expr(bm25_score_sql(tf_cols, df_cols))


def bm25_plan(
    spark: SparkSession,
    terms: Sequence[str],
    rows: DataFrame,
    stats: DataFrame,
    select: str,
    *,
    id_col: str,
    tf: str,
    lens: DataFrame | None = None,
) -> DataFrame:
    """The one BM25 plan builder (scan scorer, inverted single and batch
    search): ``select`` runs over a relation ``scored`` holding, per doc
    with ≥1 of ``terms``, ``id_col``, ``__tf{i}``/``__df{i}`` for
    ``terms[i]``, ``__dl``, ``__n`` and ``__tot``.

    ``rows`` are candidate ``(id_col, term, …)`` rows; ``tf`` is the SQL
    text of one row's term count (``"1"`` for exploded tokens, ``"tf"``
    for postings). Doc lengths come from ``lens`` ``(id_col, __dl)`` when
    given, else from the ``__dl`` the rows carry (``max`` — every row of
    a doc carries the same value). ``stats`` is the 1-row
    ``(__n, __tot)``; it and the 1-row df aggregate reach the scorer as
    broadcasts. Per-term tf pivots (one groupBy on the doc) and
    document frequencies (``count(DISTINCT …)`` over the same filtered
    rows) match the term as the parameter ``:t{i}`` (module docstring)."""
    i_d = sql_ident(id_col)
    marks = ", ".join(f":t{i}" for i in range(len(terms)))
    tfs = "".join(
        f", CAST(sum(CASE WHEN term = :t{i} THEN {tf} ELSE 0 END) AS DOUBLE) AS __tf{i}"
        for i in range(len(terms))
    )
    dfs = ", ".join(
        f"CAST(count(DISTINCT CASE WHEN term = :t{i} THEN {i_d} END) AS DOUBLE) AS __df{i}"
        for i in range(len(terms))
    )
    frames = {"rows": rows, "stats": stats}
    if lens is None:
        tfs += ", max(__dl) AS __dl"
        join = ""
    else:
        frames["lens"] = lens
        join = f"JOIN {{lens}} USING ({i_d})"
    query = f"""
WITH hits AS (SELECT * FROM {{rows}} WHERE term IN ({marks})),
tfs AS (SELECT {i_d}{tfs} FROM hits GROUP BY {i_d}),
dfs AS (SELECT {dfs} FROM hits),
scored AS (
  SELECT /*+ BROADCAST(dfs, stats) */ *
  FROM tfs {join} CROSS JOIN dfs CROSS JOIN {{stats}} AS stats
)
{select}"""
    args = {f"t{i}": t for i, t in enumerate(terms)}
    return spark.sql(query, args, **frames)


def bm25_scores(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(id_col, bm25)`` for every document containing ≥1 query term,
    with the UNROUNDED double score (callers round at their output edge).

    IDF uses the Lucene form ``ln(1 + (N - df + 0.5) / (df + 0.5))``
    (always positive, unlike the raw Robertson IDF).

    Per-doc tf for each query term is pivoted into fixed columns (one
    shuffle keyed on the doc) and the per-term document frequencies are
    ONE 1-row aggregate over the same term-filtered token rows; both
    come from ``bm25_plan``.
    """
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")

    toks = extract_tokens(F.col(text_col))
    tok = docs.select(id_col, F.explode(toks).alias("term"))
    # N and total token count come from the un-exploded side (a doc with
    # zero tokens must still count toward both). Integer sums stay exact;
    # the double casts happen once at the end.
    dl = docs.select(F.col(id_col), F.size(toks).alias("__dl"))
    totals = docs.select(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(F.size(toks)).cast("double").alias("__tot"),
    )
    score = bm25_score_sql(
        [f"__tf{i}" for i in range(len(terms))],
        [f"__df{i}" for i in range(len(terms))],
    )
    i_d = sql_ident(id_col)
    return bm25_plan(
        docs.sparkSession, terms, tok, totals,
        f"SELECT {i_d}, {score} AS bm25 FROM scored",
        id_col=id_col, tf="1", lens=dl,
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by BM25 score against ``query_terms``:
    ``(id_col, bm25)`` rounded to 6 places, ordered by score desc then id
    asc (deterministic tiebreak so the LIMIT is stable across engines and
    partitionings)."""
    return (
        bm25_scores(docs, query_terms, id_col=id_col, text_col=text_col)
        .select(F.col(id_col), F.round(F.col("bm25"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )
