"""Top-k vector similarity search operators.

Re-implements the reference's search surface Spark-first:

* ``knn_exact``   — J1: single-query top-k (reference ``similarity_search``,
  /root/reference/src/app.py:240-274): broadcast the query vector as a
  literal, compute the distance as a codegen'd expression, filter by the
  score threshold, then ``orderBy().limit(k)`` which Spark compiles to
  ``TakeOrderedAndProject`` — per-partition top-k + driver merge, i.e. the
  same MPP pattern Milvus uses internally, with no full sort and no shuffle
  of the corpus.

* ``knn_batch``   — J2: N queries at once. The reference loops Python-side
  (/root/reference/src/app.py:313-315, 326-328); the engine-native
  generalization is a broadcast join of the (small) query set against the
  corpus + per-query window top-k. One scan of the corpus regardless of N —
  this is the shape that survives 100 TB.

* ``similarity_self_join`` — all pairs within a distance threshold
  (the building block for embedding-based near-dup detection).

Scale notes: the corpus side is never shuffled for knn_exact (map-side
distance + TakeOrdered). knn_batch shuffles only the per-query candidate
top-k rows (``k × n_queries`` rows, tiny) when n_queries is small enough
to broadcast, which it is by construction (queries come from a user
request, not a table).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import (
    cosine_similarity,
    l2_distance,
    score_from_distance,
)

#: Reference defaults (SURVEY.md §2.6 — these constants define parity).
DEFAULT_TOP_K = 5
DEFAULT_SCORE_THRESHOLD = 0.3
OVERFETCH_FACTOR = 3  # reference searches limit=top_k*3 then re-limits


def _vector_literal(vec) -> Column:
    """A query vector as a Catalyst array<double> literal (broadcast by
    value), built in ONE ``F.lit`` call: an ``F.array`` of per-element
    ``F.lit`` columns took ``dim + 1`` column calls (three py4j round
    trips per ``F.lit``) per request. The float64 values are the same
    ``float(x)`` doubles either way."""
    return F.lit(np.asarray(vec, dtype=np.float64))


def knn_exact(
    corpus: DataFrame,
    query_vec,
    k: int = DEFAULT_TOP_K,
    vector_col: str = "embedding",
    score_threshold: float | None = DEFAULT_SCORE_THRESHOLD,
    metric: str = "l2",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k for one query vector (the FLAT baseline).

    Returns the corpus columns + ``distance`` + ``score``, deterministic
    ties broken by ``id_col``.
    """
    q = _vector_literal(query_vec) if not isinstance(query_vec, Column) else query_vec
    if metric == "l2":
        dist = l2_distance(F.col(vector_col), q)
    elif metric == "cosine":
        dist = F.lit(1.0) - cosine_similarity(F.col(vector_col), q)
    else:
        raise ValueError(f"unknown metric {metric!r}")
    out = corpus.withColumn("distance", dist).withColumn(
        "score", score_from_distance("distance")
    )
    if score_threshold is not None:
        # P2: score >= threshold ⇔ distance <= 1 - threshold; Catalyst pushes
        # this below the top-k so discarded rows never reach the heap.
        out = out.filter(F.col("score") >= F.lit(score_threshold))
    return out.orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k)


def knn_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = DEFAULT_TOP_K,
    vector_col: str = "embedding",
    query_vector_col: str = "query_vec",
    query_id_col: str = "query_id",
    score_threshold: float | None = None,
    metric: str = "l2",
    id_col: str = "vec_id",
    impl: str = "arrow",
    with_payload: bool = True,
) -> DataFrame:
    """Per-query top-k for a (small) DataFrame of query vectors.

    ``queries`` must have ``query_id_col`` and ``query_vector_col``; any
    OTHER query columns ride along and appear in the output (so callers
    with per-query metadata — priority, fetch size, labels — never need
    a second join against the query table); their names must not collide
    with corpus columns, and neither side may use the reserved output
    names ``distance``/``score``/``rank`` (validated up front — a
    collision would otherwise corrupt or break the final projection).
    One corpus scan computes all distances;
    ``row_number`` over (query, distance) keeps k per query.

    ``impl="arrow"`` (default) computes the n×q distance block as an
    Arrow-batched numpy kernel inside ``mapInPandas``: higher-order
    Catalyst lambdas (zip_with/aggregate) are INTERPRETED, not
    codegen'd, so the expression form pays per-element object overhead
    × n × q — measured 3-4× slower than the Arrow kernel at 50k×12
    (SCALING.md). The kernel folds dimensions left-to-right in float64
    exactly like the expression (one vectorized op per dimension), so
    distances are BIT-IDENTICAL and every oracle stays hash-exact. Only
    (id, vector) crosses the Python boundary; payload columns are
    joined back for the ≤ q·k winners only, so the top-k shuffle and
    sort carry narrow rows no matter how wide the corpus is.
    ``impl="expr"`` keeps the pure-Catalyst broadcast-crossJoin form
    (zero Python — the right choice for tiny corpora or UDF-free
    environments: the Arrow path carries ~1 s of fixed cost — query
    collect, Python workers, payload join — that only amortizes once
    the corpus×queries product is large; SCALING.md has the crossover
    measurements).

    ``with_payload=False`` returns ids/distances/ranks only (plus query
    metadata) — the two-phase retrieval shape: at 100 TB you fetch
    winning documents by key afterwards instead of dragging payload
    columns through the search.
    """
    if metric not in ("l2", "cosine"):
        raise ValueError(f"unknown metric {metric!r}")
    # the generated output columns are reserved: a corpus/meta column
    # with one of these names would either collide in the final select
    # (arrow path) or be silently overwritten by withColumn (expr path)
    reserved = {"distance", "score", "rank"} & (
        set(corpus.columns)
        | {c for c in queries.columns if c != query_vector_col}
    )
    if reserved:
        raise ValueError(
            f"corpus/query columns {sorted(reserved)} collide with "
            "knn_batch's generated output columns (distance, score, rank) "
            "— rename them before searching"
        )
    # query-side columns must also not collide with corpus-side output
    # columns (the corpus id, and every payload column when
    # with_payload=True): the duplicate would surface as an
    # AMBIGUOUS_REFERENCE deep in the final projection instead of a
    # clear error here — e.g. a query table built FROM the corpus that
    # still carries the corpus id column as metadata
    corpus_out = {id_col} | (set(corpus.columns) if with_payload else set())
    clash = corpus_out & {c for c in queries.columns if c != query_vector_col}
    if clash:
        raise ValueError(
            f"query columns {sorted(clash)} collide with corpus output "
            "columns — rename them on the query side before searching"
        )
    if impl == "expr":
        return _knn_batch_expr(
            corpus, queries, k, vector_col, query_vector_col, query_id_col,
            score_threshold, metric, id_col, with_payload,
        )

    import pandas as pd

    # Canonical output column ORDER, shared by the arrow path and the
    # empty-query fallback below (which routes through the expr plan,
    # whose natural order puts corpus columns first): positional
    # consumers must not see an ordering that depends on whether the
    # query set was empty.
    meta_extra = [
        c for c in queries.columns if c not in (query_id_col, query_vector_col)
    ]
    canonical = [query_id_col, id_col, "distance", "score", *meta_extra, "rank"]
    if with_payload:
        canonical += [c for c in corpus.columns if c != id_col]

    qrows = queries.select(query_id_col, query_vector_col).collect()
    if not qrows:  # empty query set: empty result, arrow-path column order
        return _knn_batch_expr(
            corpus, queries, k, vector_col, query_vector_col, query_id_col,
            score_threshold, metric, id_col, with_payload,
        ).select(*canonical)
    qids = np.asarray([r[0] for r in qrows])  # emitted directly per row
    Q = np.vstack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    nq, dim = Q.shape
    # query-side norms for cosine, dimension-ordered fold (matches l2_norm)
    qn = np.zeros(nq)
    for j in range(dim):
        qn += Q[:, j] * Q[:, j]
    qnorm = np.sqrt(qn)
    is_l2 = metric == "l2"

    qid_type = queries.schema[query_id_col].dataType.simpleString()
    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{query_id_col}` {qid_type}, `{id_col}` {id_type}, distance double"
    )

    def _distances(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vector_col]]
            )
            n = X.shape[0]
            if is_l2:
                acc = np.zeros((n, nq))
                for j in range(dim):  # left-to-right over dims == zip_with fold
                    diff = X[:, j][:, None] - Q[:, j][None, :]
                    acc += diff * diff
                D = np.sqrt(acc)
            else:
                dot = np.zeros((n, nq))
                xn = np.zeros(n)
                for j in range(dim):
                    dot += X[:, j][:, None] * Q[:, j][None, :]
                    xn += X[:, j] * X[:, j]
                D = 1.0 - dot / (np.sqrt(xn)[:, None] * qnorm[None, :])
            yield pd.DataFrame(
                {
                    query_id_col: np.tile(qids, n),
                    id_col: pdf[id_col].to_numpy().repeat(nq),
                    "distance": D.ravel(),
                }
            )

    scored = (
        corpus.select(id_col, vector_col)
        .mapInPandas(_distances, out_schema)
        .withColumn("score", score_from_distance("distance"))
    )
    meta = queries.drop(query_vector_col)
    if set(meta.columns) != {query_id_col}:
        scored = scored.join(F.broadcast(meta), query_id_col)
    if score_threshold is not None:
        scored = scored.filter(F.col("score") >= F.lit(score_threshold))
    order = [F.col("distance").asc(), F.col(id_col).asc()]
    # two-phase top-k: partition-local k first, so the per-query sort
    # never sees more than (#partitions × k) rows per query
    w1 = Window.partitionBy(query_id_col, "__pid").orderBy(*order)
    cand = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .drop("__pid", "__r1")
    )
    w = Window.partitionBy(query_id_col).orderBy(*order)
    top = cand.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    if not with_payload:
        # ids-only results — the two-phase retrieval shape (fetch
        # payload later by key); also skips a corpus scan for callers
        # that never read the document columns
        return top.select(*canonical)
    # payload join-back: winners are ≤ q·k rows — join them (broadcast,
    # tiny) against the corpus instead of shuffling payload columns for
    # every (row, query) candidate
    return F.broadcast(top).join(corpus, id_col).select(*canonical)


def _knn_batch_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vector_col: str,
    query_vector_col: str,
    query_id_col: str,
    score_threshold: float | None,
    metric: str,
    id_col: str,
    with_payload: bool = True,
) -> DataFrame:
    q = F.broadcast(queries)
    joined = corpus.crossJoin(q)
    if metric == "l2":
        dist = l2_distance(F.col(vector_col), F.col(query_vector_col))
    else:
        dist = F.lit(1.0) - cosine_similarity(F.col(vector_col), F.col(query_vector_col))
    scored = (
        joined.withColumn("distance", dist)
        .withColumn("score", score_from_distance("distance"))
        .drop(query_vector_col)
    )
    if score_threshold is not None:
        scored = scored.filter(F.col("score") >= F.lit(score_threshold))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    out = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    if not with_payload:
        payload = [c for c in corpus.columns if c != id_col]
        out = out.drop(*payload)
    return out


def similarity_self_join(
    corpus: DataFrame,
    max_distance: float,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "l2",
) -> DataFrame:
    """All ordered pairs (a < b) within ``max_distance``.

    At test SF this is a broadcast O(n²) pass; at 100 TB you never run the
    raw form — use the LSH/IVF-bucketed variants in ``operators.dedup`` /
    ``index.ivf`` which bucket first and only pair within buckets. Kept as
    the exact oracle-checkable baseline.
    """
    left = corpus.select(
        F.col(id_col).alias("a_id"), F.col(vector_col).alias("a_vec")
    )
    right = corpus.select(
        F.col(id_col).alias("b_id"), F.col(vector_col).alias("b_vec")
    )
    pairs = left.join(F.broadcast(right), F.col("a_id") < F.col("b_id"))
    if metric == "l2":
        dist = l2_distance(F.col("a_vec"), F.col("b_vec"))
    elif metric == "cosine":
        dist = F.lit(1.0) - cosine_similarity(F.col("a_vec"), F.col("b_vec"))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        pairs.withColumn("distance", dist)
        .filter(F.col("distance") <= F.lit(max_distance))
        .select("a_id", "b_id", "distance")
    )


def knn_grouped(
    corpus: DataFrame,
    query_vec,
    k: int = DEFAULT_TOP_K,
    group_col: str = "chapter",
    group_size: int = 1,
    vector_col: str = "embedding",
    metric: str = "l2",
    id_col: str = "vec_id",
) -> DataFrame:
    """Grouping search (Milvus 2.4 ``group_by_field`` semantics): the
    top-k *groups* by their best hit, each represented by its
    ``group_size`` best rows — result diversity across e.g. chapters
    instead of k near-identical chunks from one document.

    Shape: per-group top rows via a window over the group key (one
    shuffle on the group key, map-side distance), then the tiny
    one-row-per-group table ranks globally — the corpus is scanned once
    and never broadcast or re-shuffled.
    """
    q = _vector_literal(query_vec) if not isinstance(query_vec, Column) else query_vec
    if metric == "l2":
        dist = l2_distance(F.col(vector_col), q)
    elif metric == "cosine":
        dist = F.lit(1.0) - cosine_similarity(F.col(vector_col), q)
    else:
        raise ValueError(f"unknown metric {metric!r}")
    scored = corpus.withColumn("distance", dist).withColumn(
        "score", score_from_distance("distance")
    )
    in_group = Window.partitionBy(group_col).orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    best = (
        scored.withColumn("group_rank", F.row_number().over(in_group))
        .filter(F.col("group_rank") <= group_size)
    )
    # the group_rank==1 row IS the group's best hit — rank groups by it
    # (TakeOrdered over one row per group, no second window pass)
    top_groups = (
        best.filter(F.col("group_rank") == 1)
        .orderBy(F.col("distance").asc(), F.col(group_col).asc())
        .limit(k)
        .select(group_col)
    )
    return (
        best.join(F.broadcast(top_groups), group_col)
        .select(group_col, id_col, "group_rank", "distance", "score")
    )


def knn_range(
    corpus: DataFrame,
    query_vec,
    radius: float,
    range_filter: float | None = None,
    vector_col: str = "embedding",
    metric: str = "l2",
    id_col: str = "vec_id",
) -> DataFrame:
    """Range search (Milvus 2.4 ``radius``/``range_filter`` semantics for
    distance metrics): all rows with ``range_filter <= distance < radius``
    — no k limit; the band filter is a pure map-side predicate, so the
    plan is scan → filter with zero shuffle (callers paginate/iterate).
    """
    q = _vector_literal(query_vec) if not isinstance(query_vec, Column) else query_vec
    if metric == "l2":
        dist = l2_distance(F.col(vector_col), q)
    elif metric == "cosine":
        dist = F.lit(1.0) - cosine_similarity(F.col(vector_col), q)
    else:
        raise ValueError(f"unknown metric {metric!r}")
    out = (
        corpus.withColumn("distance", dist)
        .filter(F.col("distance") < F.lit(float(radius)))
    )
    if range_filter is not None:
        out = out.filter(F.col("distance") >= F.lit(float(range_filter)))
    return out.select(id_col, "distance")


def knn_truncated_rerank(
    corpus: DataFrame,
    query_vec,
    k: int = DEFAULT_TOP_K,
    prefix_dims: int = 16,
    overfetch: int = 3,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Index-free two-stage search on truncated dimensions (the
    matryoshka-embedding pattern): approximate top-(k·overfetch) using
    only the first ``prefix_dims`` components (4x fewer flops at
    prefix 16/64, and with a column of pre-sliced prefixes, 4x less IO),
    then exact rerank on the full vectors. Both stages are map-side +
    TakeOrdered — no shuffle, no index to maintain."""
    q_prefix = F.array(*[F.lit(float(x)) for x in query_vec[:prefix_dims]])
    q_full = F.array(*[F.lit(float(x)) for x in query_vec])
    approx = (
        corpus.withColumn(
            "approx_distance",
            l2_distance(F.slice(F.col(vector_col), 1, prefix_dims), q_prefix),
        )
        .orderBy(F.col("approx_distance").asc(), F.col(id_col).asc())
        .limit(k * overfetch)
    )
    return (
        approx.withColumn("distance", l2_distance(F.col(vector_col), q_full))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "distance")
    )


def knn_page(
    corpus: DataFrame,
    query_vec,
    k: int = DEFAULT_TOP_K,
    offset: int = 0,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Paginated top-k (the Milvus ``search_iterator`` / ``offset`` param):
    page p of size k = ranks (offset, offset+k] of the global distance
    order. Executes as TakeOrdered of offset+k rows (tiny) + a window over
    just those rows — the corpus itself is never shuffled, so iterating
    pages costs one map-side scan per page at any corpus size."""
    q = _vector_literal(query_vec)
    top = (
        corpus.withColumn("distance", l2_distance(F.col(vector_col), q))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(offset + k)
    )
    w = Window.orderBy(F.col("distance").asc(), F.col(id_col).asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") > offset)
        .select(id_col, "distance", "rank")
    )
