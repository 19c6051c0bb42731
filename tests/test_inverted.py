"""Inverted-index layout: build/search parity is covered by the driver
oracle (text_bm25_inverted_topk == full-scan SQL) and the plan test; here
we pin the append path and the sparse scorer's semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from vector_db_example_spark.index.inverted import (
    append_to_inverted_index,
    bm25_search_inverted,
    build_inverted_index,
    sparse_dot_topk,
)
from vector_db_example_spark.sources.tables import load_table


def test_append_equals_full_build(spark, tmp_path):
    """Index built on 70% + append of 30% must score identically to an
    index built on 100% (stats summed incrementally, dfs recomputed from
    postings — nothing stored goes stale)."""
    docs = load_table(spark, SF_SMOKE, "documents")
    part1 = docs.filter(F.col("doc_id") % 10 < 7)
    part2 = docs.filter(F.col("doc_id") % 10 >= 7)

    idx_incr = build_inverted_index(part1, str(tmp_path / "incr"), n_buckets=16)
    append_to_inverted_index(idx_incr, part2)
    idx_full = build_inverted_index(docs, str(tmp_path / "full"), n_buckets=16)

    terms = ("vector", "stream", "window")
    got = bm25_search_inverted(spark, idx_incr, terms, k=10).collect()
    want = bm25_search_inverted(spark, idx_full, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_sparse_dot_matches_brute_force(spark, tmp_path):
    from vector_db_example_spark.functions.text import extract_tokens

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = build_inverted_index(docs, str(tmp_path / "idx"), n_buckets=16)
    weights = {"vector": 1.5, "table": 0.5}
    got = {
        r.doc_id: r.sparse_score
        for r in sparse_dot_topk(spark, idx, weights, k=5).collect()
    }
    toks = docs.select(
        "doc_id", F.explode(extract_tokens(F.col("text"))).alias("term")
    )
    brute = (
        toks.filter(F.col("term").isin(list(weights)))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.lit(1.5)
                * F.sum(F.when(F.col("term") == "vector", 1).otherwise(0)).cast("double")
                + F.lit(0.5)
                * F.sum(F.when(F.col("term") == "table", 1).otherwise(0)).cast("double"),
                6,
            ).alias("sparse_score")
        )
        .orderBy(F.col("sparse_score").desc(), F.col("doc_id").asc())
        .limit(5)
        .collect()
    )
    assert got == {r.doc_id: r.sparse_score for r in brute}


def test_compact_preserves_scores(spark, tmp_path):
    """Build + append + compact must score identically to the
    pre-compaction layout (and to a clean full build)."""
    from vector_db_example_spark.index.inverted import compact_inverted_index

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = build_inverted_index(
        docs.filter(F.col("doc_id") % 2 == 0), str(tmp_path / "idx"), n_buckets=16
    )
    append_to_inverted_index(idx, docs.filter(F.col("doc_id") % 2 == 1))
    compacted = compact_inverted_index(spark, idx, str(tmp_path / "compacted"))

    terms = ("vector", "stream", "window")
    before = bm25_search_inverted(spark, idx, terms, k=10).collect()
    after = bm25_search_inverted(spark, compacted, terms, k=10).collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    # compaction really merged: one row per (term, doc)
    posts = spark.read.parquet(compacted.postings_path)
    assert posts.count() == posts.select("term", "doc_id").distinct().count()


def test_stream_ingest_into_inverted_layout(spark, tmp_path):
    """Documents streamed into an inverted layout must make it score
    identically to a batch build over the union, and a replay on the
    same checkpoint must be a no-op (markers)."""
    from vector_db_example_spark.streaming.ingest import (
        stream_ingest_documents_into_inverted,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    # seed with the empty corpus shape: build on a 0-row slice is not
    # meaningful, so seed with a fifth and stream the rest in
    seed = docs.filter(F.col("doc_id") % 5 == 0)
    rest_count = docs.count() - seed.count()
    idx = build_inverted_index(seed, str(tmp_path / "idx"), n_buckets=16)

    # stream the whole table; re-appending seed docs would corrupt tf —
    # so filter inside the stream the same way the batch seed did
    from vector_db_example_spark.streaming import ingest as ingest_mod

    orig_reader = ingest_mod.read_documents_stream

    def filtered_reader(spark_, sf_dir_):
        return orig_reader(spark_, sf_dir_).filter(F.col("doc_id") % 5 != 0)

    ingest_mod.read_documents_stream = filtered_reader
    try:
        n = stream_ingest_documents_into_inverted(
            spark, SF_SMOKE, idx, checkpoint_path=str(tmp_path / "ckpt")
        )
        assert n == rest_count
        n2 = stream_ingest_documents_into_inverted(
            spark, SF_SMOKE, idx, checkpoint_path=str(tmp_path / "ckpt")
        )
        assert n2 == 0
    finally:
        ingest_mod.read_documents_stream = orig_reader

    full = build_inverted_index(docs, str(tmp_path / "full"), n_buckets=16)
    terms = ("vector", "stream", "window")
    got = bm25_search_inverted(spark, idx, terms, k=10).collect()
    want = bm25_search_inverted(spark, full, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_tombstone_delete_then_compact(spark, tmp_path):
    """Deletion vectors: after delete_from_inverted_index, searches must
    score EXACTLY like an index never containing the victims (stats
    decremented, postings anti-joined); compaction folds tombstones in
    and preserves scores with the tombstone table gone."""
    from vector_db_example_spark.index.inverted import (
        compact_inverted_index,
        delete_from_inverted_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = build_inverted_index(docs, str(tmp_path / "idx"), n_buckets=16)
    victims = [3, 77, 200]
    n = delete_from_inverted_index(idx, victims)
    assert n == len(victims)
    assert delete_from_inverted_index(idx, [999999]) == 0  # unknown id
    # idempotent: re-deleting already-tombstoned ids is a no-op (no
    # duplicate tombstones, no second stats decrement)
    assert delete_from_inverted_index(idx, victims) == 0
    assert delete_from_inverted_index(idx, [3, 999999]) == 0

    ref = build_inverted_index(
        docs.filter(~F.col("doc_id").isin(victims)), str(tmp_path / "ref"), n_buckets=16
    )
    terms = ("vector", "stream", "window")
    got = bm25_search_inverted(spark, idx, terms, k=10).collect()
    want = bm25_search_inverted(spark, ref, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    compacted = compact_inverted_index(spark, idx, str(tmp_path / "compact"))
    import os

    assert not os.path.exists(f"{compacted.path}/tombstones")
    after = bm25_search_inverted(spark, compacted, terms, k=10).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in want]
    # victims truly gone from the compacted postings
    posts = spark.read.parquet(compacted.postings_path)
    assert posts.filter(F.col("doc_id").isin(victims)).count() == 0


def test_compact_clears_replayed_append(spark, tmp_path):
    """At-least-once crash window: an append replayed in full (postings +
    doclens + stats all doubled) must be healed by compaction — scores
    equal a clean build, stats recomputed from the deduped doclens."""
    from vector_db_example_spark.index.inverted import compact_inverted_index

    docs = load_table(spark, SF_SMOKE, "documents")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    idx = build_inverted_index(base, str(tmp_path / "idx"), n_buckets=16)
    append_to_inverted_index(idx, batch)
    append_to_inverted_index(idx, batch)  # simulated replay of the same batch

    compacted = compact_inverted_index(spark, idx, str(tmp_path / "compact"))
    clean = build_inverted_index(docs, str(tmp_path / "clean"), n_buckets=16)
    terms = ("vector", "stream", "window")
    got = bm25_search_inverted(spark, compacted, terms, k=10).collect()
    want = bm25_search_inverted(spark, clean, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # stats row healed to the clean build's values exactly
    g = spark.read.parquet(compacted.stats_path).collect()[0]
    w = spark.read.parquet(clean.stats_path).collect()[0]
    assert (g["__n"], g["__tot"]) == (w["__n"], w["__tot"])


def test_append_uses_persisted_text_col(spark, tmp_path):
    """An index built on a custom text column must append/compact/search
    against that SAME column (text_col persisted on the handle)."""
    from vector_db_example_spark.index.inverted import compact_inverted_index

    docs = load_table(spark, SF_SMOKE, "documents").withColumnRenamed(
        "text", "body"
    )
    part1 = docs.filter(F.col("doc_id") % 2 == 0)
    part2 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = build_inverted_index(
        part1, str(tmp_path / "idx"), n_buckets=16, text_col="body"
    )
    assert idx.text_col == "body"
    append_to_inverted_index(idx, part2)  # would fail if it assumed "text"
    compacted = compact_inverted_index(spark, idx, str(tmp_path / "compact"))
    assert compacted.text_col == "body"

    full = build_inverted_index(
        docs, str(tmp_path / "full"), n_buckets=16, text_col="body"
    )
    terms = ("vector", "stream", "window")
    got = bm25_search_inverted(spark, compacted, terms, k=10).collect()
    want = bm25_search_inverted(spark, full, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_batch_bm25_equals_per_query(spark, tmp_path):
    """The amortized batch search must return EXACTLY each query's
    single-path result (same scores, same top-k, same tiebreaks)."""
    from vector_db_example_spark.index.inverted import bm25_search_inverted_batch

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = build_inverted_index(docs, str(tmp_path / "idx"), n_buckets=16)
    queries = {
        0: ("vector", "stream", "window"),
        1: ("hash", "join", "merge"),
        2: ("spark", "table"),
    }
    batch = bm25_search_inverted_batch(spark, idx, queries, k=10).collect()
    got = {
        qid: [(r.doc_id, r.bm25) for r in sorted(
            (x for x in batch if x.query_id == qid),
            key=lambda x: (-x.bm25, x.doc_id),
        )]
        for qid in queries
    }
    for qid, terms in queries.items():
        want = [
            (r.doc_id, r.bm25)
            for r in bm25_search_inverted(spark, idx, terms, k=10).collect()
        ]
        assert got[qid] == want, f"query {qid} diverged"


def test_merge_segments_equals_full_build(spark, tmp_path):
    """Three disjoint segments with different bucket counts, one carrying
    a replayed append (duplicate posting/doclen rows + double-bumped
    stats) and one a tombstoned doc: the merge must score exactly like a
    fresh build on the union of live docs — replay healed, tombstones
    folded, buckets recomputed for the output layout."""
    from vector_db_example_spark.index.inverted import (
        delete_from_inverted_index,
        merge_inverted_indexes,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    segs = []
    for i, nb in enumerate((16, 8, 4)):
        segs.append(
            build_inverted_index(
                docs.filter(F.col("doc_id") % 3 == i),
                str(tmp_path / f"seg{i}"),
                n_buckets=nb,
            )
        )
    # replay: re-append a slice of segment 0's own docs (crash-window shape)
    replay = docs.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 30))
    append_to_inverted_index(segs[0], replay)
    # tombstone one live doc in segment 1
    victim = docs.filter(F.col("doc_id") % 3 == 1).select(F.min("doc_id")).collect()[0][0]
    delete_from_inverted_index(segs[1], [victim])

    merged = merge_inverted_indexes(spark, segs, str(tmp_path / "merged"), n_buckets=16)
    fresh = build_inverted_index(
        docs.filter(F.col("doc_id") != victim), str(tmp_path / "fresh"), n_buckets=16
    )
    terms = ("vector", "stream", "window")
    got = bm25_search_inverted(spark, merged, terms, k=10).collect()
    want = bm25_search_inverted(spark, fresh, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_stream_segment_ingest_then_merge_equals_full_build(spark, tmp_path):
    """The full LSM streaming story end-to-end: each arrival stream
    lands in its OWN segment (seed build + streamed micro-batches
    through the committed-batch-marker sink), the segments are merged
    off the hot path, and the merged layout must score EXACTLY like one
    monolithic batch build over all documents — wiring
    streaming/ingest.py's segment ingest to index/inverted.py's LSM
    merge, which the driver's text_inverted_merge_parity oracle checks
    for batch-built segments only."""
    from vector_db_example_spark.index.inverted import merge_inverted_indexes
    from vector_db_example_spark.streaming import ingest as ingest_mod
    from vector_db_example_spark.streaming.ingest import (
        stream_ingest_documents_into_inverted,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    orig_reader = ingest_mod.read_documents_stream
    segs = []
    try:
        for i in (0, 1, 2):
            # each segment owns a disjoint share: seed half as the
            # segment's initial build, stream the other half in
            seed = docs.filter(
                (F.col("doc_id") % 3 == i) & (F.col("doc_id") % 2 == 0)
            )
            idx = build_inverted_index(
                seed, str(tmp_path / f"seg{i}"), n_buckets=8
            )

            def reader(spark_, sf_dir_, _i=i):
                return (
                    orig_reader(spark_, sf_dir_)
                    .filter(F.col("doc_id") % 3 == _i)
                    .filter(F.col("doc_id") % 2 != 0)
                )

            ingest_mod.read_documents_stream = reader
            stream_ingest_documents_into_inverted(
                spark, SF_SMOKE, idx, checkpoint_path=str(tmp_path / f"ckpt{i}")
            )
            segs.append(idx)
    finally:
        ingest_mod.read_documents_stream = orig_reader

    merged = merge_inverted_indexes(
        spark, segs, str(tmp_path / "merged_stream"), n_buckets=16
    )
    full = build_inverted_index(docs, str(tmp_path / "full_stream"), n_buckets=16)
    terms = ("vector", "stream", "window")
    got = bm25_search_inverted(spark, merged, terms, k=10).collect()
    want = bm25_search_inverted(spark, full, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_handle_reloads_from_meta(spark, tmp_path):
    """InvertedIndex.load reopens a layout across processes from
    _inverted_meta.json (same handle story as IVFIndex.load /
    LSHIndex.load): a search through the reloaded handle is
    row-identical to the builder's, and the persisted postings schema
    rides along (non-default n_buckets and custom columns included)."""
    from vector_db_example_spark.index.inverted import InvertedIndex

    docs = load_table(spark, SF_SMOKE, "documents").withColumnRenamed(
        "text", "body"
    )
    path = str(tmp_path / "reload")
    idx = build_inverted_index(docs, path, n_buckets=16, text_col="body")
    reloaded = InvertedIndex.load(path)
    assert reloaded == idx  # frozen dataclass equality covers every field
    terms = ("vector", "table")
    got = bm25_search_inverted(spark, reloaded, terms, k=10).collect()
    want = bm25_search_inverted(spark, idx, terms, k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


# --- denormalized __dl on posting rows (round 11) -------------------------


def _plan_of(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_search_plan_has_no_corpus_sized_operand(spark, tmp_path):
    """A fresh build denormalizes the per-doc token length onto every
    posting row, so BOTH scorers' plans must contain NO doclens scan —
    the one corpus-sized operand the query path used to join per query
    (at billions of docs that join re-shuffles the whole doclens table
    per search)."""
    from vector_db_example_spark.index.inverted import (
        _postings_carry_dl,
        bm25_search_inverted_batch,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = build_inverted_index(docs, str(tmp_path / "idx"), n_buckets=16)
    assert _postings_carry_dl(idx)
    single = bm25_search_inverted(spark, idx, ("vector", "stream"), k=5)
    assert "doclens" not in _plan_of(single)
    batch = bm25_search_inverted_batch(
        spark, idx, {0: ["vector"], 1: ["stream", "window"]}, k=5
    )
    assert "doclens" not in _plan_of(batch)
    assert single.count() > 0


def test_legacy_layout_joins_doclens_and_compaction_migrates(spark, tmp_path):
    """A layout written before round 11 (no __dl on posting rows) must
    keep scoring EXACTLY like a fresh build via the doclens join path,
    and ONE ordinary compaction must migrate it to the denormalized
    format — scores unchanged, doclens join gone from the plan. Merge
    doubles as migration the same way."""
    from vector_db_example_spark.functions.text import extract_tokens
    from vector_db_example_spark.index.inverted import (
        InvertedIndex,
        _doc_postings,
        _postings_carry_dl,
        compact_inverted_index,
        merge_inverted_indexes,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    # forge a faithful pre-round-11 layout: postings without __dl,
    # doclens/stats side-tables exactly as the old build wrote them
    legacy_dir = str(tmp_path / "legacy")
    lp = _doc_postings(docs, "doc_id", "text", 16).drop("__dl")
    lp.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{legacy_dir}/postings"
    )
    docs.select(
        "doc_id", F.size(extract_tokens(F.col("text"))).alias("__dl")
    ).write.mode("overwrite").parquet(f"{legacy_dir}/doclens")
    docs.select(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.coalesce(F.sum(F.size(extract_tokens(F.col("text")))), F.lit(0))
        .cast("double")
        .alias("__tot"),
    ).write.mode("overwrite").parquet(f"{legacy_dir}/stats")
    legacy = InvertedIndex(
        path=legacy_dir, n_buckets=16, postings_schema=lp.schema.json()
    )
    legacy.save_meta()
    assert not _postings_carry_dl(legacy)

    fresh = build_inverted_index(docs, str(tmp_path / "fresh"), n_buckets=16)
    terms = ("vector", "stream", "window")
    want = [tuple(r) for r in bm25_search_inverted(spark, fresh, terms).collect()]

    legacy_search = bm25_search_inverted(spark, legacy, terms)
    assert "doclens" in _plan_of(legacy_search)  # the legacy join path
    assert [tuple(r) for r in legacy_search.collect()] == want

    migrated = compact_inverted_index(spark, legacy, str(tmp_path / "migrated"))
    assert _postings_carry_dl(migrated)
    mig_search = bm25_search_inverted(spark, migrated, terms)
    assert "doclens" not in _plan_of(mig_search)
    assert [tuple(r) for r in mig_search.collect()] == want

    merged = merge_inverted_indexes(spark, [legacy], str(tmp_path / "merged"))
    assert _postings_carry_dl(merged)
    assert [
        tuple(r) for r in bm25_search_inverted(spark, merged, terms).collect()
    ] == want


def test_partial_append_visibility_contract(spark, tmp_path):
    """Pin the documented mid-append window (append_to_inverted_index
    docstring, advisor note round 11): on a denormalized (__dl-on-rows)
    layout a doc whose postings have landed — but whose doclens/stats
    writes have not — is ALREADY searchable, scored with its own exact
    dl and query-time df against the PRE-append ``__n``/``__tot``; the
    postings-first write order means a crash-replayed append never
    double-counts stats (only postings duplicate), and compaction heals
    the replay to a clean build."""
    import math

    from vector_db_example_spark.index.inverted import (
        _doc_postings,
        compact_inverted_index,
    )

    base = spark.createDataFrame(
        [
            (0, "spark shuffles data across executors"),
            (1, "catalyst optimizes logical plans"),
            (2, "parquet stores columns not rows"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "spark broadcasts small spark tables")], "doc_id long, text string"
    )
    idx = build_inverted_index(base, str(tmp_path / "idx"), n_buckets=16)

    # Freeze the crash window exactly as the append's write order leaves
    # it: posting rows landed, doclens + stats writes never happened.
    _doc_postings(new, idx.id_col, idx.text_col, idx.n_buckets).write.mode(
        "append"
    ).partitionBy("bucket").parquet(idx.postings_path)

    mid = {
        r["doc_id"]: r["bm25"]
        for r in bm25_search_inverted(spark, idx, ["spark"], k=10).collect()
    }
    # visible before the append finishes — and scored against the STALE
    # corpus constants: __n=3, __tot=14 (the base tokens), while df is
    # query-time-fresh (docs 0 and 10) and dl is the doc's own exact 5
    assert set(mid) == {0, 10}
    n, tot, df = 3.0, 14.0, 2.0
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def score(tf: float, dl: float) -> float:
        return round(
            idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / (tot / n))), 6
        )

    assert mid[10] == score(2.0, 5.0)
    assert mid[0] == score(1.0, 5.0)

    # At-least-once replay of the WHOLE append: postings duplicate, but
    # stats land exactly once (postings-first order — a pre-bumped stats
    # row would have double-counted here).
    append_to_inverted_index(idx, new)
    stats = spark.read.parquet(idx.stats_path).collect()[0]
    assert (stats["__n"], stats["__tot"]) == (4.0, 19.0)

    # Compaction heals the duplicated postings: scores equal a clean
    # single-shot build over the full corpus.
    compacted = compact_inverted_index(spark, idx, str(tmp_path / "compact"))
    clean = build_inverted_index(
        base.unionByName(new), str(tmp_path / "clean"), n_buckets=16
    )
    got = bm25_search_inverted(spark, compacted, ["spark", "plans"], k=10).collect()
    want = bm25_search_inverted(spark, clean, ["spark", "plans"], k=10).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def _column_bm25_score(tf_cols, df_cols):
    """The node-by-node ``Column`` score builder the SQL-text
    ``bm25_score_expr_for`` replaced — kept here as the bit-exactness
    reference."""
    dl_d = F.col("__dl").cast("double")
    avgdl = F.col("__tot") / F.col("__n")
    score = None
    for tf_c, df_c in zip(tf_cols, df_cols):
        tf_i, df_i = F.col(tf_c), F.col(df_c)
        idf = F.log(
            F.lit(1.0) + (F.col("__n") - df_i + F.lit(0.5)) / (df_i + F.lit(0.5))
        )
        tfn = (tf_i * F.lit(2.2)) / (
            tf_i + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * dl_d / avgdl)
        )
        score = idf * tfn if score is None else score + idf * tfn
    return score


def test_sql_text_score_is_bit_identical_to_column_score(spark):
    """The SQL-text score gives the same doubles as the Column-built
    expression over integer-exact inputs — tf=0, df=N, df=0, one term
    and many terms — so every oracle stays hash-exact."""
    import random
    import struct

    from vector_db_example_spark.operators.bm25 import bm25_score_expr_for

    m = 7
    rng = random.Random(3)
    rows = []
    for n in (1.0, 2.0, 7.0, 1000.0, 123457.0):
        for _ in range(12):
            tfs = [float(rng.choice([0, 0, 1, 2, 3, 17])) for _ in range(m)]
            dfs = [float(rng.choice([0, 1, n, rng.randint(0, int(n))])) for _ in range(m)]
            dl = rng.randint(0, 400)
            tot = float(rng.randint(max(dl, 1), 50 * int(n) + dl))
            rows.append((*tfs, *dfs, dl, n, tot))
    rows.append((*[0.0] * m, *[1.0] * m, 3, 5.0, 20.0))  # every tf = 0
    names = [f"__tf{i}" for i in range(m)] + [f"__df{i}" for i in range(m)]
    schema = ", ".join(f"{c} double" for c in names) + ", __dl int, __n double, __tot double"
    inputs = spark.createDataFrame(rows, schema)

    for n_terms in (1, 2, m):
        tf_cols = [f"__tf{i}" for i in range(n_terms)]
        # a non-positional pairing, as the batch scorer uses
        df_cols = [f"__df{(i * 3) % m}" for i in range(n_terms)]
        got = inputs.select(
            bm25_score_expr_for(tf_cols, df_cols).alias("sql"),
            _column_bm25_score(tf_cols, df_cols).alias("col"),
        ).collect()
        bits = [
            (struct.pack("<d", r["sql"]), struct.pack("<d", r["col"])) for r in got
        ]
        assert all(a == b for a, b in bits), n_terms


def test_query_terms_never_reach_sql_text(spark, tmp_path):
    """Query terms bind as parameters: terms holding quotes, backslashes,
    parameter-marker and format-brace syntax, comment openers or CJK
    text give the same top-k from the single search, the batch search
    and the scan-based scorer — and a would-be injection matches
    nothing."""
    from vector_db_example_spark.index.inverted import bm25_search_inverted_batch
    from vector_db_example_spark.operators.bm25 import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "向量检索 spark vector search"),
            (2, "spark streams vector rows"),
            (3, "倒排索引 向量检索 ranking"),
            (4, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    idx = build_inverted_index(docs, str(tmp_path / "idx"), n_buckets=8)
    odd = ["it's", "a\\b", ":t0", "{x}", "--", "/*", "?", "x' OR term <> '"]
    queries = {
        0: ["spark", *odd, "向量检索"],
        1: odd,
        2: ["倒排索引", ":t1", "vector"],
        3: ["{rows}", "search"],
    }
    batch = bm25_search_inverted_batch(spark, idx, queries, k=10).collect()
    for qid, terms in queries.items():
        single = [tuple(r) for r in bm25_search_inverted(spark, idx, terms).collect()]
        scan = [tuple(r) for r in bm25_topk(docs, terms).collect()]
        from_batch = sorted(
            ((r.doc_id, r.bm25) for r in batch if r.query_id == qid),
            key=lambda x: (-x[1], x[0]),
        )
        assert single == scan == from_batch, qid
        assert bool(single) == (qid != 1), qid


def test_search_plan_starts_no_job_before_action(spark, tmp_path):
    """Building a search on a layout without tombstones starts no Spark
    job: postings and stats are read with persisted schemas (no
    inference job) and the tombstone probe is a filesystem call, not a
    failing read."""
    docs = load_table(spark, SF_SMOKE, "documents")
    idx = build_inverted_index(docs, str(tmp_path / "idx"), n_buckets=16)
    sc = spark.sparkContext
    group = f"bm25-plan-{tmp_path.name}"
    sc.setJobGroup(group, "bm25 plan build")
    try:
        search = bm25_search_inverted(spark, idx, ("vector", "stream"), k=5)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert search.collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
