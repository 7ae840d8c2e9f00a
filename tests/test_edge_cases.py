"""Degenerate-input behavior: empty tables, empty/short documents, single
rows. Operators must return empty/valid results, never crash — at 100 TB
some partition somewhere WILL be empty or degenerate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


@pytest.fixture()
def weird_docs(spark):
    rows = [
        (1, ""),  # empty text
        (2, "one"),  # fewer words than shingle k
        (3, "one two"),  # still < k=3
        (4, "   "),  # whitespace only
        (5, "a b c d e"),
        (6, "a b c d e"),  # exact duplicate of 5
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_operators_on_empty(empty_docs):
    from hadoop_prototype_spark.operators import dedup

    assert dedup.exact_dedup(empty_docs).count() == 0
    assert dedup.minhash_lsh_pairs(empty_docs).count() == 0
    assert dedup.simhash_near_dup_pairs(empty_docs).count() == 0
    assert dedup.ngram_jaccard_pairs(empty_docs).count() == 0


def test_dedup_operators_on_degenerate_docs(weird_docs):
    from hadoop_prototype_spark.operators import dedup

    # exact dedup sees all 6 docs; 5 distinct contents
    ex = dedup.exact_dedup(weird_docs)
    assert ex.count() == 5
    assert ex.filter(F.col("n_copies") == 2).count() == 1

    # shingle-based ops silently drop docs with < k words — and the
    # duplicate pair (5,6) must be found
    pairs = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(weird_docs).collect()}
    assert (5, 6) in pairs
    assert all(a >= 5 for a, _ in pairs)

    sim = {(r.a, r.b) for r in dedup.simhash_near_dup_pairs(weird_docs).collect()}
    assert (5, 6) in sim


def test_global_rank_on_empty_and_single(spark):
    from hadoop_prototype_spark.operators.sort import global_rank

    empty = spark.createDataFrame([], "k bigint")
    assert global_rank(empty, "k").count() == 0

    one = spark.createDataFrame([(42,)], "k bigint")
    rows = global_rank(one, "k").collect()
    assert len(rows) == 1 and rows[0].rank == 1


def test_global_rank_with_nulls(spark):
    from hadoop_prototype_spark.operators.sort import global_rank

    df = spark.createDataFrame([(None,), (5,), (1,), (None,), (3,)], "k int").withColumn(
        "uid", F.monotonically_increasing_id()
    )
    # asc: nulls first (Spark default)
    rows = global_rank(df, "k", "uid", num_partitions=3).orderBy("rank").collect()
    ks = [r.k for r in rows]
    assert ks[:2] == [None, None] and ks[2:] == [1, 3, 5]
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]


def test_similarity_on_empty(spark):
    from hadoop_prototype_spark.operators import similarity

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>, label int")
    assert similarity.brute_force_topk(empty).count() == 0
    assert similarity.lsh_ann_topk(empty).count() == 0
    assert similarity.blocked_near_dup(empty).count() == 0


def test_range_join_empty_sides(spark):
    from hadoop_prototype_spark.operators.joins import range_join_bucketed

    fact = spark.createDataFrame([], "v double")
    ivals = spark.createDataFrame([("a", 0.0, 10.0)], "name string, lo double, hi double")
    assert range_join_bucketed(fact, ivals, "v", "lo", "hi", 5.0).count() == 0

    fact2 = spark.createDataFrame([(3.0,)], "v double")
    no_ivals = spark.createDataFrame([], "name string, lo double, hi double")
    assert range_join_bucketed(fact2, no_ivals, "v", "lo", "hi", 5.0).count() == 0


def test_bucketed_grouped_reduce_empty(spark):
    import pandas as pd

    from hadoop_prototype_spark.functions.udf_surface import bucketed_grouped_reduce

    empty = spark.createDataFrame([], "k bigint, v bigint")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.groupby("k", as_index=False)["v"].sum()

    out = bucketed_grouped_reduce(empty, ["k"], ["v"], kernel, "k bigint, v bigint")
    assert out.count() == 0


def test_round5_operators_empty_inputs(spark):
    """Empty-input contracts for the round-5 operators: HLL yields the
    all-zero-register estimate (not NULL), quantiles and kmeans raise a
    clear error, decontamination and the quality filter return empty."""
    import pytest

    from hadoop_prototype_spark.operators import decontam, kmeans, sketch, textstats

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_vals = spark.createDataFrame([], "value double")

    row = sketch.hll_distinct_tokens(empty_docs).collect()[0]
    assert row.exact_distinct == 0 and row.n_zero_registers == 256
    assert row.hll_estimate is not None and row.hll_estimate > 0

    with pytest.raises(ValueError, match="no rows"):
        sketch.histogram_quantiles(empty_vals)

    assert decontam.eval_contamination(empty_docs).count() == 0
    assert decontam.decontaminate(empty_docs).count() == 0
    assert textstats.quality_percentile_filter(empty_docs).count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no rows"):
        kmeans.kmeans_fit(emb, k=2, dim=4)

    # fewer rows than k: k collapses to n, fit still converges
    two = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [5.0, 5.0])], "vec_id long, embedding array<double>"
    )
    centroids, _ = kmeans.kmeans_fit(two, k=5, max_iter=3, dim=2)
    assert sorted(tuple(c) for c in centroids) == [(0.0, 0.0), (5.0, 5.0)]


def test_round6_operators_degenerate_inputs(spark, weird_docs, empty_docs):
    """Round-6 operator family on empty tables, null text, and sub-k
    documents: defined results, never a crash. Null text documents behave
    like the engine's split-of-null convention (dropped by explode-based
    ops, passed through by join-based reassembly with null outputs) —
    pinned here so a fixture change can't silently flip it."""
    from hadoop_prototype_spark.operators import dedup, packing, sampling

    # empty corpus
    assert dedup.remove_boilerplate_spans(empty_docs).count() == 0
    assert packing.chunk_documents(empty_docs).count() == 0
    assert sampling.dsir_importance(empty_docs, target_filter="TRUE").count() == 0

    # degenerate docs: every input doc must come back from span removal
    out = {r.doc_id: r for r in dedup.remove_boilerplate_spans(weird_docs, min_docs=2).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[5].text_clean == "" and out[5].n_removed == 5  # exact pair stripped
    assert out[1].text_clean == "" and out[1].n_removed == 0

    # chunking: every doc yields >= 1 chunk (empty text = one '' token)
    chunks = packing.chunk_documents(weird_docs, chunk=3, stride=2)
    per_doc = {r[0]: r[1] for r in chunks.groupBy("doc_id").count().collect()}
    assert set(per_doc) == {1, 2, 3, 4, 5, 6}

    # null text: explode-based ops drop the doc; reassembly keeps it
    with_null = spark.createDataFrame(
        [(10, None), (11, "a b c")], "doc_id bigint, text string"
    )
    assert packing.chunk_documents(with_null).count() >= 1
    null_row = {
        r.doc_id: r for r in dedup.remove_boilerplate_spans(with_null).collect()
    }
    assert 11 in null_row  # non-null doc always survives


def test_quality_model_and_tokenize_degenerate(spark, weird_docs, empty_docs):
    from hadoop_prototype_spark.operators import textstats

    # quality model: empty text must not divide by zero (ANSI mode) — the
    # split('') convention gives one '' token, so n_words >= 1 always
    qm = textstats.quality_model_score(weird_docs)
    rows = {r.doc_id: r for r in qm.collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    for r in rows.values():
        assert r.model_score == r.model_score  # not NaN
        assert r.keep in (True, False)
    assert textstats.quality_model_score(empty_docs).count() == 0

    # tokenize: empty text → the single '' token (OOV or in-vocab, id >= 0);
    # token_ids length always equals n_tokens
    tk = textstats.tokenize_to_ids(weird_docs, vocab_size=4)
    out = {r.doc_id: r for r in tk.collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    for r in out.values():
        assert len(r.token_ids) == r.n_tokens
        assert all(t >= 0 for t in r.token_ids)
    # duplicate docs tokenize identically
    assert out[5].token_ids == out[6].token_ids
    assert textstats.tokenize_to_ids(empty_docs).count() == 0


def test_prototype_scores_degenerate(spark):
    from hadoop_prototype_spark.operators import similarity

    dim = 4
    # single-vector label: cosine to its own sum-direction is 1.0 (rank 1,
    # flagged outlier since n_outliers >= 1); two-vector label ranks the
    # farther-from-mean vector first
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "solo"),
        (2, [1.0, 0.0, 0.0, 0.0], "pair"),
        (3, [0.0, 1.0, 0.0, 0.0], "pair"),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label string")
    out = {r.vec_id: r for r in similarity.prototype_scores(emb, n_outliers=1, dim=dim).collect()}
    assert out[1].proto_cos == pytest.approx(1.0)
    assert out[1].atypicality_rank == 1 and out[1].is_outlier
    # pair label: both vectors are symmetric about the mean → equal cosine,
    # id tie-break gives vec 2 rank 1
    assert out[2].proto_cos == pytest.approx(out[3].proto_cos)
    assert out[2].atypicality_rank == 1 and not out[3].is_outlier

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>, label string")
    assert similarity.prototype_scores(empty, dim=dim).count() == 0

    # antipodal label (prototype sums cancel to the zero vector) and a
    # zero-norm vector: NULL cosine, ranked most-atypical — never an ANSI
    # DIVIDE_BY_ZERO job abort
    degen = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0], "anti"),
            (2, [-1.0, 0.0, 0.0, 0.0], "anti"),
            (3, [0.0, 0.0, 0.0, 0.0], "zed"),
            (4, [1.0, 1.0, 0.0, 0.0], "zed"),
        ],
        "vec_id bigint, embedding array<float>, label string",
    )
    out = {r.vec_id: r for r in similarity.prototype_scores(degen, n_outliers=1, dim=dim).collect()}
    assert out[1].proto_cos is None and out[2].proto_cos is None
    assert out[3].proto_cos is None  # zero-norm vector
    assert out[3].atypicality_rank == 1 and out[3].is_outlier
    assert out[4].proto_cos is not None and out[4].atypicality_rank == 2


def test_quality_tiers_degenerate(spark):
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.textstats import quality_tiers

    # identical docs in one group collapse to one bin: cum_below = 0 for
    # all → everyone 'tail' (no discrimination signal, the conservative
    # direction); a single-doc group likewise; distinct qualities spread
    rows = [
        (1, "a a a a", "same"),
        (2, "a a a a", "same"),
        (3, "a a a a", "same"),
        (4, "solo doc here", "one"),
        (5, "the a of and to in " * 20, "mix"),     # stopword-rich, long
        (6, "x", "mix"),                            # short
        (7, "the quick brown fox jumps over it", "mix"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {r.doc_id: r for r in quality_tiers(df).collect()}
    assert {out[i].tier for i in (1, 2, 3)} == {"tail"}
    assert out[4].tier == "tail" and out[4].pct_below == 0.0
    mix = sorted((out[i].quality, out[i].tier) for i in (5, 6, 7))
    assert mix[0][1] == "tail" and mix[-1][1] == "head"
    empty = spark.createDataFrame([], "doc_id bigint, text string, lang string")
    assert quality_tiers(empty).count() == 0


def test_delete_from_empty_target_and_bpe_special_tokens(spark, tmp_path):
    from hadoop_prototype_spark.operators.textstats import bpe_apply
    from hadoop_prototype_spark.sources import snapshots as sn

    # nonexistent target: a clear "no such snapshot" error, not a
    # schema-inference crash
    keys = spark.createDataFrame([(1,)], "o_orderkey long")
    with pytest.raises(FileNotFoundError):
        sn.delete_from(spark, str(tmp_path / "nowhere"), keys, "o_orderkey")

    # BPE merge literals survive backslashes and quotes in tokens
    docs = spark.createDataFrame(
        [(1, r"a\tb c a\tb c"), (2, "it's x it's x")], "doc_id bigint, text string"
    )
    merges = [(1, r"a\tb", "c", 9), (2, "it's", "x", 9)]
    out = {r.doc_id: r for r in bpe_apply(docs, merges=merges).collect()}
    assert out[1].n_tokens_after == 2  # both pairs merged
    assert out[2].n_tokens_after == 2
