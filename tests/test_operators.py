"""Direct unit tests for the spec-compiler operators (reference test style:
tiny inputs, exact expected output — SURVEY.md §5.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_prototype_spark.operators.aggregate import parse_descriptor, value_aggregator
from hadoop_prototype_spark.operators.fieldsel import field_selection, parse_spec
from hadoop_prototype_spark.operators.joins import (
    JoinExprParser,
    compose,
    inner_join,
    outer_join,
    override_join,
)
from hadoop_prototype_spark.operators.sort import keyfield_sort, parse_keyfield_spec


def test_fieldsel_spec_parser():
    keys, vals = parse_spec("4,3,0,1:6,5,1-3,7-")
    assert [(p.start, p.end) for p in keys] == [(4, 4), (3, 3), (0, 0), (1, 1)]
    assert [(p.start, p.end) for p in vals] == [(6, 6), (5, 5), (1, 3), (7, None)]


def test_fieldsel_selects_fields(spark):
    # TestMRFieldSelection-style: line "0\t1\t2\t3\t4\t5\t6\t7"
    df = spark.createDataFrame([("\t".join(str(i) for i in range(8)),)], ["line"])
    out = field_selection(df, "4,3,0,1:6,5,1-3,7-").collect()[0]
    assert out.key == "4\t3\t0\t1"
    assert out.value == "6\t5\t1\t2\t3\t7"


def test_fieldsel_out_of_range_is_empty(spark):
    df = spark.createDataFrame([("a\tb",)], ["line"])
    out = field_selection(df, "0,5:1-").collect()[0]
    assert out.key == "a\t"  # missing field 5 → empty, like ragged rows
    assert out.value == "b"


def test_keyfield_spec_parser():
    specs = parse_keyfield_spec("-k2,2nr -k1")
    assert specs[0].start_field == 2 and specs[0].numeric and specs[0].reverse
    assert specs[1].start_field == 1 and not specs[1].numeric


def test_keyfield_sort_numeric_vs_lexicographic(spark):
    df = spark.createDataFrame([("b\t10",), ("a\t9",), ("c\t1",)], ["line"])
    numeric = [r.line for r in keyfield_sort(df, "-k2,2n").collect()]
    assert numeric == ["c\t1", "a\t9", "b\t10"]  # 1 < 9 < 10 numerically
    lex = [r.line for r in keyfield_sort(df, "-k2,2").collect()]
    assert lex == ["c\t1", "b\t10", "a\t9"]  # "1" < "10" < "9" lexicographically


def test_join_expr_parser_rejects_garbage():
    with pytest.raises(ValueError):
        JoinExprParser("inner(tbl(a)").parse()
    with pytest.raises(ValueError):
        JoinExprParser("cross(tbl(a),tbl(b))").parse()


def test_nary_join_semantics(spark):
    a = spark.createDataFrame([(1, "a1"), (2, "a2")], ["k", "v"])
    b = spark.createDataFrame([(2, "b2"), (3, "b3")], ["k", "v"])
    assert [r.k for r in inner_join([a, b], "k").collect()] == [2]
    assert sorted(r.k for r in outer_join([a, b], "k").collect()) == [1, 2, 3]
    over = {r.k: r.v for r in override_join([a, b], "k").collect()}
    assert over == {1: "a1", 2: "b2", 3: "b3"}  # rightmost wins on overlap


def test_compose_nested(spark):
    a = spark.createDataFrame([(1, "a")], ["k", "v"])
    b = spark.createDataFrame([(1, "b"), (2, "b")], ["k", "v"])
    c = spark.createDataFrame([(2, "c")], ["k", "v"])
    out = compose("inner(tbl(a),outer(tbl(b),tbl(c)))", {"a": a, "b": b, "c": c}, key="k")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].k == 1


def test_value_aggregator_descriptor_parse():
    assert parse_descriptor("LongValueSum:x") == ("LongValueSum", "x", "longvaluesum_x")
    assert parse_descriptor("LongValueSum:x:total") == ("LongValueSum", "x", "total")
    with pytest.raises(ValueError):
        parse_descriptor("nope")


def test_value_aggregator_compiles(spark):
    df = spark.createDataFrame([("a", 1), ("a", 3), ("b", 5)], ["k", "v"])
    out = value_aggregator(df, ["k"], ["LongValueSum:v:s", "LongValueMax:v:mx", "ValueCount:v:n"])
    got = {r.k: (r.s, r.mx, r.n) for r in out.collect()}
    assert got == {"a": (4, 3, 2), "b": (5, 5, 1)}


# --- global_rank / total-order sort ----------------------------------------


def test_global_rank_matches_sequential(spark):
    from hadoop_prototype_spark.operators.sort import global_rank

    df = spark.range(0, 1000).selectExpr("id", "CAST(id % 7 AS INT) AS grp")
    out = global_rank(df, ("id", True), num_partitions=8, rank_col="r")
    got = {r.id: r.r for r in out.collect()}
    assert got == {i: 1000 - i for i in range(1000)}


def test_global_rank_partition_count_invariant(spark):
    from hadoop_prototype_spark.operators.sort import global_rank

    df = spark.range(0, 500).selectExpr("id", "md5(CAST(id AS STRING)) AS k")
    a = {(r.k, r.rank) for r in global_rank(df, "k", num_partitions=3).collect()}
    b = {(r.k, r.rank) for r in global_rank(df, "k", num_partitions=17).collect()}
    assert a == b


@pytest.mark.parametrize("sampler", ["split", "interval", "random"])
def test_global_rank_correct_under_every_sampler(spark, sampler):
    """All three InputSampler variants (InputSampler.java:97,:159,:249) must
    produce correct ranks — boundary quality affects balance, never
    correctness."""
    from hadoop_prototype_spark.operators.sort import global_rank

    df = spark.range(0, 800).selectExpr("id")
    out = global_rank(
        df, "id", num_partitions=6, rank_col="r", sampler=sampler, sample_freq=0.05
    )
    assert {r.id: r.r for r in out.collect()} == {i: i + 1 for i in range(800)}


def test_interval_sampler_balances_sorted_input(spark):
    """On pre-sorted input, SplitSampler's first-n-per-split sample biases
    boundaries toward each split's head; IntervalSampler strides whole
    splits, so its buckets must come out usably balanced — the case
    total-order sort exists for (InputSampler.java:249)."""
    from hadoop_prototype_spark.operators.sort import (
        _sample_boundaries,
        _strictly_before,
    )

    n, parts = 20_000, 4
    # sorted input laid out contiguously across splits, like sorted files
    df = (
        spark.range(n)
        .repartitionByRange(parts, "id")
        .sortWithinPartitions("id")
        .selectExpr("id AS _sk0")
    )
    bounds = _sample_boundaries(
        df, ["_sk0"], [False], num_partitions=parts, samples_per_partition=20,
        sampler="interval", sample_freq=0.01,
    )
    assert len(bounds) == parts - 1
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(
            _strictly_before([F.col("_sk0")], [False], b, [df.schema["_sk0"].dataType]), 1
        ).otherwise(0)
    sizes = [
        r["count"] for r in df.withColumn("_b", bucket).groupBy("_b").count().collect()
    ]
    assert len(sizes) == parts
    assert max(sizes) < 2.2 * (n / parts), f"interval boundaries skewed: {sizes}"


def test_random_sampler_is_parallelism_invariant(spark):
    """RandomSampler analogue: the sample is key-content-derived (md5), so
    the chosen boundaries cannot depend on how the input happens to be
    partitioned (InputSampler.java:159 used a seeded RNG per split — a
    layout dependency this design removes)."""
    from hadoop_prototype_spark.operators.sort import _sample_boundaries

    base = spark.range(0, 5000).selectExpr("md5(CAST(id AS STRING)) AS _sk0")
    kw = dict(num_partitions=8, samples_per_partition=50, sampler="random",
              sample_freq=0.1)
    a = _sample_boundaries(base.repartition(2), ["_sk0"], [False], **kw)
    b = _sample_boundaries(base.repartition(13), ["_sk0"], [False], **kw)
    assert a and a == b


# --- LSH ANN ----------------------------------------------------------------


def test_lsh_ann_is_subset_of_bruteforce_candidates(spark):
    """Every LSH hit must equal the brute-force cosine for that (qid, nid)
    pair, and rank consistently within the bucket's candidate set."""
    from hadoop_prototype_spark.operators.similarity import (
        brute_force_topk,
        lsh_ann_topk,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.qid, r.nid): r.cosine for r in brute_force_topk(emb, k=1000, n_queries=5).collect()
    }
    approx = lsh_ann_topk(emb, k=5, n_queries=5).collect()
    assert approx, "LSH buckets produced no candidates at all"
    for r in approx:
        assert abs(exact[(r.qid, r.nid)] - r.cosine) < 1e-12
    # ranks are contiguous from 1 per query
    from collections import defaultdict

    per_q = defaultdict(list)
    for r in approx:
        per_q[r.qid].append(r.rank)
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_keyfield_char_offset_parser():
    specs = parse_keyfield_spec("-k2.4,3.1nr")
    (s,) = specs
    assert (s.start_field, s.start_char, s.end_field, s.end_char) == (2, 4, 3, 1)
    assert s.numeric and s.reverse and s.has_char_offsets
    plain = parse_keyfield_spec("-k2,3")[0]
    assert not plain.has_char_offsets and plain.start_char == 1 and plain.end_char is None
    with pytest.raises(ValueError):
        parse_keyfield_spec("-k2.0,3")


def test_keyfield_char_offsets_sort(spark):
    """-k1.2,1.3: sort on chars 2-3 of field 1 (KeyFieldHelper.java
    semantics — key spans bytes inside the field)."""
    df = spark.createDataFrame([("zab\t1",), ("ayz\t2",), ("mba\t3",)], ["line"])
    got = [r.line for r in keyfield_sort(df, "-k1.2,1.3").collect()]
    # keys: "ab" (zab), "yz" (ayz), "ba" (mba) → ab < ba < yz
    assert got == ["zab\t1", "mba\t3", "ayz\t2"]


def test_keyfield_char_offsets_span_fields(spark):
    """-k1.3,2.1: key runs from char 3 of field 1 through char 1 of field 2,
    separator included (GNU sort / KeyFieldHelper cross-field key)."""
    df = spark.createDataFrame([("xxb\tam",), ("xxa\tzm",), ("xxa\tam",)], ["line"])
    got = [r.line for r in keyfield_sort(df, "-k1.3,2.1").collect()]
    # keys: "b\ta", "a\tz", "a\ta" → "a\ta" < "a\tz" < "b\ta"
    assert got == ["xxa\tam", "xxa\tzm", "xxb\tam"]


def test_salt_keys_content_derived_and_parallelism_invariant(spark):
    """Determinism contract: salts derive from row CONTENT, so the salted
    keys are identical at any parallelism — and a hot key's rows spread
    over multiple buckets (a key-derived salt would defeat the salting)."""
    from hadoop_prototype_spark.operators.partition import salt_keys

    rows = [("hot", i) for i in range(200)] + [("cold", i) for i in range(5)]
    df = spark.createDataFrame(rows, ["k", "v"])
    narrow = sorted(r.salted_key for r in salt_keys(df.repartition(1), "k", 8).collect())
    wide = sorted(r.salted_key for r in salt_keys(df.repartition(16), "k", 8).collect())
    assert narrow == wide, "salted keys must not depend on partition layout"
    hot_salts = {s.rsplit("#", 1)[1] for s in narrow if s.startswith("hot#")}
    assert len(hot_salts) > 1, "the hot key must spread over multiple buckets"


# --- connected components (dedup cluster collapse) ---------------------------


def _cc(spark, edges, **kw):
    from hadoop_prototype_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(df, **kw)
    return sorted((r.node, r.component) for r in out.collect())


def test_connected_components_chain(spark):
    """A linear chain collapses to the min id (pointer jumping must cross
    the whole diameter)."""
    edges = [(i, i + 1) for i in range(1, 8)]
    assert _cc(spark, edges) == [(i, 1) for i in range(1, 9)]


def test_connected_components_cycle(spark):
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    assert _cc(spark, edges) == [(1, 1), (2, 1), (3, 1), (4, 1)]


def test_connected_components_two_components(spark):
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
    assert _cc(spark, edges) == [
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10),
    ]


def test_connected_components_nonconvergence_raises(spark):
    """max_iter too small for the diameter → loud failure, never silent
    partial labels; strict=False downgrades to a warning."""
    edges = [(i, i + 1) for i in range(1, 40)]
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, edges, max_iter=1)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        labels = _cc(spark, edges, max_iter=1, strict=False)
    assert len(labels) == 40  # every node still labeled, just not converged


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_connected_components_matches_union_find_model(spark, seed):
    """Randomized graphs vs a sequential union-find model (reference-test
    style: small input, exact expected output). Fixed seeds keep it
    deterministic."""
    import random

    from hadoop_prototype_spark.operators.dedup import connected_components

    rng = random.Random(seed)
    n_nodes, n_edges = 60, 45
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
    ]
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    touched = {v for e in edges for v in e}
    comp_min = {}
    for v in touched:
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    expected = sorted((v, comp_min[find(v)]) for v in touched)

    df = spark.createDataFrame(edges, "a long, b long")
    got = sorted(
        (r.node, r.component) for r in connected_components(df).collect()
    )
    assert got == expected


def test_canonical_docs_elects_longest_then_lowest_id(spark):
    from hadoop_prototype_spark.operators.dedup import canonical_docs

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (4, 7), (9, 99)],  # 9 is a singleton
        "doc_id long, n_chars long",
    )
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "node long, component long"
    )
    out = {r.component: r for r in canonical_docs(docs, comp).collect()}
    # longest wins; 2 and 3 tie on n_chars=50 → lowest id (2) wins
    assert out[1].keeper_id == 2 and out[1].n_members == 3 and out[1].max_chars == 50
    assert out[4].keeper_id == 4 and out[4].n_members == 1
    assert 9 not in out  # singletons are not clusters


def test_pandas_brute_force_matches_expression_path(spark, sf_dir):
    """The Arrow/numpy ANN path must agree with the codegen expression path
    (same neighbor sets and ranks; cosines to fp tolerance — numpy
    reassociates sums)."""
    from hadoop_prototype_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_pandas,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = {(r.qid, r.rank): (r.nid, r.cosine) for r in brute_force_topk(emb).collect()}
    b = {(r.qid, r.rank): (r.nid, r.cosine) for r in brute_force_topk_pandas(emb).collect()}
    assert a.keys() == b.keys()
    for key in a:
        assert a[key][0] == b[key][0], (key, a[key], b[key])
        assert abs(a[key][1] - b[key][1]) < 1e-9


def test_cm_sketch_one_sided_and_mergeable(spark, sf_dir):
    """Count-min invariants: estimate >= truth for every probed token, the
    sketch has at most depth*width cells regardless of corpus size, and
    shard sketches merge by cell-wise addition into the full-corpus
    sketch."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.sketch import (
        CM_DEPTH,
        CM_WIDTH,
        cm_sketch,
        heavy_hitter_estimates,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    est = heavy_hitter_estimates(docs).collect()
    assert est and all(r.cm_estimate >= r.true_n for r in est)

    full = cm_sketch(docs)
    assert full.count() <= CM_DEPTH * CM_WIDTH
    a = cm_sketch(docs.filter(F.col("doc_id") % 2 == 0))
    b = cm_sketch(docs.filter(F.col("doc_id") % 2 == 1))
    merged = (
        a.unionByName(b)
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    diff = merged.exceptAll(full).count() + full.exceptAll(merged).count()
    assert diff == 0


def test_incremental_aggregate_maintenance(spark, sf_dir):
    """Folding per-batch summaries must equal the full recompute — the
    materialized-view refresh contract (and retractions via negative
    deltas for sums/counts)."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.incremental import (
        merge_aggregates,
        summarize,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(14,2)").alias("price")
    )
    spec = {
        "n": ("count", "price"),
        "total": ("sum", "price"),
        "mx": ("max", "price"),
    }
    keys = ["o_custkey"]
    full = summarize(orders, keys, spec)
    day1 = orders.filter(F.col("o_custkey") % 3 != 0)
    day2 = orders.filter(F.col("o_custkey") % 3 == 0)
    merged = merge_aggregates(summarize(day1, keys, spec), summarize(day2, keys, spec), keys, spec)
    assert merged.exceptAll(full).count() == 0 and full.exceptAll(merged).count() == 0

    # retraction: subtracting a batch's sums/counts restores the prior state
    retract = summarize(day2, keys, spec).select(
        "o_custkey",
        (-F.col("n")).alias("n"),
        (-F.col("total")).alias("total"),
        F.lit(None).cast(merged.schema["mx"].dataType).alias("mx"),
    )
    spec_sc = {"n": ("count", "price"), "total": ("sum", "price")}
    back = merge_aggregates(
        merged.select("o_custkey", "n", "total"), retract.select("o_custkey", "n", "total"),
        keys, spec_sc,
    ).filter(F.col("n") > 0)
    d1 = summarize(day1, keys, spec_sc)
    assert back.exceptAll(d1).count() == 0 and d1.exceptAll(back).count() == 0


def test_decontamination_flags_overlap_and_cleans(spark):
    """Crafted corpus: a training doc copying an eval doc's text must be
    flagged (and dropped by the filtering form); a disjoint training doc
    must survive untouched."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.decontam import (
        _split_sides,
        decontaminate,
        eval_contamination,
    )

    # find ids on each side of the shared split arithmetic
    ids = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    train_ids, eval_ids = _split_sides(ids, "doc_id")
    t1, t2 = [r.doc_id for r in train_ids.limit(2).collect()]
    (e1,) = [r.doc_id for r in eval_ids.limit(1).collect()]

    leaked = "the quick brown fox jumps over the lazy dog"
    clean = "completely different words appear in this training document"
    docs = spark.createDataFrame(
        [(t1, leaked), (t2, clean), (e1, leaked)], ["doc_id", "text"]
    )

    report = eval_contamination(docs).collect()
    assert [r.doc_id for r in report] == [t1]
    assert report[0].n_eval_docs == 1 and report[0].n_hit_shingles > 0

    survivors = {r.doc_id for r in decontaminate(docs).select("doc_id").collect()}
    assert survivors == {t2}


def test_decontamination_short_docs_cannot_be_flagged(spark):
    """Docs with fewer than k words produce no shingles on either side —
    mirrored in the oracle (word_shingles drops them)."""
    from hadoop_prototype_spark.operators.decontam import _split_sides, eval_contamination

    ids = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    train_ids, eval_ids = _split_sides(ids, "doc_id")
    t1 = train_ids.limit(1).collect()[0].doc_id
    e1 = eval_ids.limit(1).collect()[0].doc_id
    docs = spark.createDataFrame([(t1, "two words"), (e1, "two words")], ["doc_id", "text"])
    assert eval_contamination(docs).count() == 0


def test_hll_sketch_accuracy_and_mergeability(spark, sf_dir):
    """HLL estimate within the theoretical error band (1.04/sqrt(256) ≈ 6.5%;
    assert 3 sigma), and shard sketches merged by cell-wise max must equal
    the whole-corpus sketch — the property that makes it a sketch at all."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.sketch import hll_estimate, hll_sketch
    from hadoop_prototype_spark.sources.tables import load_table

    import math

    from hadoop_prototype_spark.operators.sketch import HLL_M, hll_distinct_tokens

    docs = load_table(spark, sf_dir, "documents")
    row = hll_distinct_tokens(docs).collect()[0]
    est = row.hll_estimate
    # caller-side small-range correction, exactly as the operator documents:
    # linear counting when the raw estimate is small and zero registers exist
    if est <= 2.5 * HLL_M and row.n_zero_registers > 0:
        est = HLL_M * math.log(HLL_M / row.n_zero_registers)
    rel_err = abs(est - row.exact_distinct) / row.exact_distinct
    assert rel_err < 3 * 1.04 / (HLL_M ** 0.5), (est, row.exact_distinct)

    whole = hll_sketch(docs)
    s1 = hll_sketch(docs.filter(F.col("doc_id") % 2 == 0))
    s2 = hll_sketch(docs.filter(F.col("doc_id") % 2 == 1))
    merged = (
        s1.unionByName(s2)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert merged.exceptAll(whole).count() == 0 and whole.exceptAll(merged).count() == 0
    # merged estimate identical too (exact-integer arithmetic end to end)
    assert hll_estimate(merged).collect() == hll_estimate(whole).collect()


def test_hll_large_range_accuracy(spark, sf_dir):
    """Over ~16k distinct shingles (n >> m) the RAW estimator must land
    within the 3-sigma theoretical band — no correction needed."""
    from hadoop_prototype_spark.operators.sketch import HLL_M, hll_distinct_shingles
    from hadoop_prototype_spark.sources.tables import load_table

    row = hll_distinct_shingles(load_table(spark, sf_dir, "documents")).collect()[0]
    assert row.exact_distinct > 50 * HLL_M  # genuinely large-range
    rel_err = abs(row.hll_estimate - row.exact_distinct) / row.exact_distinct
    assert rel_err < 3 * 1.04 / (HLL_M ** 0.5), (row.hll_estimate, row.exact_distinct)


def test_tfidf_rare_term_outranks_common(spark):
    """A term unique to one doc must outscore corpus-wide terms there, and
    the exact-ratio scores must match hand arithmetic (tf*N/df)."""
    from hadoop_prototype_spark.operators.invindex import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common rareword"),
            (2, "common common common"),
            (3, "common filler filler"),
        ],
        ["doc_id", "text"],
    )
    out = {(r.doc_id, r.term_rank): (r.token, r.tfidf) for r in tfidf_top_terms(docs).collect()}
    # doc 1: rareword tf=1 df=1 N=3 → 3.0; common tf=2 df=3 → 2.0
    assert out[(1, 1)] == ("rareword", 3.0)
    assert out[(1, 2)] == ("common", 2.0)
    # doc 3: filler tf=2 df=1 → 6.0 beats common tf=1 df=3 → 1.0
    assert out[(3, 1)] == ("filler", 6.0)


def test_inverted_index_caps_postings_keeps_exact_df(spark):
    """Posting lists cap at max_postings highest-tf docs (ties → lowest id)
    while df stays exact — the tiered-index skew guard."""
    from hadoop_prototype_spark.operators.invindex import inverted_index

    rows = [(i, "stopword " * (i % 3 + 1)) for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.token: r for r in inverted_index(docs, max_postings=4).collect()}
    sw = out["stopword"]
    assert sw.df == 10
    # tf=3 for ids 2,5,8; tf=2 for 1,4,7 → top-4 = [2,5,8,1]
    assert sw.postings == [2, 5, 8, 1]


def test_duplicated_window_fraction_crafted(spark):
    """Hand-checkable corpus: a doc fully copied elsewhere scores 1.0, a
    unique doc 0.0, a half-shared doc the exact window ratio."""
    from hadoop_prototype_spark.operators.dedup import duplicated_window_fraction

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),      # windows: ab g, b g d (2)
            (2, "alpha beta gamma delta"),      # identical → both dup
            (3, "unique words only here now"),  # no overlap
            (4, "alpha beta gamma zeta eta"),   # shares window 'alpha beta gamma'
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicated_window_fraction(docs).collect()}
    assert out[1].dup_fraction == 1.0 and out[2].dup_fraction == 1.0
    assert out[3].dup_fraction == 0.0
    # doc 4 has 3 windows, 1 shared
    assert out[4].n_windows == 3 and out[4].n_dup_windows == 1
    assert out[4].dup_fraction == 1.0 / 3.0


def test_remove_boilerplate_spans_crafted(spark):
    """Hand-checkable: a 3-token footer shared by 2 docs is stripped from
    both (with the correct covered-token counts), a doc below the window
    size survives untouched, and a doc that IS the footer empties out."""
    from hadoop_prototype_spark.operators.dedup import remove_boilerplate_spans

    docs = spark.createDataFrame(
        [
            (1, "unique one content copyright acme corp"),
            (2, "other fresh words copyright acme corp"),
            (3, "copyright acme corp"),
            (4, "tiny doc"),  # < k tokens: no window can cover it
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in remove_boilerplate_spans(docs, k=3, min_docs=2).collect()}
    assert out[1].text_clean == "unique one content"
    assert out[1].n_tokens == 6 and out[1].n_removed == 3
    assert out[2].text_clean == "other fresh words"
    assert out[3].text_clean == "" and out[3].n_removed == 3
    assert out[4].text_clean == "tiny doc" and out[4].n_removed == 0


def test_remove_boilerplate_overlapping_windows(spark):
    """Overlapping frequent windows must cover the union of their
    positions, not double-remove or double-count: a 4-token shared prefix
    yields two overlapping 3-windows covering exactly 4 tokens."""
    from hadoop_prototype_spark.operators.dedup import remove_boilerplate_spans

    docs = spark.createDataFrame(
        [(1, "a b c d tail1 x"), (2, "a b c d tail2 y")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in remove_boilerplate_spans(docs, k=3, min_docs=2).collect()}
    assert out[1].text_clean == "tail1 x" and out[1].n_removed == 4
    assert out[2].text_clean == "tail2 y" and out[2].n_removed == 4


def test_histogram_quantiles_bracket_exact(spark, sf_dir):
    """The histogram lower edge must bracket the exact order statistic
    within one bin width, and the sketch must merge by cnt addition."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.sketch import (
        HIST_WIDTH,
        histogram_quantiles,
        value_histogram_sketch,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    for r in histogram_quantiles(events).collect():
        assert r.est_lower_edge <= r.exact_value < r.est_lower_edge + HIST_WIDTH, r

    whole = value_histogram_sketch(events)
    s1 = value_histogram_sketch(events.filter(F.col("event_id") % 2 == 0))
    s2 = value_histogram_sketch(events.filter(F.col("event_id") % 2 == 1))
    merged = s1.unionByName(s2).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    assert merged.exceptAll(whole).count() == 0 and whole.exceptAll(merged).count() == 0


def test_bloom_pruned_join_exact_and_prunes(spark, sf_dir):
    """Bloom pre-filter must be result-invisible (no false negatives) and
    actually prune: with a 1%-of-customers dim, far fewer orders rows pass
    the filter than the full table (fpp bounded by the 1M-bit sizing)."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.joins import build_bloom, bloom_pruned_join
    from hadoop_prototype_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(F.col("c_custkey").alias("o_custkey"), "c_name")
    )
    got = bloom_pruned_join(orders, cust, "o_custkey")
    plain = orders.join(cust, "o_custkey")
    assert got.exceptAll(plain).count() == 0 and plain.exceptAll(got).count() == 0

    # pruning effectiveness: survivors ≈ true matches (+fpp)
    n_orders = orders.count()
    n_match = plain.count()
    from hadoop_prototype_spark.operators.joins import BLOOM_M_BITS

    from hadoop_prototype_spark.operators.joins import bloom_prune

    bloom = build_bloom(cust, "o_custkey")
    assert bloom.selectExpr("size(bloom) s").collect()[0].s == BLOOM_M_BITS // 64
    survivors = bloom_prune(orders, bloom, "o_custkey").count()
    assert survivors < n_orders * 0.2, (survivors, n_orders)
    assert survivors >= n_match


def test_bloom_prune_cross_type_no_false_negatives(spark):
    """Bloom build/probe must agree when the dim and fact key columns have
    different physical types (INT vs BIGINT) — the case a plain equi-join
    coerces transparently. Pre-fix, xxhash64 hashed the raw typed bytes on
    each side, so every true match was silently dropped (false negatives);
    keys are canonicalized to STRING before hashing so both sides agree."""
    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.joins import bloom_pruned_join

    fact = spark.range(1000).select(F.col("id").cast("bigint").alias("k"), F.lit("f").alias("side"))
    dim = spark.range(0, 1000, 10).select(F.col("id").cast("int").alias("k"), F.lit("d").alias("name"))
    got = bloom_pruned_join(fact, dim, "k")
    plain = fact.join(dim, "k")
    assert plain.count() == 100
    assert got.exceptAll(plain).count() == 0 and plain.exceptAll(got).count() == 0

    # fractional-vs-integral keys canonicalize to DIFFERENT strings
    # ('1.0' vs '1') — the join must REFUSE rather than silently drop
    # every true match the plain equi-join would coerce and find
    dfact = fact.select(F.col("k").cast("double").alias("k"), "side")
    with pytest.raises(ValueError, match="incompatible types"):
        bloom_pruned_join(dfact, dim, "k")


def test_kmeans_recovers_separated_blobs(spark):
    """Three well-separated blobs in 4-D: Lloyd must converge with every
    blob in its own cluster and centroids at the blob means."""
    from hadoop_prototype_spark.operators.kmeans import assign_clusters, kmeans_fit

    blobs = {0: [0.0, 0.0, 0.0, 0.0], 1: [10.0, 10.0, 0.0, 0.0], 2: [0.0, 0.0, 10.0, 10.0]}
    rows = []
    for b, center in blobs.items():
        for j in range(20):
            off = ((j % 5) - 2) * 0.1
            rows.append((b * 100 + j, [c + off for c in center]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    centroids, iters = kmeans_fit(emb, k=3, max_iter=20, dim=4)
    assert iters < 20, "must converge before max_iter"
    assigned = assign_clusters(emb, centroids, dim=4)
    # every blob maps to exactly one cluster, clusters distinct
    mapping = {
        r.blob: r.n_clusters
        for r in assigned.selectExpr("CAST(vec_id DIV 100 AS INT) AS blob", "cluster")
        .groupBy("blob")
        .agg(__import__("pyspark.sql.functions", fromlist=["F"]).countDistinct("cluster").alias("n_clusters"))
        .collect()
    }
    assert mapping == {0: 1, 1: 1, 2: 1}
    assert assigned.select("cluster").distinct().count() == 3
    # centroids land on blob means (offsets average to 0 over j%5 cycle)
    flat = sorted(tuple(round(x, 6) for x in c) for c in centroids)
    expect = sorted(tuple(c + 0.0 for c in v) for v in blobs.values())
    for got, want in zip(flat, expect):
        assert all(abs(a - b) < 1e-6 for a, b in zip(got, want)), (got, want)


def test_kmeans_matches_numpy_lloyd(spark, sf_dir):
    """Same init, same iteration count → the Spark fit must agree with a
    straight numpy Lloyd reference on the embeddings fixture (decimal-exact
    sums vs float64 sums: agreement to 1e-6)."""
    import numpy as np

    from hadoop_prototype_spark.functions.hashing import md5_int
    from hadoop_prototype_spark.operators.kmeans import kmeans_fit
    from hadoop_prototype_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    dim, k, iters = 64, 4, 3
    centroids, _ = kmeans_fit(emb, k=k, max_iter=iters, tol=0.0, dim=dim)

    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([[float(x) for x in r.embedding[:dim]] for r in rows])
    init_rows = (
        emb.orderBy(md5_int(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k).select("embedding").collect()
    )
    C = np.array([[float(x) for x in r.embedding[:dim]] for r in init_rows])
    for _ in range(iters):
        d = ((C**2).sum(axis=1)[None, :] - 2 * X @ C.T)
        a = d.argmin(axis=1)
        for j in range(k):
            if (a == j).any():
                C[j] = X[a == j].mean(axis=0)
    got = np.array(centroids)
    assert np.abs(got - C).max() < 1e-6


def test_quality_percentile_filter_drop_fraction(spark, sf_dir):
    """The histogram cutoff drops at most q·n docs, never the safe side's
    complement — and survivors are exactly the docs at/above the cutoff
    bin (no quality inversion: max dropped quality ≤ min kept bin edge)."""
    from hadoop_prototype_spark.operators.textstats import (
        quality_percentile_filter,
        quality_scores,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    kept = quality_percentile_filter(docs, q=0.25)
    n_kept = kept.count()
    assert n - n_kept <= 0.25 * n + 1
    assert n_kept < n, "at this corpus size some docs must drop"
    all_scores = sorted(r.quality for r in quality_scores(docs).collect())
    kept_min = kept.agg({"quality": "min"}).collect()[0][0]
    dropped = n - n_kept
    # everything below the kept minimum was dropped — ordering respected
    assert all(s < kept_min for s in all_scores[:dropped])


def test_asof_join_crafted(spark):
    """Hand-checkable backward as-of: latest right row ≤ left ts per key,
    equal ts matches, no prior row → null, equal-(key,ts) right ties break
    to the last by id."""
    from hadoop_prototype_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 10, "d")],
        "k long, t long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 7, 100, 70.0), (1, 10, 101, 71.0), (1, 15, 102, 72.0),
         (1, 10, 103, 73.0), (3, 1, 104, 74.0)],
        "k long, t long, rid long, price double",
    )
    out = {
        (r.k, r.t): (r.asof_rid, r.asof_price)
        for r in asof_join(left, right, "k", "t", ["rid", "price"], right_id_col="rid").collect()
    }
    assert out[(1, 5)] == (None, None)          # nothing at or before t=5
    assert out[(1, 10)] == (103, 73.0)          # equal-ts match; tie → max rid
    assert out[(1, 20)] == (102, 72.0)          # latest ≤ 20 is t=15
    assert out[(2, 10)] == (None, None)         # key with no right rows


def test_edit1_pairs_crafted(spark):
    """Substitution, insertion, and deletion pairs found; distance-2 and
    identical strings excluded; repeated-character variants don't dup."""
    from hadoop_prototype_spark.operators.fuzzy import edit1_pairs

    strs = ["cat", "cut", "cart", "ca", "dog", "doog", "cat"]
    df = spark.createDataFrame([(s,) for s in strs], ["name"])
    got = sorted((r.a, r.b) for r in edit1_pairs(df, "name").collect())
    # note: ("ca","cut") is distance 2 (delete t + substitute) — excluded
    assert got == sorted(
        [("cat", "cut"), ("cart", "cat"), ("ca", "cat"), ("dog", "doog")]
    ), got


def test_ivf_with_trained_codebook(spark, sf_dir):
    """IVF consuming a kmeans-trained codebook (the production wiring):
    every returned pair must carry the exact brute-force cosine, and
    recall against brute force must clear a sane floor."""
    from hadoop_prototype_spark.operators.kmeans import kmeans_fit
    from hadoop_prototype_spark.operators.similarity import (
        brute_force_topk,
        ivf_ann_topk,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    codebook, _ = kmeans_fit(emb, k=8, max_iter=3, dim=64)
    ivf = ivf_ann_topk(emb, nprobe=2, codebook=codebook)
    bf = brute_force_topk(emb)
    # cosines must agree exactly wherever the pair overlaps
    joined = ivf.alias("i").join(
        bf.alias("b"), ["qid", "nid"]
    ).selectExpr("i.cosine AS ci", "b.cosine AS cb")
    assert joined.filter("ci <> cb").count() == 0
    hits = joined.count()
    total = bf.count()
    assert hits / total >= 0.3, (hits, total)


def test_pagerank_matches_numpy_power_iteration(spark):
    """Fixed-iteration PageRank must agree with the dense numpy model on a
    random directed graph (including dangling nodes), and ranks must sum
    to ~1."""
    import random

    import numpy as np

    from hadoop_prototype_spark.operators.graph import pagerank

    rng = random.Random(7)
    n = 20
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(45)})
    edges = [(s, d) for s, d in edges if s != d]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got_df = pagerank(edf, iterations=12)
    got = {r.node: r.rank for r in got_df.collect()}

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    out = np.zeros(m)
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.full(m, 1.0 / m)
    d = 0.85
    for _ in range(12):
        contrib = np.zeros(m)
        dangling = r[out == 0].sum()
        for s, t in edges:
            contrib[idx[t]] += r[idx[s]] / out[idx[s]]
        r = (1 - d) / m + d * (contrib + dangling / m)
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_star_graph_ranks_center_highest(spark):
    """Hand-checkable: in a star (all spokes → center), the center must
    out-rank every spoke."""
    from hadoop_prototype_spark.operators.graph import pagerank

    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r.node: r.rank for r in pagerank(edf, iterations=15).collect()}
    assert ranks[0] == max(ranks.values())
    assert all(ranks[0] > ranks[i] for i in range(1, 6))


def test_semantic_dedup_matches_numpy_model(spark):
    """semantic_dedup must agree exactly with a numpy implementation of
    the same pipeline (same deterministic k-means fit, same greedy
    min-id-keeper rule) on a blob corpus with planted near-duplicates."""
    import numpy as np

    from hadoop_prototype_spark.operators.kmeans import kmeans_fit
    from hadoop_prototype_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    dim = 8
    base = {0: rng.normal(0, 1, dim), 1: rng.normal(10, 1, dim), 2: rng.normal(-10, 1, dim)}
    rows = []
    for i in range(30):
        blob = i % 3
        if i % 5 == 0 and i >= 3:
            # planted near-duplicate of an earlier vector in the same blob
            src = [r for r in rows if r[0] % 3 == blob][0]
            v = np.array(src[1]) * 1.0001
        else:
            v = base[blob] + rng.normal(0, 0.05, dim)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = sorted(r.vec_id for r in semantic_dedup(emb, k=3, threshold=0.999, dim=dim).collect())

    # numpy model: identical assignment (reuse the engine's own fit — the
    # fit itself is pinned elsewhere) + greedy min-id keeper rule
    centroids, _ = kmeans_fit(emb, k=3, dim=dim)
    C = np.array(centroids)
    # float32 storage: compare with the same values Spark read back
    V = np.array([np.array(v, dtype=np.float32).astype(float) for _, v in rows])
    assign = np.argmin((C * C).sum(1) - 2 * V @ C.T, axis=1)
    keep = []
    for i in range(len(rows)):
        dup = False
        for j in range(i):
            if assign[j] == assign[i]:
                a, b = V[i], V[j]
                cos = float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))
                if cos >= 0.999:
                    dup = True
                    break
        if not dup:
            keep.append(i)
    assert got == keep
    # the planted duplicates were actually dropped
    assert len(got) < 30


def test_chunk_documents_boundaries_and_overlap(spark):
    """Chunking must respect chunk/stride arithmetic: full chunks of
    `chunk` tokens every `stride`, a short final chunk, overlap = chunk -
    stride tokens of repeated left context, and no cross-doc leakage. The
    plan must contain no Exchange beyond the fan-out repartition (pure
    map-side)."""
    from hadoop_prototype_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b")],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk=4, stride=3)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    # doc 1: starts 1,4,7,10 -> 4 chunks
    assert sorted(c for d, c in rows if d == 1) == [0, 1, 2, 3]
    assert rows[(1, 0)].chunk_text == "t0 t1 t2 t3"
    assert rows[(1, 1)].chunk_text == "t3 t4 t5 t6"      # 1-token overlap
    assert rows[(1, 3)].chunk_text == "t9"               # short final chunk
    assert rows[(1, 3)].n_tokens == 1
    assert rows[(2, 0)].chunk_text == "a b" and rows[(2, 0)].n_tokens == 2

    # pure map-side: no hash/range exchange — the only Exchange is the
    # round-robin fan-out (AQE prints it once per plan section)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_ivf_persisted_index_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    """The durable cid-partitioned IVF index must return exactly the
    inline ivf_ann_topk results for the same codebook/queries, and the
    probe-filtered scan must read ONLY the probed partitions (parquet
    partition pruning — the property that makes a persisted IVF index pay
    at scale)."""
    import glob

    from pyspark.sql import functions as F

    from hadoop_prototype_spark.operators.kmeans import kmeans_fit
    from hadoop_prototype_spark.operators.similarity import (
        IVF_NPROBE,
        ivf_ann_topk,
        ivf_index_build,
        ivf_index_search,
    )
    from hadoop_prototype_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    codebook, _ = kmeans_fit(emb, k=8, max_iter=3)
    inline = ivf_ann_topk(emb, codebook=codebook)

    path = str(tmp_path / "ivf_index")
    ivf_index_build(emb, codebook, path)
    queries = emb.filter(F.col("vec_id") < 10)
    persisted = ivf_index_search(spark, path, codebook, queries)

    key = lambda rows: sorted((r.qid, r.nid, r.rank) for r in rows)  # noqa: E731
    assert key(persisted.collect()) == key(inline.collect())

    # pruning: the search must touch only the probed cid directories —
    # recompute the probe set with the shared driver helper and require
    # touched ⊆ probed (strictly fewer than all partitions)
    from hadoop_prototype_spark.operators.similarity import _driver_probe_rows

    probed = {
        str(c)
        for _, _, c in _driver_probe_rows(
            queries.select("vec_id", "embedding").collect(),
            [(i, list(c)) for i, c in enumerate(codebook)],
            64,
            IVF_NPROBE,
        )
    }
    read_files = {
        r[0]
        for r in ivf_index_search(spark, path, codebook, queries)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    all_parts = set(glob.glob(f"{path}/cid=*"))
    # input_file_name() is empty for broadcast-side rows; keep index files
    touched_parts = {
        f.split("/cid=")[1].split("/")[0] for f in read_files if "/cid=" in f
    }
    assert touched_parts <= probed, (touched_parts, probed)
    assert len(touched_parts) < len(all_parts), "probe filter must prune partitions"
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cid" in plan or "cid#" in plan.split("PartitionFilters", 1)[-1].split("]")[0]


def test_rag_retrieve_matches_python_model(spark):
    """rag_retrieve_topk against a pure-Python model of the same
    pipeline (chunk -> hashing-trick TF embed -> cosine -> top-k) on a
    small synthetic corpus — pins chunking boundaries, bucket hashing,
    self-doc exclusion, and the tie ordering."""
    import hashlib
    import math

    from hadoop_prototype_spark.operators import retrieval

    texts = {
        0: "apple banana cherry apple",
        1: "banana cherry date elderberry fig grape honeydew kiwi",
        2: "apple apple apple banana",
        3: "quartz zinc xenon",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id bigint, text string"
    )
    dim, chunk, stride, nq, k = 8, 3, 3, 2, 4
    got = sorted(
        (r.qid, r.rank, r.doc_id, r.chunk_id, r.cosine)
        for r in retrieval.rag_retrieve_topk(
            docs, k=k, n_queries=nq, chunk=chunk, stride=stride, dim=dim
        ).collect()
    )

    def bucket(tok):
        return int(hashlib.md5(f"{retrieval.RAG_SALT}{tok}".encode()).hexdigest()[:8], 16) % dim

    def embed(tokens):
        v = [0] * dim
        for t in tokens:
            v[bucket(t)] += 1
        return v

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        if dot == 0:
            return None
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    chunks = {}
    for d, t in texts.items():
        words = t.split()
        for ci, s in enumerate(range(0, len(words), stride)):
            chunks[(d, ci)] = embed(words[s:s + chunk])
    want = []
    for q in range(nq):
        qv = embed(texts[q].split())
        scored = [
            (c, (d, ci))
            for (d, ci), cv in chunks.items()
            if d != q
            for c in [cos(qv, cv)]
            if c is not None
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        for rank, (c, (d, ci)) in enumerate(scored[:k], 1):
            want.append((q, rank, d, ci, c))
    want.sort()
    assert [g[:4] for g in got] == [w[:4] for w in want]
    for g, w in zip(got, want):
        assert abs(g[4] - w[4]) < 1e-12
