"""functions/expr.flet: single-evaluation let-binding for lambdas."""

import pyspark.sql.functions as F


def test_flet_value_and_types(spark):
    from nlp_with_pyspark_spark.functions.expr import flet

    df = spark.createDataFrame([(1, [3, 1, 2])], "id long, xs array<int>")
    out = df.select(
        flet(F.array_sort("xs"), lambda s: F.struct(
            F.element_at(s, 1).alias("lo"),
            F.element_at(s, -1).alias("hi"),
            F.size(s).alias("n"),
        )).alias("r")
    ).first().r
    assert (out.lo, out.hi, out.n) == (1, 3, 3)


def test_flet_binds_once_not_per_element(spark):
    """The reason flet exists: an expensive derived array referenced
    inside a per-element lambda must not be recomputed per element.
    Timing-based proof lives in the operators (shingles went 18.7s→0.9s);
    here we pin the semantic shape: nested lambdas can close over the
    bound variable."""
    from nlp_with_pyspark_spark.functions.expr import flet

    df = spark.createDataFrame([([1, 2, 3, 4],)], "xs array<int>")
    # pairwise sums via indices into the BOUND array
    out = df.select(
        flet(F.col("xs"), lambda t: F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.element_at(t, i) + F.element_at(t, i + 1),
        )).alias("sums")
    ).first().sums
    assert out == [3, 5, 7]


def test_memo_col_returns_same_tree_and_results(spark, sf_dir):
    """memo_col: second call with the same key returns the SAME Column
    object (construction caching), and embedding the memoized tree in
    several plans — or twice in one plan — yields results identical to
    a freshly built tree (lambda variables resolve per enclosing
    lambdafunction, so sibling copies don't cross-talk)."""
    from nlp_with_pyspark_spark.functions.expr import _MEMO_COLS, memo_col
    from nlp_with_pyspark_spark.functions.text import (
        clean_text,
        filter_stopwords,
        tokenize,
        tokens_pipeline,
    )

    a = tokens_pipeline("text")
    b = tokens_pipeline("text")
    assert a is b, "same key must return the memoized Column object"
    assert any(k[0] == "text.tokens_pipeline" for k in _MEMO_COLS)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fresh = filter_stopwords(tokenize(clean_text("text")))
    got1 = docs.select("doc_id", a.alias("v")).collect()
    got2 = docs.select("doc_id", a.alias("v")).collect()  # reuse across plans
    want = docs.select("doc_id", fresh.alias("v")).collect()
    assert sorted(map(tuple, got1)) == sorted(map(tuple, want))
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))
    twice = docs.select(a.alias("v1"), a.alias("v2")).collect()  # one plan
    assert all(r.v1 == r.v2 for r in twice)


def test_memo_col_distinct_keys_distinct_trees(spark):
    """Different parameters must never share a memo slot."""
    from nlp_with_pyspark_spark.functions.expr import memo_col

    c1 = memo_col(("t14", "a"), lambda: F.lit(1))
    c2 = memo_col(("t14", "b"), lambda: F.lit(2))
    assert c1 is not c2
    row = spark.range(1).select(c1.alias("x"), c2.alias("y")).first()
    assert (row.x, row.y) == (1, 2)


def test_memo_col_keys_bound_columns_apart(spark):
    """Two DataFrames' same-named columns must not share a memo slot:
    each is bound to its own DataFrame's attribute, so a tree built over
    one fails analysis over the other. The same DataFrame's column, and
    an unresolved name, still hit the memo. (A stop list of its own
    keeps this test's memo slots fresh.)"""
    from nlp_with_pyspark_spark.functions.text import (
        clean_text,
        filter_stopwords,
        tokenize,
        tokens_pipeline,
    )

    stop = ("reads", "decode")
    a = spark.createDataFrame([("Spark reads parquet files",)], "text string")
    b = spark.createDataFrame([("Python workers decode arrow",)], "text string")
    for df in (a, b):
        got = df.select(tokens_pipeline(df["text"], stop).alias("t")).first().t
        want = df.select(
            filter_stopwords(tokenize(clean_text(df["text"])), stop).alias("t")
        ).first().t
        assert got == want and got
    assert tokens_pipeline(a["text"], stop) is tokens_pipeline(a["text"], stop)
    assert tokens_pipeline(F.col("text"), stop) is tokens_pipeline(F.col("text"), stop)


def test_memo_col_evicts_dead_context_entries(spark):
    """A miss drops every entry built under a SparkContext that is no
    longer active, and keeps the live context's entries."""
    from nlp_with_pyspark_spark.functions.expr import _MEMO_COLS, memo_col

    live = memo_col(("memo-test", "live"), lambda: F.lit(1))
    _MEMO_COLS[("memo-test", "dead")] = (object(), F.lit(0))
    fresh = memo_col(("memo-test", "fresh"), lambda: F.lit(2))
    assert ("memo-test", "dead") not in _MEMO_COLS
    assert _MEMO_COLS[("memo-test", "live")][1] is live
    assert _MEMO_COLS[("memo-test", "fresh")][1] is fresh


def test_hygiene_gates_expr_matches_standalone_gates(spark, sf_dir):
    """The combined gate struct's fields are bit-identical to the
    standalone quality_score_expr / is_repetitive_expr and the
    n_ws_tokens byproduct equals size(_raw_tokens(text)) — the
    share-one-token-array rewrite changes nothing observable."""
    from nlp_with_pyspark_spark.functions.expr import _MEMO_COLS
    from nlp_with_pyspark_spark.operators.textstats import (
        _raw_tokens,
        hygiene_gates_expr,
        is_repetitive_expr,
        quality_score_expr,
    )

    _MEMO_COLS.clear()  # force fresh builds of every tree under test
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = (
        docs.select("doc_id", hygiene_gates_expr(F.col("text")).alias("_g"))
        .select(
            "doc_id",
            F.col("_g")["quality_score"].alias("qs"),
            F.col("_g")["is_repetitive"].alias("rep"),
            F.col("_g")["n_ws_tokens"].alias("nt"),
        )
        .collect()
    )
    want = docs.select(
        "doc_id",
        quality_score_expr(F.col("text")).alias("qs"),
        is_repetitive_expr(F.col("text")).alias("rep"),
        F.size(_raw_tokens(F.col("text"))).cast("long").alias("nt"),
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_dense_weight_lit_nonfinite_round_trip(spark):
    """_dense_weight_lit must parse and round-trip non-finite doubles
    (smoothing=0 source-only buckets yield -inf) exactly like the
    F.lit(list) path it replaced."""
    import math

    from nlp_with_pyspark_spark.operators.selection import _dense_weight_lit

    vals = [1.5, float("-inf"), float("inf"), float("nan"), -0.0, 2.0**-1074]
    got = spark.range(1).select(_dense_weight_lit(vals).alias("a")).first().a
    want = spark.range(1).select(F.lit(vals).alias("a")).first().a
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (math.isnan(g) and math.isnan(w)) or g == w
        if g == 0.0:
            assert math.copysign(1.0, g) == math.copysign(1.0, w)
