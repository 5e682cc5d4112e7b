"""Round-4 additions: retrieval scoring, prefix-filtered similarity
join, directed containment, weighted PageRank, basket lift, Markov
transitions.

Semantics are pinned against tiny hand-computable fixtures; plan
discipline (what shuffles, what must not) against sf0.001. Cross-engine
value parity is the oracle gate's job (tools/oracle_check.py) — these
tests pin the properties the oracle can't see: losslessness of the
prefix filter vs the unfiltered exact join, candidate-volume bounds,
rank-vector invariants.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.operators import dedup, graph, retrieval


# ------------------------------------------------------------ retrieval ----


def test_bm25_matches_hand_formula(spark):
    docs = spark.createDataFrame(
        [
            (1, "vector vector stream apple"),
            (2, "apple banana cherry date"),
            (3, "stream apple banana cherry"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in retrieval.bm25_scores(docs, ["vector", "stream"]).collect()
    }
    # doc 2 matches no query term: absent
    assert set(got) == {1, 3}
    n, avgdl = 3, 4.0
    k1, b = 1.2, 0.75

    def idf(dfreq):
        return math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))

    def w(tf, dl, dfreq):
        return idf(dfreq) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    # doc 1: vector tf=2 (df=1), stream tf=1 (df=2); dl=4
    exp1 = w(2, 4, 1) + w(1, 4, 2)
    assert got[1]["n_terms_matched"] == 2
    assert got[1]["bm25"] == pytest.approx(exp1, abs=1e-9)  # 1e-9 exactmath grid
    # doc 3: stream tf=1 (df=2); dl=4
    assert got[3]["n_terms_matched"] == 1
    assert got[3]["bm25"] == pytest.approx(w(1, 4, 2), abs=1e-9)


def test_unigram_logprob_matches_hand_model(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in retrieval.unigram_logprob_scores(docs).collect()
    }
    # corpus: a=2, b=2, c=1, total=5
    la, lb, lc = math.log(2 / 5), math.log(2 / 5), math.log(1 / 5)
    assert got[1]["n_tokens"] == 3
    assert got[1]["mean_logprob"] == pytest.approx((la + la + lb) / 3, abs=1e-9)
    assert got[2]["mean_logprob"] == pytest.approx((lb + lc) / 2, abs=1e-9)


# ---------------------------------------------------------- prefix join ----


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_join_equals_unfiltered_exact_join(spark):
    """Losslessness: prefix filtering must return EXACTLY the pairs the
    all-pairs exact Jaccard join returns at the same threshold."""
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(20)
    ]
    # near-dups: doc 100+i shares most tokens with doc i
    rows += [
        (100 + i, " ".join(f"w{i}_{j}" for j in range(28)) + " zz yy")
        for i in range(5)
    ]
    df = _corpus(spark, rows)
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_prefix_pairs(df, threshold=0.5).collect()
    }
    # unfiltered exact join: single blocking value = all-pairs
    ref = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            df.withColumn("source", F.lit("all")), threshold=0.5
        ).collect()
    }
    assert got == ref and len(got) == 5


def test_prefix_index_excludes_common_tokens(spark):
    """The inverted index must only carry each doc's RAREST tokens: a
    boilerplate shingle shared by every doc (which would make a blocked
    inverted index quadratic) never enters the prefix at high doc
    frequency, so candidate volume stays near-linear."""
    boiler = "the quick brown fox jumps over the lazy dog again"
    rows = [(i, boiler + f" unique{i}a unique{i}b unique{i}c") for i in range(40)]
    df = _corpus(spark, rows)
    pairs = dedup.jaccard_prefix_pairs(df, threshold=0.9).collect()
    # boilerplate-heavy docs still differ (unique tail) → no 0.9-pairs
    assert pairs == []


def test_containment_directed_asymmetric(spark):
    """Short doc quoted inside a long one: containment fires sub→super
    only; Jaccard at the same bar would miss it."""
    short = " ".join(f"s{j}" for j in range(10))
    long = short + " " + " ".join(f"x{j}" for j in range(40))
    df = spark.createDataFrame(
        [(1, short, "src"), (2, long, "src")],
        "doc_id long, text string, source string",
    )
    rows = dedup.ngram_containment_pairs(df, threshold=0.8).collect()
    assert [(r["id_sub"], r["id_super"]) for r in rows] == [(1, 2)]
    assert rows[0]["containment"] == pytest.approx(1.0)
    # and symmetric Jaccard at 0.8 finds nothing
    assert (
        dedup.ngram_jaccard_pairs(df, threshold=0.8).collect() == []
    )


# -------------------------------------------------------------- pagerank ----


def test_pagerank_sums_to_one_and_source_ranks_lowest(spark):
    edges = spark.createDataFrame(
        [("a", "c", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src string, dst string, weight double",
    )
    rows = {r["node"]: r["rank"] for r in graph.pagerank(edges, iters=10).collect()}
    assert sum(rows.values()) == pytest.approx(1.0, rel=1e-9)
    # b has no in-edges: teleport-only mass (1-d)/N; a and c trade the rest
    assert rows["b"] == pytest.approx(0.15 / 3, rel=1e-9)
    assert rows["a"] > rows["b"] and rows["c"] > rows["b"]


def test_pagerank_dangling_mass_is_conserved(spark):
    # b has no out-edges: its mass must be redistributed, not lost
    edges = spark.createDataFrame(
        [("a", "b", 1.0)], "src string, dst string, weight double"
    )
    rows = {r["node"]: r["rank"] for r in graph.pagerank(edges, iters=5).collect()}
    assert sum(rows.values()) == pytest.approx(1.0, rel=1e-9)
    assert rows["b"] > rows["a"]


def test_pagerank_weights_split_proportionally(spark):
    # a sends 3/4 of its mass to b, 1/4 to c; one iteration from uniform
    edges = spark.createDataFrame(
        [("a", "b", 3.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, weight double",
    )
    rows = {r["node"]: r["rank"] for r in graph.pagerank(edges, iters=1).collect()}
    third, d = 1.0 / 3, 0.85
    assert rows["b"] == pytest.approx((1 - d) / 3 + d * third * 0.75, rel=1e-9)
    assert rows["c"] == pytest.approx((1 - d) / 3 + d * third * 0.25, rel=1e-9)


# ------------------------------------------------------- plan discipline ----


def test_prefix_join_no_cartesian_and_no_python(spark, sf_dir):
    from projet_etl_a_rien_spark.fixtures import documents_with_dups

    df = documents_with_dups(spark, sf_dir)
    # materialize=False: the default eagerly checkpoints (cache-release
    # contract), which would reduce this audit to a checkpoint scan
    plan = (
        dedup.jaccard_prefix_pairs(df, threshold=0.5, materialize=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_basket_lift_stat_tables_broadcast(spark, sf_dir):
    from projet_etl_a_rien_spark.queries import REGISTRY

    plan = (
        REGISTRY["parts_basket_lift"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # per-part counts and the 1-row n_orders join as broadcasts — the
    # only shuffles are the distinct + the pair groupBy
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


# ----------------------------------------------------- weighted sample ----


def test_weighted_sample_key_formula_and_topk_plan(spark, sf_dir):
    import hashlib

    from projet_etl_a_rien_spark.queries import REGISTRY

    df = REGISTRY["doc_weighted_sample"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort
    rows = df.collect()
    assert len(rows) <= 200
    # replay the A-ES key for one row in plain Python
    r = rows[0]
    u = (
        int(hashlib.md5(f"ws|{r['doc_id']}".encode()).hexdigest()[:13], 16) + 1
    ) / (2**52 + 1)
    assert r["samp_key"] == pytest.approx(math.log(u) / r["n_chars"], abs=1e-9)
    # deterministic: a second run returns the identical sample
    again = {x["doc_id"] for x in REGISTRY["doc_weighted_sample"].fn(spark, sf_dir).collect()}
    assert {x["doc_id"] for x in rows} == again


def test_novelty_score_hand_fixture(spark):
    from projet_etl_a_rien_spark.operators.dedup import hashed_shingles

    # doc 1 and 2 identical (all shingles df=2 → novelty 0);
    # doc 3 unique (novelty 1)
    docs = spark.createDataFrame(
        [
            (1, "a b c d e", "en", "s", 9),
            (2, "a b c d e", "en", "s", 9),
            (3, "p q r s t", "en", "s", 9),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    base = docs.select(
        F.col("doc_id").alias("id"), hashed_shingles("text", 3).alias("xs")
    )
    toks = base.select("id", F.explode("xs").alias("token"))
    dfreq = toks.groupBy("token").agg(F.count("*").alias("dfreq"))
    nov = {
        r["doc_id"]: r
        for r in toks.join(dfreq, "token")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count("*").alias("n_shingles"),
            (F.sum(F.when(F.col("dfreq") == 1, 1).otherwise(0)) / F.count("*")).alias(
                "novelty"
            ),
        )
        .collect()
    }
    assert nov[1]["novelty"] == 0.0 and nov[2]["novelty"] == 0.0
    assert nov[3]["novelty"] == 1.0


def test_feature_corr_perfect_linear_pair(spark, tmp_path):
    import shutil

    # corr(l_quantity, l_extendedprice) == 1 when price = 3*qty + 7
    rows = [(float(i % 17 + 1),) for i in range(100)]
    df = spark.createDataFrame(rows, "l_quantity double").select(
        "l_quantity",
        (F.col("l_quantity") * 3 + 7).alias("l_extendedprice"),
        (F.col("l_quantity") * -2 + 1).alias("l_discount"),
        F.lit(0.0).alias("l_tax"),
    )
    d = str(tmp_path / "li")
    df.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    # reuse the registered implementation against the tmp table dir
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "events", "documents", "embeddings"]:
        shutil.copytree(
            f"/root/testdata/sf0.001/{t}.parquet", f"{d}/{t}.parquet",
            dirs_exist_ok=True,
        ) if False else None
    from projet_etl_a_rien_spark.queries import REGISTRY

    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in REGISTRY["lineitem_feature_corr"].fn(spark, d).collect()
    }
    assert got[("l_quantity", "l_extendedprice")] == pytest.approx(1.0, abs=1e-12)
    assert got[("l_quantity", "l_discount")] == pytest.approx(-1.0, abs=1e-12)
    # zero-variance column: corr is NULL (explicit contract, engine-neutral)
    assert got[("l_quantity", "l_tax")] is None


def test_quality_percentile_rank_semantics(spark, sf_dir):
    from projet_etl_a_rien_spark.queries import REGISTRY

    rows = REGISTRY["doc_quality_percentile_by_lang"].fn(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        prs = sorted(r["pr"] for r in rs)
        assert prs[0] == 0.0 and prs[-1] == 1.0
        assert all(1 <= r["decile"] <= 10 for r in rs)


# ------------------------------------------- streaming weighted sample ----


def test_streaming_weighted_sample_equals_batch_topk(spark, tmp_path):
    """Multi-micro-batch merge must equal the batch A-ES top-k: top-k is
    associative over unions and keys are pure row functions."""
    from projet_etl_a_rien_spark.streaming.windows import run_weighted_sample_sink

    src = str(tmp_path / "src")
    rows = [(i, float((i * 37) % 50 + 1)) for i in range(300)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    # three separate files → three micro-batches under maxFilesPerTrigger=1
    for j in range(3):
        df.where(F.col("event_id") % 3 == j).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = str(tmp_path / "sink")
    got = run_weighted_sample_sink(stream, sink, k=25)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("es|"), F.col("event_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + 1
    ) / F.lit(float(2**52 + 1))
    ref = (
        df.where(F.col("value") > 0)
        .select("event_id", "value", (F.log(u) / F.col("value")).alias("samp_key"))
        .orderBy(F.col("samp_key").desc(), "event_id")
        .limit(25)
        .collect()
    )
    assert {r["event_id"] for r in got.collect()} == {r["event_id"] for r in ref}


def test_streaming_weighted_sample_empty_source(spark, tmp_path):
    from projet_etl_a_rien_spark.streaming.windows import run_weighted_sample_sink

    src = str(tmp_path / "esrc")
    spark.createDataFrame([], "event_id long, value double").write.parquet(src)
    stream = spark.readStream.schema("event_id long, value double").parquet(src)
    got = run_weighted_sample_sink(stream, str(tmp_path / "esink"), k=10)
    assert got.count() == 0


# ------------------------------------------------------------ CDC merge ----


def test_apply_changes_upsert_delete_semantics(spark):
    from projet_etl_a_rien_spark.operators.compaction import apply_changes

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 1),  # update
            (3, "c", "D", 1),   # delete
            (4, "d", "U", 1),   # insert-via-upsert (new key)
            (2, "b3", "U", 2),  # later update wins
            (4, "d", "D", 2),   # inserted then deleted
        ],
        "k long, v string, op string, seq long",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_changes(base, changes, ["k"], "seq").collect()
    }
    assert got == {1: "a", 2: "b3"}


def test_apply_changes_replay_idempotent(spark):
    """Re-applying the same changelog to the merged result changes
    nothing — replayed batches must not flip state."""
    from projet_etl_a_rien_spark.operators.compaction import apply_changes

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, "a2", "U", 1), (2, "b", "D", 1)], "k long, v string, op string, seq long"
    )
    once = apply_changes(base, changes, ["k"], "seq")
    twice = apply_changes(once, changes, ["k"], "seq")
    assert sorted(once.collect()) == sorted(twice.collect()) == [(1, "a2")]


def test_full_outer_join_reuses_groupby_exchange(spark, sf_dir):
    from projet_etl_a_rien_spark.queries import REGISTRY

    plan = (
        REGISTRY["customer_yearly_rev_full_outer"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FullOuter" in plan
    # the join must reuse the groupBys' hash partitioning on o_custkey:
    # exactly the two aggregation exchanges, none added for the join
    assert plan.count("Exchange hashpartitioning") == 2


# -------------------------------------------------------- proximity join ----


def test_grid_proximity_join_equals_brute_force(spark):
    from projet_etl_a_rien_spark.operators.joins import grid_proximity_join

    # deterministic pseudo-random points, including cell-boundary sitters
    rows = [
        (i, float((i * 37) % 100) / 7.0, float((i * 91) % 100) / 7.0)
        for i in range(120)
    ] + [(200, 2.0, 2.0), (201, 1.999999, 2.000001), (202, 4.0, 2.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = {
        (r["id_a"], r["id_b"])
        for r in grid_proximity_join(df, radius=2.0).collect()
    }
    a, b = df.alias("a"), df.alias("b")
    brute = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.sqrt(
                (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
                + (F.col("a.y") - F.col("b.y")) * (F.col("a.y") - F.col("b.y"))
            ).alias("dist"),
        )
        .where(F.col("dist") <= 2.0)
        .collect()
    }
    assert got == brute and len(got) > 0


def test_grid_proximity_join_no_cartesian(spark):
    from projet_etl_a_rien_spark.operators.joins import grid_proximity_join

    df = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(50)], "id long, x double, y double"
    )
    plan = (
        grid_proximity_join(df, radius=1.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_streaming_cdc_merge_order_independent(spark, tmp_path):
    """A delete micro-batch arriving BEFORE an earlier-seq update must
    still win: tombstone retention makes the fold order-independent."""
    from projet_etl_a_rien_spark.streaming.windows import run_cdc_merge_sink

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    src = str(tmp_path / "chg")
    # file 1 = the LATER change (delete k=2, seq 2); file 2 = seq-1 update
    spark.createDataFrame(
        [(2, "b", "D", 2)], "k long, v string, op string, seq long"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, "b1", "U", 1), (1, "a1", "U", 1)],
        "k long, v string, op string, seq long",
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k long, v string, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_cdc_merge_sink(stream, base, str(tmp_path / "cdcsink"), ["k"], "seq")
    assert sorted((r["k"], r["v"]) for r in got.collect()) == [(1, "a1")]
