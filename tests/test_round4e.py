"""Round-4 batch 5: Spark 4 stateful v2 (transformWithStateInPandas)
and the stream-stream left-outer interval join."""

from __future__ import annotations

import importlib.util

import pytest
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.queries import REGISTRY
from projet_etl_a_rien_spark.queries_streaming import (
    _have_protobuf,
    q_streaming_click_attribution_outer,
    q_streaming_tws_user_type_totals,
)
from projet_etl_a_rien_spark.streaming.windows import (
    replay_events_stream,
    tws_user_type_totals,
)

HAVE_PROTOBUF = _have_protobuf()


def test_tws_plan_shape(spark, sf_dir):
    """Constructing the transformWithStateInPandas operator must plan the
    v2 stateful node (TransformWithStateInPySpark) — plan construction
    needs no protobuf, only execution does, so this pins the API wiring
    in every environment."""
    df = tws_user_type_totals(replay_events_stream(spark, sf_dir))
    plan = df._jdf.queryExecution().logical().toString()
    assert "TransformWithStateInPySpark" in plan or "transformWithState" in plan
    assert [f.name for f in df.schema.fields] == [
        "user_id",
        "n_types",
        "n_events",
        "total_cents",
        "max_type_cents",
    ]


def test_tws_registration_tracks_protobuf():
    """The query registers iff the protobuf runtime dependency exists —
    present: fully oracled registry entry; absent: no guaranteed-red row."""
    assert ("streaming_tws_user_type_totals" in REGISTRY) == _have_protobuf()


@pytest.mark.skipif(not HAVE_PROTOBUF, reason="protobuf runtime not installed")
def test_tws_equals_batch_groupby(spark, sf_dir):
    got = q_streaming_tws_user_type_totals(spark, sf_dir)
    from projet_etl_a_rien_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n"), F.sum(cents).alias("cents")
    )
    want = per_type.groupBy("user_id").agg(
        F.count("*").alias("n_types"),
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("total_cents"),
        F.max("cents").alias("max_type_cents"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_left_outer_attribution_emits_unmatched(spark, sf_dir):
    """The outer join's reason to exist: clicks without a purchase within
    the window must surface as n_unmatched_clicks > 0 rows (the inner
    join silently drops them), and per-user clicks must decompose into
    matched + unmatched."""
    res = q_streaming_click_attribution_outer(spark, sf_dir)
    rows = res.collect()
    assert rows, "decided region unexpectedly empty"
    assert any(r.n_unmatched_clicks > 0 for r in rows)
    for r in rows:
        matched_clicks = r.n_clicks - r.n_unmatched_clicks
        assert 0 <= matched_clicks <= r.n_pairs


def test_kcore_peels_below_naive_degree_filter(spark, sf_dir):
    """Coreness is stricter than degree: after peeling, the survivor set
    must be a subset of (and on this fixture strictly smaller than) the
    naive initial-degree>=k filter, every survivor keeps core_degree>=k,
    and deepening k shrinks the core monotonically."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.alias("a")
        .join(
            li.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .localCheckpoint(eager=True)
    )
    und = edges.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct()
    deg0 = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    core65 = graph.kcore(edges, k=65)
    survivors = {r.node for r in core65.collect()}
    naive = {r.node for r in deg0.where(F.col("deg") >= 65).collect()}
    assert survivors <= naive
    assert len(survivors) < len(naive), "expected the cascade to peel someone"
    assert core65.where(F.col("core_degree") < 65).count() == 0
    core68 = {r.node for r in graph.kcore(edges, k=68).collect()}
    assert core68 <= survivors


def test_kcore_raises_when_peeling_exceeds_cap(spark):
    """A path graph needs depth-ceil(n/2) peeling at k=2; max_iter=1 must
    fail loudly, not return a half-peeled graph."""
    from projet_etl_a_rien_spark.operators import graph

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="k-core"):
        graph.kcore(path, k=2, max_iter=1)
    # and the same graph converges (to empty) with room to peel
    assert graph.kcore(path, k=2, max_iter=5).count() == 0


def test_agg_sink_snapshot_watermark_excludes_stale_partials(spark, sf_dir):
    """Crash contract: after compaction commits snap/v=N, partial dirs
    with batch_id <= N may linger (cleanup is best-effort). Readers must
    exclude them — re-materializing a stale partial must not change the
    MV — and newer partials must still fold in."""
    import shutil
    import tempfile

    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators.compaction import (
        compact_agg_sink,
        read_agg_sink,
        write_agg_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="mvtest_")
    try:
        write_agg_partial(ev.where(F.col("event_id") % 3 == 0), path, 0)
        write_agg_partial(ev.where(F.col("event_id") % 3 == 1), path, 1)
        v = compact_agg_sink(spark, path)
        assert v == 1
        base = {r.event_type: (r.n, r.cents) for r in read_agg_sink(spark, path).collect()}
        # simulate the crash window: a folded partial re-appears
        write_agg_partial(ev.where(F.col("event_id") % 3 == 0), path, 0)
        again = {r.event_type: (r.n, r.cents) for r in read_agg_sink(spark, path).collect()}
        assert again == base, "stale partial below the watermark leaked into the fold"
        # a NEWER partial still folds — and replaying it (checkpoint
        # recovery re-runs a micro-batch) overwrites its own dir rather
        # than double counting
        write_agg_partial(ev.where(F.col("event_id") % 3 == 2), path, 2)
        write_agg_partial(ev.where(F.col("event_id") % 3 == 2), path, 2)
        full = {r.event_type: (r.n, r.cents) for r in read_agg_sink(spark, path).collect()}
        want = {
            r.event_type: (r.n, r.cents)
            for r in ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
            .collect()
        }
        assert full == want
        # idempotent re-compaction: nothing new after folding everything
        v2 = compact_agg_sink(spark, path)
        assert v2 == 2
        assert compact_agg_sink(spark, path) == 2
        assert {
            r.event_type: (r.n, r.cents) for r in read_agg_sink(spark, path).collect()
        } == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_agg_sink_torn_commit_is_invisible_and_repaired(spark, sf_dir):
    """Crash mid job-commit of snap/v=N (data files present, no _SUCCESS
    marker) must leave the torn snapshot invisible: readers keep folding
    the last committed state, and the next compact_agg_sink re-folds over
    the torn dir (the overwrite IS the repair path) instead of wedging on
    max_b <= v. Same discipline on the partial side: a marker-less
    parts/batch_id=N dir never enters a fold."""
    import os
    import shutil
    import tempfile

    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators.compaction import (
        _snapshot_version,
        compact_agg_sink,
        read_agg_sink,
        write_agg_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="mvtorn_")
    try:
        write_agg_partial(ev.where(F.col("event_id") % 2 == 0), path, 0)
        assert compact_agg_sink(spark, path) == 0

        # torn snapshot: crash mid job-commit of snap/v=1 means data
        # files may exist but no _SUCCESS, and the vacuum NEVER ran — so
        # snap/v=0 and parts/batch_id=1 are still on disk. Build exactly
        # that state: committed partial 1, plus a marker-less v=1 dir
        # (stale contents — tornness, not contents, is what's under test).
        write_agg_partial(ev.where(F.col("event_id") % 2 == 1), path, 1)
        shutil.copytree(f"{path}/snap/v=0", f"{path}/snap/v=1")
        os.remove(f"{path}/snap/v=1/_SUCCESS")
        assert _snapshot_version(spark, path) == 0, "torn snapshot preferred"

        # a torn PARTIAL must be invisible too
        write_agg_partial(ev.where(F.col("event_id") % 2 == 0), path, 2)
        os.remove(f"{path}/parts/batch_id=2/_SUCCESS")

        want = {
            r.event_type: (r.n, r.cents)
            for r in ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
            .collect()
        }
        got = {
            r.event_type: (r.n, r.cents)
            for r in read_agg_sink(spark, path).collect()
        }
        assert got == want, "torn dirs leaked into (or starved) the fold"

        # repair: re-compaction folds committed state over the torn v=1
        assert compact_agg_sink(spark, path) == 1
        assert _snapshot_version(spark, path) == 1
        assert {
            r.event_type: (r.n, r.cents)
            for r in read_agg_sink(spark, path).collect()
        } == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_length_bucket_batches_properties(spark, sf_dir):
    """Batches respect size cap, stay within their length bucket, and
    the exact-integer waste accounting re-derives from the doc table."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    batches = T.length_bucket_batches(docs, bucket_width=64, batch_size=32)
    rows = batches.collect()
    assert rows
    n_docs_total = sum(r.n_docs for r in rows)
    assert n_docs_total == docs.where(F.size(F.split("text", " ")) > 0).count()
    for r in rows:
        assert 1 <= r.n_docs <= 32
        # batch max lives inside the batch's bucket
        assert r.bucket * 64 <= r.batch_max_tokens < (r.bucket + 1) * 64
        assert 0 <= r.pad_waste <= r.n_docs * 63  # within-bucket spread < width


def test_curriculum_interleave_round_robin(spark, sf_dir):
    """Positions are unique, each round-robin round holds at most one doc
    per source, and within a source quality never increases with round."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import text as T

    out = T.curriculum_interleave(load_table(spark, sf_dir, "documents"))
    rows = out.collect()
    assert len(rows) == len({r.global_pos for r in rows})
    n_src = out.select("source").distinct().count()
    by_round = {}
    for r in rows:
        by_round.setdefault(r.round, []).append(r)
        assert (r.round - 1) * n_src <= r.global_pos < r.round * n_src
    for rnd, members in by_round.items():
        assert len({m.source for m in members}) == len(members)
    import collections

    per_source = collections.defaultdict(list)
    for r in rows:
        per_source[r.source].append((r.round, r.quality))
    for seq in per_source.values():
        seq.sort()
        qs = [q for _, q in seq]
        assert all(a >= b for a, b in zip(qs, qs[1:]))


def test_agg_sink_compaction_vacuums_old_snapshots(spark, sf_dir):
    """Superseded snapshot versions are dead weight once a newer one is
    committed — compaction must remove them (and the fold must still
    equal the batch aggregate afterwards)."""
    import os
    import shutil
    import tempfile

    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators.compaction import (
        compact_agg_sink,
        read_agg_sink,
        write_agg_partial,
    )

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="mvvac_")
    try:
        write_agg_partial(ev.where(F.col("event_id") % 2 == 0), path, 0)
        assert compact_agg_sink(spark, path) == 0
        write_agg_partial(ev.where(F.col("event_id") % 2 == 1), path, 1)
        assert compact_agg_sink(spark, path) == 1
        versions = sorted(os.listdir(f"{path}/snap"))
        assert versions == ["v=1"]
        want = {
            r.event_type: (r.n, r.cents)
            for r in ev.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            )
            .collect()
        }
        got = {
            r.event_type: (r.n, r.cents)
            for r in read_agg_sink(spark, path).collect()
        }
        assert got == want
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_ktruss_keeps_triangles_drops_tail(spark):
    """Two triangles sharing an edge + a dangling tail: the 3-truss keeps
    every triangle edge with its support, drops the tail."""
    from projet_etl_a_rien_spark.operators import graph

    ed = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)], "src long, dst long"
    )
    rows = {(r.u, r.v): r.support for r in graph.ktruss(ed, k=3).collect()}
    assert set(rows) == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}
    assert rows[(2, 3)] == 2  # shared edge sits in both triangles
    assert rows[(1, 2)] == 1


def test_ktruss_cascade_peels_over_multiple_rounds(spark):
    """Triangle strip at k=4: end edges have support 1, their removal
    starves the next edges inward — the strip unravels in exactly 2 peel
    rounds (a single-pass support filter would wrongly keep the middle).
    max_iter counts PEELS: a budget of exactly 2 converges (the +1
    confirm probe is free), a budget of 1 raises."""
    from projet_etl_a_rien_spark.operators import graph

    n = 9
    strip = [(i, i + 1) for i in range(1, n)] + [(i, i + 2) for i in range(1, n - 1)]
    ed = spark.createDataFrame(strip, "src long, dst long")
    assert graph.ktruss(ed, k=4, max_iter=10).count() == 0
    assert graph.ktruss(ed, k=4, max_iter=2).count() == 0  # depth == budget
    with pytest.raises(RuntimeError, match="k-truss"):
        graph.ktruss(ed, k=4, max_iter=1)  # cascade needs 2 peels


def test_udtf_chunker_matches_relational_and_plans_arrow(spark, sf_dir):
    """The UDTF twin must return exactly the relational chunker's rows
    and plan as Arrow-batched UDTF execution (never row-pickled
    BatchEvalPython)."""
    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    rel = T.chunk_documents(docs, chunk_size=32, stride=24, min_tokens=8)
    via_udtf = T.chunk_documents_udtf(docs, chunk_size=32, stride=24, min_tokens=8)
    plan = via_udtf._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPython " not in plan
    assert via_udtf.exceptAll(rel).count() == 0
    assert rel.exceptAll(via_udtf).count() == 0


def test_ivf_ingest_replay_is_idempotent(spark, sf_dir):
    """Retrying an already-committed batch (crash-recovery replay) must
    append nothing: the sink anti-join makes later-batch appends
    idempotent, same contract as the exact/near-dup sinks."""
    import os
    import shutil
    import tempfile

    from projet_etl_a_rien_spark.catalog import load_table
    from projet_etl_a_rien_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ivfidem_")
    sink = os.path.join(root, "sink")
    try:
        similarity.ivf_incremental_ingest(
            emb.where(F.col("vec_id") % 2 == 0), sink, k=4, iters=1
        )
        first = similarity.ivf_incremental_ingest(
            emb.where(F.col("vec_id") % 2 == 1), sink, k=4, iters=1
        )
        n = first.count()
        # full replay of batch 2: nothing new may land
        again = similarity.ivf_incremental_ingest(
            emb.where(F.col("vec_id") % 2 == 1), sink, k=4, iters=1
        )
        assert again.count() == n
        assert again.groupBy("vec_id").count().where("count > 1").count() == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)
