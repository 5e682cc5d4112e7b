"""Streaming registry: Structured Streaming queries and sink-as-state maintenance.

Each query executes a REAL streaming job — file-replayed events through
``readStream`` → windowed stateful aggregation → memory sink with
``Trigger.AvailableNow`` — or maintains a sink incrementally across
batches, and returns the final result table. COMPLETE output mode over
a bounded replay makes the streaming result equal the batch equivalent,
which is what the DuckDB oracles assert (SURVEY.md §7 hard part 2:
streaming-state testability without a broker). Where a streaming entry
has a batch twin, it is registered with the twin's oracle, imported from
the twin's domain module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .operators import bpe, retrieval, selection
from .operators.text import CLASSIFIER_BUCKETS as _CLS_BUCKETS
from .operators.text import classifier_weights as _classifier_weights
from .queries import register
from .queries_curation import BM25_QUERY_TERMS, DSIR_BUCKETS, DSIR_TARGET_SOURCE, PHRASE
from .queries_dedup import (
    BLOOM_M_BITS,
    BLOOM_N,
    CONTAM_N,
    CONTAM_ORACLE,
    _bloom_oracle,
)
from .queries_relational import API_PAGE_SIZE, API_PAGES
from .queries_sketches import (
    CMS_DEPTH,
    CMS_TOPK,
    CMS_TOPK_ORACLE,
    CMS_WIDTH,
    QSK_M,
    QSK_QPPMS,
    SAMPLE_K,
    _hll_oracle,
    _kmv_distinct_oracle,
    _kmv_sample_oracle,
    _kmv_sliding_oracle,
    _kmv_stats_with_truth,
    _qsketch_oracle,
    sliding_kmv_dashboard,
)
from .queries_tokenizer import _bbpe_learn_oracle
from .streaming.windows import (
    dedup_within_watermark,
    docs_stream,
    replay_events_stream,
    run_bounded,
    run_foreach_batch_parquet,
    session_windows,
    sliding_counts,
    stateful_user_totals,
    stream_stream_interval_join,
    stream_stream_left_outer_join,
    streaming_global_count,
    tumbling_counts,
    tws_user_type_totals,
)


@register(
    "streaming_api_ingest",
    f"""
WITH k AS (SELECT unnest(range(1, {API_PAGES * API_PAGE_SIZE + 1})) AS k),
rec AS (
    SELECT CAST((k - 1) // {API_PAGE_SIZE} AS INTEGER) AS page,
           CASE WHEN k % 13 = 0 THEN ''
                WHEN k % 29 = 0 THEN 'not-a-number'
                ELSE CAST((k * 7) % 180 - 90 AS VARCHAR) END AS lat,
           CASE WHEN k % 17 = 0 THEN NULL
                ELSE CAST((k * 11) % 360 - 180 AS VARCHAR) END AS lon
    FROM k
),
clean AS (
    SELECT page,
           TRY_CAST(NULLIF(lat, '') AS BIGINT) AS lat,
           TRY_CAST(lon AS BIGINT) AS lon
    FROM rec
)
SELECT page,
       CAST(COUNT(*) AS BIGINT) AS n_clean,
       CAST(SUM(lat) AS BIGINT) AS sum_lat,
       CAST(SUM(lon) AS BIGINT) AS sum_lon
FROM clean
WHERE lat IS NOT NULL AND lon IS NOT NULL
GROUP BY page
""",
    doc="Streaming ingest through the custom Python DataSource's "
    "SimpleDataSourceStreamReader: each availableNow run drains ONE poll "
    "(page) and commits its {{page}} offset to the checkpoint, so "
    "successive runs walk the feed exactly once (the reference's NiFi "
    "timer-poll, engine-native). The query replays pages+1 runs against "
    "one checkpoint — the +1 proves the exhausted feed appends nothing — "
    "then cleans and aggregates per page; the oracle regenerates the "
    "deterministic pages relationally.",
)
def q_streaming_api_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources import pyds

    pyds.register(spark)
    sink = tempfile.mkdtemp(prefix="api_sink_")
    ckpt = tempfile.mkdtemp(prefix="api_ckpt_")
    try:
        for _ in range(API_PAGES + 1):
            q = (
                spark.readStream.format("airports_api")
                .option("pages", API_PAGES)
                .option("page_size", API_PAGE_SIZE)
                .load()
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        landed = spark.read.parquet(sink)
        lat = F.nullif(F.col("lat"), F.lit("")).try_cast("bigint")
        lon = F.col("lon").try_cast("bigint")
        clean = landed.select("page", lat.alias("lat"), lon.alias("lon")).where(
            F.col("lat").isNotNull() & F.col("lon").isNotNull()
        )
        return (
            clean.groupBy("page")
            .agg(
                F.count("*").alias("n_clean"),
                F.sum("lat").alias("sum_lat"),
                F.sum("lon").alias("sum_lon"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@register(
    "streaming_jdbc_totals_sink",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
FROM events GROUP BY event_type
""",
    doc="The reference's production sink shape end-to-end with REAL "
    "bytes: streaming complete-mode totals -> foreachBatch JDBC "
    "full-replace (ref spark_airports_final.py:75-86) into embedded "
    "Derby, read back through a JDBC scan; idempotent because overwrite "
    "replaces the whole table per batch. Oracle = the batch aggregate.",
)
def q_streaming_jdbc_totals_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources.jdbc import jdbc_source
    from .streaming.windows import replay_events_stream, run_foreach_batch_jdbc

    # per-run db dir: concurrent sessions must not share a Derby database
    tmp = tempfile.mkdtemp(prefix="derbystream_")
    spark._jvm.System.setProperty("derby.stream.error.file", f"{tmp}/derby.log")
    url = f"jdbc:derby:{tmp}/db;create=true"
    try:
        agg = (
            replay_events_stream(spark, sf_dir)
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                (
                    F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0
                ).alias("sum_value"),
            )
        )
        run_foreach_batch_jdbc(agg, url, "totals", driver=DERBY_DRIVER)
        return jdbc_source(
            spark, url, "totals", user="app", password="app", driver=DERBY_DRIVER
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_jdbc_cdc_merge",
    """
WITH base AS (
    SELECT o_orderkey, o_orderstatus, 'I' AS op, 0 AS seq FROM orders
),
upd AS (
    SELECT DISTINCT o.o_orderkey, 'R' AS o_orderstatus, 'U' AS op, 1 AS seq
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND l.l_returnflag = 'R'
),
del AS (
    SELECT o_orderkey, o_orderstatus, 'D' AS op, 2 AS seq
    FROM orders WHERE o_orderkey % 1000 = 0
),
merged AS (
    SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
),
latest AS (
    SELECT * FROM merged
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) = 1
)
SELECT o_orderkey, o_orderstatus FROM latest WHERE op != 'D'
""",
    doc="Exactly-once streaming CDC into a RELATIONAL table "
    "(streaming/windows.py:run_cdc_merge_jdbc): the orders changelog "
    "replayed one change-file per micro-batch, each batch landed in a "
    "Derby staging table and folded by one driver-side MERGE INTO with "
    "the latest-by-(seq,op) newer-wins condition — tombstones retained, "
    "replay-idempotent, order-independent, so the table equals the "
    "one-shot batch MERGE and the oracle is the batch query's SQL.",
)
def q_streaming_jdbc_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from .streaming.windows import run_cdc_merge_jdbc

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem")
    upd = o.join(
        li.where(F.col("l_returnflag") == "R").select("l_orderkey"),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left_semi",
    ).select(
        "o_orderkey",
        F.lit("R").alias("o_orderstatus"),
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("seq"),
    )
    dels = o.where(F.col("o_orderkey") % 1000 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("D").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    root = tempfile.mkdtemp(prefix="cdcjdbc_")
    src = os.path.join(root, "changes")
    spark._jvm.System.setProperty("derby.stream.error.file", f"{root}/derby.log")
    url = f"jdbc:derby:{root}/db;create=true"
    try:
        # one file per change batch -> one micro-batch each (seq order
        # not required: the merge condition is order-independent)
        upd.coalesce(1).write.mode("append").parquet(src)
        dels.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string, op string, seq long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return run_cdc_merge_jdbc(
            stream,
            o,
            url,
            "orders_tbl",
            key_col="o_orderkey",
            column_types="o_orderstatus VARCHAR(8), op VARCHAR(1)",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "streaming_dynamic_session_windows",
    """
WITH g AS (
    SELECT user_id, ts,
           CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
                ELSE INTERVAL 20 MINUTE END AS gap
    FROM events
),
marked AS (
    SELECT user_id, ts, ts + gap AS e,
           MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS prev_end
    FROM g
),
numbered AS (
    SELECT user_id, ts, e,
           SUM(CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(e) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, sid
""",
    doc="DYNAMIC-gap session windows (Spark session_window with a gap "
    "COLUMN): purchases keep a session alive 60 min, everything else "
    "20 — the per-event-type timeout real engagement analytics uses. "
    "Oracle is the gaps-and-islands formulation generalized to a "
    "running max of per-event window ends (merge iff the next event "
    "starts before the furthest end seen). Equal-ts events always "
    "merge (gap > 0), so tie order cannot flip a split.",
)
def q_streaming_dynamic_session_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .streaming.windows import replay_events_stream, run_bounded

    ev = replay_events_stream(spark, sf_dir)
    # session_window's dynamic gap must be CalendarIntervalType —
    # an INTERVAL literal under ANSI is DayTimeIntervalType and is
    # rejected, so build the gap with make_interval()
    gap = F.expr(
        "CASE WHEN event_type = 'purchase' "
        "THEN make_interval(0, 0, 0, 0, 0, 60, 0) "
        "ELSE make_interval(0, 0, 0, 0, 0, 20, 0) END"
    )
    agg = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_bounded(agg)


@register(
    "streaming_inverted_index_ingest",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(p := i, t := ts[i]))) AS u
    FROM toks
),
o2 AS (SELECT id, u.p AS pos, u.t AS token FROM occ),
post AS (
    SELECT token, id, COUNT(*) AS tf,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(MAX(pos) AS BIGINT) AS last_pos
    FROM o2 GROUP BY 1, 2
),
st AS (
    SELECT token, COUNT(*) AS df_docs, CAST(SUM(tf) AS BIGINT) AS cf
    FROM post GROUP BY 1
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
SELECT post.token, post.id AS doc_id, tf, first_pos, last_pos, df_docs, cf,
       CAST(ROUND(ln((n_docs + 1.0) / (df_docs + 1.0)) * 1000000000) AS BIGINT)
           / 1e9 AS idf
FROM post JOIN st ON post.token = st.token, n
""",
    doc="Incremental inverted-index maintenance, sink-is-the-state: a "
    "streaming pass over even doc_ids lands postings partials "
    "(idempotent parts/batch_id=N), compaction folds them by plain "
    "union (postings of distinct docs are disjoint rows), then a batch "
    "partial for odd docs lands ABOVE the fold watermark; the folded "
    "sink + read-time df/cf/idf stats equal the one-shot batch index, "
    "which the oracle asserts. The sink stores what is incremental and "
    "recomputes what any batch would invalidate (corpus-global stats).",
)
def q_streaming_inverted_index_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        next_batch_id,
        read_postings_sink_with_stats,
        write_postings_partial,
    )
    from .streaming.windows import (
        apply_runtime_confs,
        docs_stream,
        run_incremental_postings_sink,
    )

    apply_runtime_confs(spark)
    path = tempfile.mkdtemp(prefix="invsink_")
    try:
        even = docs_stream(spark, sf_dir).where(F.col("doc_id") % 2 == 0)
        run_incremental_postings_sink(even, path)
        odd = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 1)
        write_postings_partial(odd, path, batch_id=next_batch_id(spark, path))
        # serve through the stored-stats path: snapshot stats written at
        # compaction + additive merge with the odd-docs partial landed
        # above the fold watermark (the oracle pins it equal to the
        # one-shot batch index, so the merge itself is hash-checked)
        return read_postings_sink_with_stats(spark, path).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_dsir_gate",
    f"""
WITH tok AS (
    SELECT doc_id AS id, source = '{DSIR_TARGET_SOURCE}' AS is_target,
           unnest(string_split(text, ' ')) AS token
    FROM documents
),
occ AS (
    SELECT id, is_target,
           CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % {DSIR_BUCKETS} AS b
    FROM tok
),
hist AS (
    SELECT b, COUNT(*) AS cnt_raw,
           CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS cnt_tgt
    FROM occ GROUP BY b
),
tot AS (
    SELECT CAST(SUM(cnt_raw) AS BIGINT) AS tot_raw,
           CAST(SUM(cnt_tgt) AS BIGINT) AS tot_tgt
    FROM hist
),
llr AS (
    SELECT b,
           CAST(ROUND((ln((cnt_tgt + 1.0) / (tot_tgt + {DSIR_BUCKETS}.0))
                       - ln((cnt_raw + 1.0) / (tot_raw + {DSIR_BUCKETS}.0)))
                      * 1000000000) AS BIGINT) AS llr_nano
    FROM hist, tot
),
scored AS (
    SELECT id AS doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(llr_nano) AS BIGINT) AS lw_nano
    FROM occ JOIN llr USING (b)
    GROUP BY id
),
thr AS (
    SELECT CAST(SUM(lw_nano) AS BIGINT) AS total_nano,
           COUNT(*) AS n_docs FROM scored
)
SELECT doc_id, n_tokens, lw_nano / 1e9 AS logweight
FROM scored, thr
WHERE lw_nano * n_docs >= total_nano
""",
    doc="DSIR as an INGEST gate: the LLR model is fitted on the batch "
    "corpus (frozen), a document stream is scored by stream-static "
    "broadcast join + one stateful per-doc aggregation (per-occurrence "
    "llr sum is integer-identical to the batch per-bucket fold), and "
    "docs at or above the corpus-mean log-weight pass — the comparison "
    "runs in integer nano space (lw·n >= Σlw, no division) so the "
    "threshold is exact on both engines. The deployment shape DSIR is "
    "built for: fit once, gate the firehose.",
)
def q_streaming_dsir_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.windows import (
        apply_runtime_confs,
        docs_stream,
        run_bounded,
    )

    apply_runtime_confs(spark)
    llr = selection.dsir_llr_table(
        load_table(spark, sf_dir, "documents"),
        F.col("source") == DSIR_TARGET_SOURCE,
        n_buckets=DSIR_BUCKETS,
    ).localCheckpoint(eager=True)  # freeze the model before the stream runs
    doc_stream = docs_stream(spark, sf_dir)
    scored = selection.dsir_score_stream(
        doc_stream, llr, n_buckets=DSIR_BUCKETS
    )
    # lw_nano is carried through the sink as the exact BIGINT nano sum
    # (never reconstructed from the double — that loses bits past ~2^52)
    batch = run_bounded(scored, mode="complete")
    thr = batch.agg(
        F.sum("lw_nano").alias("total_nano"), F.count("*").alias("n_docs")
    )
    return (
        batch.crossJoin(F.broadcast(thr))
        .where(F.col("lw_nano") * F.col("n_docs") >= F.col("total_nano"))
        .select("doc_id", "n_tokens", "logweight")
    )


@register(
    "streaming_index_phrase_search",
    f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
occ AS (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, len(ts) + 1),
                                 i -> struct_pack(p := i, t := ts[i]))) AS u
    FROM toks
),
o2 AS (SELECT id, u.p AS pos, u.t AS token FROM occ),
p0 AS (SELECT id, pos FROM o2 WHERE token = '{PHRASE[0]}'),
p1 AS (SELECT id, pos FROM o2 WHERE token = '{PHRASE[1]}')
SELECT p0.id AS doc_id, COUNT(*) AS n_matches,
       CAST(MIN(p0.pos) AS BIGINT) AS first_pos
FROM p0 JOIN p1 ON p0.id = p1.id AND p1.pos = p0.pos + 1
GROUP BY p0.id
""",
    doc="The full index loop, end to end: documents STREAM into the "
    "incremental postings sink (micro-batch partials + snapshot "
    "compaction), then the phrase query runs FROM the folded index's "
    "position lists — never touching document text. Result equals the "
    "direct corpus phrase scan, which the oracle asserts.",
)
def q_streaming_index_phrase_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from .streaming.windows import (
        apply_runtime_confs,
        docs_stream,
        run_incremental_postings_sink,
    )

    apply_runtime_confs(spark)
    path = tempfile.mkdtemp(prefix="invq_")
    try:
        doc_stream = docs_stream(spark, sf_dir)
        folded = run_incremental_postings_sink(doc_stream, path)
        return retrieval.phrase_search_postings(
            folded, PHRASE
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_index_bm25_topk",
    """
WITH occ AS (
    SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT id, token, COUNT(*) AS tf FROM occ
    WHERE token IN ('vector', 'stream', 'window')
    GROUP BY id, token
),
dl AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dfreq AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY token),
idf AS (
    SELECT token, ln(1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5)) AS idf
    FROM dfreq CROSS JOIN stats
),
per AS (
    SELECT tf.id,
           CAST(ROUND(idf.idf * (tf.tf * (1.2 + 1))
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))
             * 1000000000) AS BIGINT) AS w_nano
    FROM tf JOIN idf USING (token) JOIN dl ON tf.id = dl.id CROSS JOIN stats
),
scored AS (
    SELECT id AS doc_id, COUNT(*) AS n_terms_matched,
           CAST(SUM(w_nano) AS BIGINT) AS bm25_nano
    FROM per GROUP BY id
)
SELECT doc_id, n_terms_matched, bm25_nano / 1e9 AS bm25
FROM scored
ORDER BY bm25_nano DESC, doc_id
LIMIT 10
""",
    doc="Ranking off the streamed index: documents stream into the "
    "incremental postings sink, and BM25 top-10 is computed FROM the "
    "folded index (tf from matching postings, doc length as the "
    "per-doc tf sum, df/constants from the same table — no text "
    "access). Equals the direct text scorer, which the oracle asserts; "
    "index maintenance therefore gives incrementally-correct ranking.",
)
def q_streaming_index_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .streaming.windows import (
        apply_runtime_confs,
        docs_stream,
        run_incremental_postings_sink,
    )

    apply_runtime_confs(spark)
    path = tempfile.mkdtemp(prefix="invbm_")
    try:
        from .operators.compaction import bm25_from_sink

        doc_stream = docs_stream(spark, sf_dir)
        run_incremental_postings_sink(doc_stream, path)
        # serve THROUGH the materialized sink tables: tf from a
        # token-pushdown postings scan, dl/avgdl/n_docs from the
        # compaction-time dlen table — no corpus-scale pass per query
        scored = bm25_from_sink(spark, path, BM25_QUERY_TERMS)
        return (
            scored.withColumn(
                "bm25_nano", F.round(F.col("bm25") * 1e9).cast("long")
            )
            .orderBy(F.desc("bm25_nano"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", "n_terms_matched", "bm25")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_pyds_jsonl_sink",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events
GROUP BY event_type
""",
    doc="STREAMING half of the write-side Python DataSource "
    "(DataSourceStreamWriter): the events stream writes through the "
    "jsonl_manifest sink — per-task uuid part files, per-BATCH atomic "
    "manifest commit keyed by batch id (replays rewrite their own "
    "manifest, torn batches invisible) — then the committed manifests "
    "are read back and re-aggregated; integer-exact equality with the "
    "batch aggregate proves exactly-once delivery through the custom "
    "streaming writer. Completes the Python DataSource API matrix: "
    "batch/stream x read/write.",
)
def q_streaming_pyds_jsonl_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .sources import pyds_sink
    from .streaming.windows import apply_runtime_confs, events_stream

    apply_runtime_confs(spark)
    pyds_sink.register(spark)
    root = tempfile.mkdtemp(prefix="jsonlstream_")
    path = f"{root}/sink"
    ckpt = f"{root}/ckpt"
    try:
        # repartition inside the stream: the one-file source otherwise
        # feeds the Python sink a single write task per batch — widening
        # here exercises parallel part-file commits under one manifest
        ev = events_stream(spark, sf_dir).select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).repartition(8, "event_id")
        q = (
            ev.writeStream.format("jsonl_manifest")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        back = pyds_sink.read_jsonl_sink(
            spark, path, "event_id bigint, event_type string, cents bigint"
        )
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("cents").alias("cents"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------------------------------------
# Incremental model fit as a materialized view
# (operators/sessions.py:trend_sums / read_trend_fit)
# --------------------------------------------------------------------------


@register(
    "streaming_trend_fit_mv",
    """
WITH base AS (
    SELECT user_id,
           (CAST(epoch_us(ts) AS BIGINT) - 1704067200000000)
               // 3600000000 AS x,
           CAST(ROUND(value * 100) AS BIGINT) AS y
    FROM events
),
s AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM base GROUP BY user_id
),
fit AS (
    SELECT user_id, n,
           CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
           CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
           CAST(sy AS DOUBLE) AS syd, CAST(n AS DOUBLE) AS nd
    FROM s
)
SELECT user_id, n AS n_events,
       CASE WHEN den > 0
            THEN CAST(ROUND((num / den) * 1000000) AS BIGINT) END
           AS slope_ucents_per_hour,
       CAST(ROUND((syd / nd) * 1000000) AS BIGINT) AS mean_cents_micro
FROM fit
""",
    doc="Model fitting as an incrementally-maintained materialized view: "
    "micro-batches land per-user normal-equation sums (n, Σx, Σy, Σxy, "
    "Σx² — x in whole hours since a FIXED epoch so every component is "
    "additive across batches) under idempotent parts/batch_id=N dirs; "
    "the read side folds partials by summation and fits closed-form OLS "
    "per user. The streamed fit over even event ids plus one late batch "
    "partial of odd ids equals the one-shot fit over all events, which "
    "the oracle asserts — per-batch maintenance is O(users touched), "
    "the raw history is never re-scanned, and the fit is always "
    "serveable mid-stream.",
)
def q_streaming_trend_fit_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import next_batch_id
    from .operators.sessions import read_trend_fit, write_trend_partial
    from .streaming.windows import apply_runtime_confs, replay_events_stream

    apply_runtime_confs(spark)
    path = tempfile.mkdtemp(prefix="trendmv_")
    try:
        even = replay_events_stream(spark, sf_dir).where(
            F.col("event_id") % 2 == 0
        )
        ckpt = tempfile.mkdtemp(prefix="trendmv_ckpt_")
        try:
            q = (
                even.writeStream.foreachBatch(
                    lambda b, i: write_trend_partial(b, path, i)
                )
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)
        odd = load_table(spark, sf_dir, "events").where(
            F.col("event_id") % 2 == 1
        )
        write_trend_partial(odd, path, next_batch_id(spark, path))
        return read_trend_fit(spark, path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# Incremental tokenizer training: the pre-token count table maintained
# as a sink-is-the-state additive MV; merges learned FROM the sink.
# ---------------------------------------------------------------------------


@register(
    "streaming_bbpe_learn_mv",
    _bbpe_learn_oracle(num_merges=10, min_count=2),
    doc="Byte-level BPE learned from an INCREMENTALLY maintained "
    "pre-token count sink: three disjoint document batches land as "
    "(pt, cnt) partials (map-side combine to the sink), a compaction "
    "folds the first two into a snapshot, the third stays as an "
    "uncompacted partial — and training reads the folded counts. "
    "Pre-tokenization is per-document, so the partials are additive "
    "and sink-trained merges are EXACTLY the one-shot corpus merges — "
    "which is why this entry's oracle is the SAME unrolled-CTE SQL as "
    "bpe_learn_merges_bytes: the corpus-scale pass happens once per "
    "batch at ingest; retraining sees only the vocab-sized count "
    "table. Crash contract inherited from the agg-MV sink "
    "(_SUCCESS-gated dirs, idempotent partial replays, snapshot-then-"
    "vacuum).",
)
def q_streaming_bbpe_learn_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="bbpesink_")
    try:
        bpe.write_pretoken_counts_partial(
            d.where(F.col("doc_id") % 3 == 0), path, 0
        )
        bpe.write_pretoken_counts_partial(
            d.where(F.col("doc_id") % 3 == 1), path, 1
        )
        bpe.compact_pretoken_counts(spark, path)
        bpe.write_pretoken_counts_partial(
            d.where(F.col("doc_id") % 3 == 2), path, 2
        )
        rows = bpe.learn_bbpe_merges_from_sink(spark, path, num_merges=10)
        return spark.createDataFrame(
            rows, "rank int, left string, right string, pair_count long"
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_length_quantiles_mv",
    _qsketch_oracle(QSK_M, QSK_QPPMS, "n_chars"),
    doc="The same quantile sketch maintained as a SINK-IS-THE-STATE "
    "additive MV: three document batches land as (bucket, cnt) "
    "partials (map-side combine to the sink), a compaction folds the "
    "first two into a snapshot, the third stays as an uncompacted "
    "partial — and quantiles are served from the folded sink. Crash "
    "contract inherited from the agg-MV sink (_SUCCESS-gated dirs, "
    "idempotent partial replays, snapshot-then-vacuum). The oracle is "
    "the one-shot grid — sink-served == one-shot is exactly the "
    "additivity equivalence.",
)
def q_streaming_length_quantiles_mv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .operators import quantiles as Q

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="qsketchsink_")
    try:
        for k in range(2):
            Q.write_sketch_partial(
                docs.where(F.col("doc_id") % 3 == k), path, k, "n_chars",
                QSK_M,
            )
        Q.compact_sketch(spark, path)
        Q.write_sketch_partial(
            docs.where(F.col("doc_id") % 3 == 2), path, 2, "n_chars", QSK_M
        )
        sk = Q.read_sketch(spark, path).localCheckpoint(eager=True)
        return Q.quantile_sketch_query(sk, QSK_QPPMS, QSK_M)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_user_hll_mv",
    _hll_oracle(),
    doc="The same HLL registers maintained as SINK-IS-THE-STATE: three "
    "event batches land as register-grid partials, a compaction "
    "MAX-folds the first two into a snapshot, the third stays "
    "uncompacted, and batch 1 is REPLAYED after compaction (register "
    "MAX is idempotent, so the replay is exactly harmless — stronger "
    "than the additive sinks' overwrite discipline, exercised here on "
    "purpose). Estimates served from the folded sink == one-shot "
    "build, which is why the oracle is the same one-pass SQL.",
)
def q_streaming_user_hll_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .operators import sketches as S

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="hllsink_")
    try:
        for k in range(2):
            S.write_hll_partial(
                ev.where(F.col("event_id") % 3 == k),
                path,
                k,
                "event_type",
                "user_id",
            )
        S.compact_hll(spark, path)
        S.write_hll_partial(
            ev.where(F.col("event_id") % 3 == 2),
            path,
            2,
            "event_type",
            "user_id",
        )
        # replay batch 2's partial after the fold — idempotence means
        # the re-landed dir changes nothing
        S.write_hll_partial(
            ev.where(F.col("event_id") % 3 == 2),
            path,
            2,
            "event_type",
            "user_id",
        )
        grid = S.read_hll(spark, path).localCheckpoint(eager=True)
        est = S.hll_estimate(grid)
        tru = ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("true_distinct")
        )
        return est.join(tru, est.key == tru.event_type).select(
            "event_type",
            "true_distinct",
            "n_zero_registers",
            "s24",
            "hll_raw_est",
            "est",
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_token_cms_mv",
    CMS_TOPK_ORACLE,
    doc="The count-min grid maintained as SINK-IS-THE-STATE: three "
    "document batches land as (j, b, cnt) partial grids (map-side "
    "combine to the sink), a compaction folds the first two into a "
    "snapshot, the third stays as an uncompacted partial — and the "
    "exact-top-20 probe estimates are served from the folded sink. "
    "Grid cells are additive, so sink-served == one-shot build — the "
    "oracle is corpus_token_cms_topk's SQL verbatim. Completes the "
    "sketch family's state story: CMS folds by SUM, HLL by MAX, the "
    "quantile histogram by SUM, all under the same _SUCCESS-gated "
    "crash contract.",
)
def q_streaming_token_cms_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .operators import sketches as S

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="cmssink_")
    try:
        for k in range(2):
            S.write_cms_partial(
                docs.where(F.col("doc_id") % 3 == k),
                path,
                k,
                depth=CMS_DEPTH,
                width=CMS_WIDTH,
            )
        S.compact_cms(spark, path)
        S.write_cms_partial(
            docs.where(F.col("doc_id") % 3 == 2),
            path,
            2,
            depth=CMS_DEPTH,
            width=CMS_WIDTH,
        )
        cms = S.read_cms(spark, path).localCheckpoint(eager=True)
        tokc = (
            docs.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
            .where(F.col("t") != "")
            .groupBy("t")
            .agg(F.count("*").alias("c"))
        )
        top = tokc.orderBy(F.desc("c"), F.asc("t")).limit(CMS_TOPK)
        est = S.cms_estimate(
            cms,
            top.select(F.col("t").alias("token")),
            depth=CMS_DEPTH,
            width=CMS_WIDTH,
        )
        return (
            top.join(est, top.t == est.token)
            .select("token", F.col("c").alias("true_cnt"), "cms_est")
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_user_kmv_mv",
    _kmv_distinct_oracle(),
    doc="The same KMV bottom-k sketch maintained as SINK-IS-THE-STATE: "
    "three event batches land as flat (key, h) partials (<= k rows per "
    "key each), a compaction min-k-folds the first two into a "
    "snapshot, the third stays uncompacted, and batch 2 is REPLAYED "
    "after landing (min-k over sets is idempotent — the replay is "
    "exactly harmless by algebra, same guarantee class as the HLL "
    "sink). Estimates and the hs_sum content checksum served from the "
    "folded sink == one-shot build, which is why the oracle is the "
    "same one-pass SQL.",
)
def q_streaming_user_kmv_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .operators import sketches as S

    ev = load_table(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="kmvsink_")
    try:
        for k in range(2):
            S.write_kmv_partial(
                ev.where(F.col("event_id") % 3 == k),
                path,
                k,
                "event_type",
                "user_id",
            )
        S.compact_kmv(spark, path)
        S.write_kmv_partial(
            ev.where(F.col("event_id") % 3 == 2),
            path,
            2,
            "event_type",
            "user_id",
        )
        S.write_kmv_partial(
            ev.where(F.col("event_id") % 3 == 2),
            path,
            2,
            "event_type",
            "user_id",
        )
        sk = S.read_kmv(spark, path).localCheckpoint(eager=True)
        return _kmv_stats_with_truth(spark, sf_dir, sk)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_bloom_gate_mv",
    _bloom_oracle(),
    doc="The Bloom decontamination bitmap maintained as "
    "SINK-IS-THE-STATE: the benchmark set lands in three batches as "
    "(w, bits) partial bitmaps, a compaction OR-folds the first two "
    "into a snapshot, the third stays uncompacted AND is REPLAYED "
    "after landing (bit_or is idempotent — the replay is exactly "
    "harmless by algebra, same guarantee class as the HLL/KMV sinks), "
    "and the per-doc contamination audit is served with the folded "
    "bitmap. Sink-served == one-shot build, which is why the oracle "
    "is bloom_contamination_gate's SQL verbatim. Completes the "
    "sketch-sink fold family: SUM (CMS, quantile histogram), MAX "
    "(HLL), MIN-K (KMV), OR (Bloom).",
)
def q_streaming_bloom_gate_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from .catalog import widen_input as _widen
    from .fixtures import documents_with_dups
    from .operators import dedup as _dedup

    corpus = _widen(documents_with_dups(spark, sf_dir))
    train = corpus.where(F.col("doc_id") < 1_000_000)
    bench = corpus.where(F.col("doc_id") >= 1_000_000)
    path = tempfile.mkdtemp(prefix="bloomsink_")
    try:
        for k in range(2):
            _dedup.write_bloom_partial(
                bench.where(F.col("doc_id") % 3 == k),
                path,
                k,
                n=BLOOM_N,
                m_bits=BLOOM_M_BITS,
            )
        _dedup.compact_bloom(spark, path)
        _dedup.write_bloom_partial(
            bench.where(F.col("doc_id") % 3 == 2),
            path,
            2,
            n=BLOOM_N,
            m_bits=BLOOM_M_BITS,
        )
        _dedup.write_bloom_partial(
            bench.where(F.col("doc_id") % 3 == 2),
            path,
            2,
            n=BLOOM_N,
            m_bits=BLOOM_M_BITS,
        )
        bloom = _dedup.read_bloom(spark, path).localCheckpoint(eager=True)
        return _dedup.bloom_contamination(
            train,
            bench,
            n=BLOOM_N,
            m_bits=BLOOM_M_BITS,
            bloom=bloom,
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# KMV under a REAL streaming query — streaming_user_kmv_mv lands partials
# with batch writes to prove the fold algebra; this one drives the
# actual writeStream.foreachBatch machinery (availableNow replay,
# checkpointed micro-batches) into the same sink layout, compacts, and
# serves — the full "distinct users per key, maintained by a stream,
# intersectable later" deployment shape.
# ---------------------------------------------------------------------------


@register(
    "streaming_kmv_foreachbatch",
    _kmv_distinct_oracle(),
    doc="KMV bottom-k sketches maintained by a REAL Structured "
    "Streaming query: the events replay runs through writeStream."
    "foreachBatch (availableNow, checkpointed), each micro-batch "
    "reduced to its <= k-rows-per-key partial INSIDE the batch "
    "callback (the corpus-scale work happens at ingest, the sink "
    "stores sketch-sized state), then a compaction min-k-folds the "
    "landed partials and the estimates are served from the folded "
    "sketch. Min-k idempotence is what makes foreachBatch's "
    "at-least-once replay contract EXACT here — a replayed batch "
    "re-lands the same hashes. Oracle is the one-pass KMV SQL: "
    "stream-built == one-shot is the end-to-end guarantee.",
)
def q_streaming_kmv_foreachbatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from .operators import sketches as S
    from .streaming.windows import replay_events_stream

    path = tempfile.mkdtemp(prefix="kmvfeb_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_kmvfeb_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        S.write_kmv_partial(
            batch_df, path, batch_id, "event_type", "user_id"
        )

    try:
        q = (
            replay_events_stream(spark, sf_dir)
            .writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        S.compact_kmv(spark, path)
        sk = S.read_kmv(spark, path).localCheckpoint(eager=True)
        return _kmv_stats_with_truth(spark, sf_dir, sk)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# streaming_sliding_kmv_windows — the r11 sliding dashboard served from
# SINK STATE: a real foreachBatch stream lands per-HOUR bottom-k
# partials (corpus-scale work at ingest; the sink holds O(hours × k)
# state), compaction folds them, and the window/intersection dashboard
# reads the folded sketches through the SAME gate-aware kmv_merge fold
# as the batch twin. Min-k idempotence + associativity make
# stream-built == one-shot build, which is why the oracle is literally
# the batch twin's SQL.
# ---------------------------------------------------------------------------


@register(
    "streaming_sliding_kmv_windows",
    _kmv_sliding_oracle(),
    doc="The events_sliding_kmv_windows dashboard served from "
    "STREAMING SINK STATE (r11 verdict task #7): a checkpointed "
    "availableNow foreachBatch stream reduces each micro-batch to its "
    "per-hour bottom-64 partial inside the batch callback "
    "(write_kmv_partial keyed by the hour; min-k idempotence makes "
    "foreachBatch's at-least-once replay contract exact — pinned on "
    "the MV twin), compact_kmv folds "
    "the landed partials, and the 3-hour sliding windows + window-"
    "over-window intersections are computed from the folded sink "
    "sketches by the same associative gate-aware kmv_merge fold as "
    "the batch twin (queries_round11.sliding_kmv_dashboard — shared "
    "code, shared oracle: stream-built == one-shot is the end-to-end "
    "guarantee). At 100 TB the corpus-scale pass happens once at "
    "ingest; every later window/intersection/churn question reads "
    "O(hours x k) sink state.",
)
def q_streaming_sliding_kmv_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from .operators import sketches as S
    from .streaming.windows import replay_events_stream

    path = tempfile.mkdtemp(prefix="kmvslide_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_kmvslide_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # key = the hour as its canonical string (sink keys are
        # strings); parsed back to timestamp_ntz on the serve side
        hourly = batch_df.select(
            F.date_trunc("hour", F.col("ts"))
            .cast("string")
            .alias("hr_s"),
            "user_id",
        )
        S.write_kmv_partial(hourly, path, batch_id, "hr_s", "user_id")

    try:
        q = (
            replay_events_stream(spark, sf_dir)
            .writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        S.compact_kmv(spark, path)
        sk_h = (
            S.read_kmv(spark, path)
            .select(
                F.to_timestamp_ntz("key").alias("key"), "hs", "gate"
            )
            .localCheckpoint(eager=True)
        )
        ev = load_table(spark, sf_dir, "events")
        return sliding_kmv_dashboard(ev, sk_h)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# streaming_user_value_sample_kmv — the consistent distinct-value
# sampler served from STREAMING SINK STATE. Batch twin:
# events_user_distinct_sample_kmv (queries_sketches). The sink keeps the
# (h, v) pairs instead of bare hashes, so after ingest the pipeline can
# serve "a stable uniform sample of each segment's distinct users"
# without ever rescanning the corpus — the eval-set primitive at
# 100 TB: the corpus-scale pass happens once in foreachBatch; every
# later sample read is O(keys × k) sink state. Min-k idempotence makes
# foreachBatch's at-least-once replay contract exact (same argument as
# the counting sink, property-pinned in tests/test_round12.py), and
# the min-k fold's associativity makes stream-built == one-shot — which
# is why the oracle is literally the batch twin's SQL.
# ---------------------------------------------------------------------------


@register(
    "streaming_user_value_sample_kmv",
    _kmv_sample_oracle(),
    doc=f"The events_user_distinct_sample_kmv bottom-{SAMPLE_K} "
    "consistent user sample served from STREAMING SINK STATE (r12 "
    "verdict ask #1): a checkpointed availableNow foreachBatch stream "
    "reduces each micro-batch to its per-event-type bottom-k (hash, "
    "user) VALUE partials (operators/sketches.py "
    "write_kmv_sample_partial — flat (key, h, v, gate) rows, <= k per "
    "key per batch), compact_kmv_sample folds them under the pre-fold "
    "max_b bound (the r12 mid-compaction crash contract, shared with "
    "every sketch sink), and the serve side reads the folded sample "
    "through the same min-gate + refilter theta-union fold as the "
    "batch twin. Emitted exploded as (event_type, rn, h, user_id) "
    "with rn the hash-order position — identical to the batch twin, "
    "because min-k idempotence + associativity make stream-built == "
    "one-shot (the oracle IS the batch twin's SQL). At 100 TB the "
    "corpus pass happens once at ingest; every later eval-set or "
    "inspection-sample read is O(segments x k) sink state.",
)
def q_streaming_user_value_sample_kmv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from .operators import sketches as S
    from .streaming.windows import replay_events_stream

    path = tempfile.mkdtemp(prefix="kmvsample_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_kmvsample_")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # keep_ppm default None matches the oracle's ungated build
        # (micro-batches are not file-backed; a >1e7-row production
        # batch threads keep_ppm="auto", n_rows=... — sketches.py docs)
        S.write_kmv_sample_partial(
            batch_df.select("event_type", "user_id"),
            path,
            batch_id,
            "event_type",
            "user_id",
            k=SAMPLE_K,
        )

    try:
        q = (
            replay_events_stream(spark, sf_dir)
            .writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        S.compact_kmv_sample(spark, path, k=SAMPLE_K)
        folded = S.read_kmv_sample(spark, path, k=SAMPLE_K)
        return (
            folded.select(
                F.col("key").alias("event_type"),
                F.posexplode("sample").alias("pos", "hv"),
            )
            .select(
                "event_type",
                (F.col("pos") + 1).cast("long").alias("rn"),
                F.col("hv.h").alias("h"),
                F.col("hv.v").alias("user_id"),
            )
            # the sink dirs are deleted in finally — materialize before
            # the temp state disappears from under the lazy plan
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_event_count",
    "SELECT COUNT(*) AS n_events FROM events",
    doc="Reference streaming-job parity: stateful global COUNT(*) in complete mode (spark_kafka_direct.py:35-40).",
)
def q_streaming_event_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_bounded(streaming_global_count(replay_events_stream(spark, sf_dir)))


@register(
    "streaming_event_type_counts",
    "SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type",
    doc="Keyed streaming aggregation (generalizes the reference's global-only state).",
)
def q_streaming_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = replay_events_stream(spark, sf_dir)
    return run_bounded(ev.groupBy("event_type").agg(F.count("*").alias("n_events")))


@register(
    "streaming_hourly_windows",
    """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="Tumbling 1-hour event-time windows over the replayed stream (epoch-aligned = date_trunc).",
)
def q_streaming_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_bounded(tumbling_counts(replay_events_stream(spark, sf_dir), "1 hour"))


@register(
    "streaming_watermarked_append",
    """
WITH m AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS wm FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events, m
GROUP BY 1, 2, m.wm
HAVING window_end <= m.wm
""",
    doc="Production streaming shape: watermarked tumbling windows in APPEND "
    "mode — each window emitted exactly once when the watermark (max event "
    "time - 2h) passes its end; the unfinalized tail is withheld. This is "
    "the reference's streaming defect (no watermark/checkpoint, "
    "spark_kafka_direct.py:43-44, SURVEY.md §4.2) actually fixed; the "
    "oracle encodes the emission rule window_end <= max(ts) - delay, "
    "verified against Spark's eviction semantics.",
)
def q_streaming_watermarked_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = replay_events_stream(spark, sf_dir)
    return run_bounded(
        tumbling_counts(ev, "1 hour", watermark="2 hours"), mode="append"
    )


@register(
    "streaming_sliding_windows",
    """
SELECT window_start, COUNT(*) AS n_events
FROM (
    SELECT date_trunc('hour', ts) AS window_start FROM events
    UNION ALL
    SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start FROM events
)
GROUP BY window_start
""",
    doc="Sliding 2h/1h windows: every event lands in two windows; oracle materializes both memberships.",
)
def q_streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_bounded(
        sliding_counts(replay_events_stream(spark, sf_dir), "2 hours", "1 hour")
    )


@register(
    "streaming_static_join_segments",
    """
SELECT c.c_mktsegment, COUNT(*) AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
    doc="Stream-static join: the replayed event stream enriched against the "
    "static customer dimension (stateless, broadcast on the static side), "
    "then a keyed streaming aggregation — the canonical streaming-enrichment "
    "shape the reference's streaming job lacked entirely (SURVEY.md §2.9).",
)
def q_streaming_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = replay_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    return run_bounded(
        joined.groupBy("c_mktsegment").agg(F.count("*").alias("n_events"))
    )


@register(
    "streaming_stateful_user_totals",
    """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY user_id
""",
    doc="Custom stateful operator (applyInPandasWithState): per-user running "
    "totals in explicit GroupState, Arrow-batched, update output mode — over "
    "the bounded replay the final emission equals the batch groupBy, which "
    "the oracle asserts.",
)
def q_streaming_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.compaction import latest_by_key

    ev = replay_events_stream(spark, sf_dir)
    out = run_bounded(stateful_user_totals(ev), mode="update")
    # Update mode appends one row per touched key per micro-batch to the
    # memory sink; keep each user's FINAL running total (n_events is
    # strictly increasing per user) so the result stays equal to the
    # batch groupBy however many micro-batches the replay splits into.
    return latest_by_key(out, ["user_id"], "n_events")


def _have_protobuf() -> bool:
    """transformWithStateInPandas serializes its Python<->JVM state
    protocol as protobuf messages; without the package the stream fails
    at driver-worker init. Gate the registration (not the operator) so
    environments with protobuf get a fully oracled query and the sandbox
    gets a clean registry instead of a guaranteed-red row."""
    import importlib.util

    try:
        # find_spec("google.protobuf") imports the parent "google"
        # namespace package first and raises if it is absent entirely.
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


_TWS_ORACLE = """
WITH per_type AS (
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(MAX(cents) AS BIGINT) AS max_type_cents
FROM per_type
GROUP BY user_id
"""


def q_streaming_tws_user_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.compaction import latest_by_key

    ev = replay_events_stream(spark, sf_dir)
    out = run_bounded(tws_user_type_totals(ev), mode="update", rocksdb=True)
    # keep-last per user (see q_streaming_stateful_user_totals): Update
    # mode emits every touched key per micro-batch, not just the final
    # state; n_events is strictly increasing per user.
    return latest_by_key(out, ["user_id"], "n_events")


if _have_protobuf():
    register(
        "streaming_tws_user_type_totals",
        _TWS_ORACLE,
        doc="Spark 4 arbitrary-state v2 (transformWithStateInPandas, "
        "SPARK-49564): per-user MapState of exact-cents per-event-type "
        "totals + a ValueState row counter, RocksDB state store — point "
        "map-entry updates instead of v1's whole-blob rewrite. Final "
        "availableNow Update-mode emission equals the batch two-level "
        "groupBy, which the oracle asserts.",
    )(q_streaming_tws_user_type_totals)


@register(
    "streaming_dedup_event_counts",
    """
SELECT event_type, COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
    doc="Streaming exactly-once repair: the replay UNIONed with itself "
    "(simulating at-least-once redelivery, every event twice) is deduped "
    "by dropDuplicatesWithinWatermark on event_id — bounded state, keys "
    "evicted as the watermark passes — so per-type counts equal the "
    "single-copy batch counts, which the oracle asserts.",
)
def q_streaming_dedup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = replay_events_stream(spark, sf_dir).unionAll(
        replay_events_stream(spark, sf_dir)
    )
    deduped = run_bounded(
        dedup_within_watermark(doubled, keys=("event_id",), watermark="1 hour"),
        mode="append",
    )
    return deduped.groupBy("event_type").agg(F.count("*").alias("n_events"))


@register(
    "streaming_foreachbatch_sink_totals",
    """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events GROUP BY event_type
""",
    doc="foreachBatch idempotent file sink: each micro-batch overwrites its "
    "own batch_id=N parquet directory (checkpoint-recovery reprocessing "
    "rewrites, never duplicates — the generalized JDBC-overwrite contract, "
    "ref spark_airports_final.py:75-84); totals over the re-read sink equal "
    "the batch aggregate.",
)
def q_streaming_foreachbatch_sink_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    # per-run sink dir (NOT a fixed shared path): a fixed name collides
    # across concurrent sessions — one run's cleanup deletes another's
    # live sink mid-stream — and stale batch dirs from a previous run
    # with different data would leak into the readback. Result is
    # materialized before the dir is removed.
    root = tempfile.mkdtemp(prefix="feb_")
    sink = os.path.join(root, "sink")
    try:
        readback = run_foreach_batch_parquet(
            replay_events_stream(spark, sf_dir), sink
        )
        return (
            readback.groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias(
                    "sum_value"
                ),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "streaming_click_purchase_attribution",
    """
SELECT c.user_id, COUNT(*) AS n_pairs,
       COUNT(DISTINCT p.event_id) AS n_attributed_purchases
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
GROUP BY c.user_id
""",
    doc="Stream-stream interval join (click -> purchase within 2h, same "
    "user): both streams watermarked so join state is bounded by the time "
    "range — the production attribution shape the reference's streaming "
    "job couldn't express. Joined pairs emitted append-mode; per-user "
    "rollup equals the batch self-join, which the oracle asserts.",
)
def q_streaming_click_purchase_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = replay_events_stream(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click")
    purchases = replay_events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    pairs = run_bounded(
        stream_stream_interval_join(clicks, purchases, within="2 hours"),
        mode="append",
    )
    return pairs.groupBy(F.col("l_key").alias("user_id")).agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("r_event_id").alias("n_attributed_purchases"),
    )


@register(
    "streaming_incremental_mv_totals",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type
""",
    doc="Incremental materialized-view maintenance, sink-is-the-state "
    "(operators/compaction.py): micro-batches land per-key exact-cents "
    "PARTIAL aggregates (idempotent parts/batch_id=N dirs), snapshot "
    "compaction folds them into snap/v=maxBatch, and readers fold the "
    "newest snapshot with only NEWER partials — the version is the fold "
    "watermark, so crash-stale partials can't double count. This run "
    "crosses the snapshot boundary on purpose: a streaming pass over "
    "even event ids, compact, then an odd-id partial; the folded MV "
    "equals the one-shot batch aggregate, which the oracle asserts.",
)
def q_streaming_incremental_mv_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from .operators.compaction import (
        next_batch_id,
        read_agg_sink,
        write_agg_partial,
    )
    from .streaming.windows import run_incremental_agg_sink

    path = tempfile.mkdtemp(prefix="mvsink_")
    try:
        even = replay_events_stream(spark, sf_dir).where(
            F.col("event_id") % 2 == 0
        )
        run_incremental_agg_sink(even, path)  # partials → snapshot
        odd = load_table(spark, sf_dir, "events").where(F.col("event_id") % 2 == 1)
        # batch id ABOVE the fold watermark, whatever the stream's batch
        # count was — a hardcoded 1 would land at/below the snapshot and
        # be (correctly) excluded if the replay ever split into 2+
        # micro-batches
        write_agg_partial(odd, path, batch_id=next_batch_id(spark, path))
        return read_agg_sink(spark, path).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "streaming_click_attribution_outer",
    """
WITH mx AS (
    SELECT LEAST(MAX(CASE WHEN event_type = 'click' THEN ts END),
                 MAX(CASE WHEN event_type = 'purchase' THEN ts END))
           - INTERVAL 4 HOUR AS cut
    FROM events),
c AS (SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'click' AND ts <= (SELECT cut FROM mx)),
p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
j AS (
    SELECT c.user_id, c.event_id AS c_id, p.event_id AS p_id
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
)
SELECT user_id,
       CAST(COUNT(DISTINCT c_id) AS BIGINT) AS n_clicks,
       CAST(COUNT(p_id) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN p_id IS NULL THEN c_id END) AS BIGINT)
           AS n_unmatched_clicks
FROM j GROUP BY user_id
""",
    doc="Stream-stream LEFT OUTER interval join: clicks with no purchase "
    "within 2h still emit (with nulls) once the watermark passes "
    "l_ts + 2h — the lost-conversion side of attribution the inner join "
    "drops. Unmatched emission is watermark-driven: the stream-stream "
    "global watermark is min over BOTH sides of (max side ts - delay), so "
    "the decided region is cut at min(max click ts, max purchase ts) - "
    "within (2h) - watermark (1h) - 1h margin. Deriving the cutoff from "
    "the per-side minimum (not the overall max ts) keeps the comparison "
    "exact even when one event type's last event trails the other by "
    ">1h; inside the region the streaming result equals the batch left "
    "join, which the oracle asserts.",
)
def q_streaming_click_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import datetime

    # Decided-region cutoff from the batch footer of the same fixture:
    # min of the two sides' max ts (the global watermark anchor — either
    # side can hold the watermark back), minus within (2h) + watermark
    # (1h) + 1h safety margin.
    mx = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c"),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
        )
        .first()
    )
    cutoff = min(mx["c"], mx["p"]) - datetime.timedelta(hours=4)
    clicks = replay_events_stream(spark, sf_dir).where(
        F.col("event_type") == "click"
    )
    purchases = replay_events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    pairs = run_bounded(
        stream_stream_left_outer_join(
            clicks, purchases, within="2 hours", watermark="1 hour"
        ),
        mode="append",
    )
    return (
        pairs.where(F.col("l_ts") <= F.lit(cutoff))
        .groupBy(F.col("l_key").alias("user_id"))
        .agg(
            F.count_distinct("l_event_id").alias("n_clicks"),
            F.count("r_event_id").alias("n_pairs"),
            F.count_distinct(
                F.when(F.col("r_event_id").isNull(), F.col("l_event_id"))
            ).alias("n_unmatched_clicks"),
        )
    )


@register(
    "streaming_dedup_then_windows",
    """
WITH m AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS wm FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events, m
GROUP BY 1, 2, m.wm
HAVING window_end <= m.wm
""",
    doc="CHAINED stateful operators (Spark multi-stateful append mode): "
    "at-least-once replay (stream unioned with itself) -> "
    "dropDuplicatesWithinWatermark -> watermarked tumbling aggregation, "
    "one watermark owned by the chain head. Result equals single-copy "
    "windowed counts under the append emission rule — the "
    "exactly-once-ingest + rollup pipeline as one streaming job.",
)
def q_streaming_dedup_then_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    doubled = replay_events_stream(spark, sf_dir).unionAll(
        replay_events_stream(spark, sf_dir)
    )
    deduped = dedup_within_watermark(doubled, keys=("event_id",), watermark="2 hours")
    # watermark is owned by the dedup stage — re-declaring it downstream is
    # disallowed for chained stateful operators, so the window agg inherits
    return run_bounded(
        tumbling_counts(deduped, "1 hour", watermark=None), mode="append"
    )


@register(
    "streaming_session_windows",
    """
WITH marked AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sid
""",
    doc="Per-user session windows (30-min gap merge); oracle is the gaps-and-islands formulation — session end = last event + gap, new session iff gap >= threshold (session_window merge rule).",
)
def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_bounded(
        session_windows(replay_events_stream(spark, sf_dir), "30 minutes")
    )


@register(
    "streaming_scd2_pit_enrich",
    f"""
WITH o AS (
    SELECT user_id, event_type, ts, event_id,
           CASE WHEN lag(event_type) OVER w IS NULL
                  OR lag(event_type) OVER w <> event_type
                THEN 1 ELSE 0 END AS chg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
    SELECT user_id, event_type AS status, ts,
           CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
    FROM o
),
dim AS (
    SELECT user_id, version, status, MIN(ts) AS valid_from
    FROM runs GROUP BY user_id, version, status
),
dim2 AS (
    SELECT user_id, version, status, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to
    FROM dim
)
SELECT d.status, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events e
JOIN dim2 d
  ON e.user_id = d.user_id
 AND e.ts >= d.valid_from
 AND (d.valid_to IS NULL OR e.ts < d.valid_to)
GROUP BY d.status
""",
    doc="Streaming point-in-time enrichment: the replayed event stream "
    "joins the BATCH-built SCD2 dimension as a static side — equi-key "
    "join with validity-range filter, so each streamed event picks up "
    "dimension state as-of its event time — then a keyed streaming "
    "aggregation. The static side is re-read per micro-batch (Spark's "
    "stream-static contract), which is exactly how a slowly-refreshed "
    "dimension table behaves in production; over the bounded replay the "
    "result equals the batch PIT join, which the oracle asserts.",
)
def q_streaming_scd2_pit_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.scd import scd2_from_log

    ev = replay_events_stream(spark, sf_dir).alias("e")
    dim = (
        scd2_from_log(load_table(spark, sf_dir, "events"))
        .select("user_id", "version", "status", "valid_from", "valid_to")
        .alias("d")
    )
    joined = ev.join(
        dim,
        (F.col("e.user_id") == F.col("d.user_id"))
        & (F.col("e.ts") >= F.col("d.valid_from"))
        & (F.col("d.valid_to").isNull() | (F.col("e.ts") < F.col("d.valid_to"))),
    )
    return run_bounded(
        joined.groupBy(F.col("d.status").alias("status")).agg(
            F.count("*").alias("n_events")
        )
    )


_CLS_W_STREAM = ", ".join(str(v) for v in _classifier_weights())


@register(
    "streaming_doc_classifier_gate",
    f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tw AS (SELECT doc_id,
              ([{_CLS_W_STREAM}])[CAST(CAST('0x' || substr(md5(token), 1, 8) AS BIGINT)
                           % {_CLS_BUCKETS} AS INTEGER) + 1] AS wt
       FROM tok)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       SUM(wt) / (1000 * COUNT(*)) AS score,
       (SUM(wt) >= 0) AS label
FROM tw GROUP BY doc_id
""",
    doc="The hashed-classifier gate running INSIDE a streaming select: "
    "because the batch operator is a row-local fold (zero shuffle, no "
    "state), the identical expression scores an unbounded document "
    "stream in append mode with no watermark and no state store — the "
    "ingest-time quality gate of a streaming curation pipeline. Over "
    "the bounded replay the result equals the batch gate, which the "
    "oracle asserts.",
)
def q_streaming_doc_classifier_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.text import hashed_classifier_score
    from .streaming.windows import apply_runtime_confs

    apply_runtime_confs(spark)
    src = docs_stream(spark, sf_dir)
    return run_bounded(hashed_classifier_score(src), mode="append")


@register(
    "streaming_weighted_sample",
    """
WITH keyed AS (
    SELECT event_id, value,
           ROUND(ln((CAST('0x' || substr(md5('es|' || CAST(event_id AS VARCHAR)),
                          1, 13)
                AS BIGINT) + 1) / 4503599627370497) / value
                 * 1000000000) / 1e9 AS samp_key
    FROM events WHERE value > 0
)
SELECT event_id, value, samp_key
FROM keyed ORDER BY samp_key DESC, event_id LIMIT 100
""",
    doc="Streaming deterministic weighted reservoir: per-micro-batch A-ES "
    "top-k merged through a sink-is-the-state parquet table (k rows of "
    "state, no state store). Top-k is associative over unions and the "
    "A-ES key is a pure function of the row, so the final sink EQUALS "
    "the batch top-k over the whole stream — checked exactly by the "
    "oracle, no approximation window.",
)
def q_streaming_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh
    import tempfile

    from .streaming.windows import run_weighted_sample_sink

    # per-run sink (see q_streaming_foreachbatch_sink_totals); the
    # runner localCheckpoints its result, so cleanup in finally is safe
    root = tempfile.mkdtemp(prefix="ws_")
    try:
        return run_weighted_sample_sink(
            replay_events_stream(spark, sf_dir), os.path.join(root, "sink"), k=100
        )
    finally:
        _sh.rmtree(root, ignore_errors=True)


@register(
    "streaming_orders_cdc_merge",
    """
WITH base AS (
    SELECT o_orderkey, o_orderstatus, 'I' AS op, 0 AS seq FROM orders
),
upd AS (
    SELECT DISTINCT o.o_orderkey, 'R' AS o_orderstatus, 'U' AS op, 1 AS seq
    FROM orders o JOIN lineitem l
      ON o.o_orderkey = l.l_orderkey AND l.l_returnflag = 'R'
),
del AS (
    SELECT o_orderkey, o_orderstatus, 'D' AS op, 2 AS seq
    FROM orders WHERE o_orderkey % 1000 = 0
),
merged AS (
    SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM del
),
latest AS (
    SELECT * FROM merged
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) = 1
)
SELECT o_orderkey, o_orderstatus FROM latest WHERE op != 'D'
""",
    doc="Streaming MERGE INTO (streaming/windows.py:run_cdc_merge_sink): "
    "the orders_cdc_merge changelog replayed as a file stream (one "
    "micro-batch per change file), folded into a tombstone-retaining "
    "parquet sink. Latest-by-(seq, op) with tombstones KEPT makes the "
    "fold order-independent across micro-batches, so the final sink "
    "equals the one-shot batch MERGE — the oracle is literally the "
    "batch query's SQL.",
)
def q_streaming_orders_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh
    import tempfile

    from .streaming.windows import run_cdc_merge_sink

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    li = load_table(spark, sf_dir, "lineitem")
    upd = (
        o.join(
            li.where(F.col("l_returnflag") == "R").select("l_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .select(
            "o_orderkey",
            F.lit("R").alias("o_orderstatus"),
            F.lit("U").alias("op"),
            F.lit(1).cast("long").alias("seq"),
        )
    )
    dels = o.where(F.col("o_orderkey") % 1000 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.lit("D").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    # per-run dirs (see q_streaming_foreachbatch_sink_totals); the
    # runner localCheckpoints its result, so cleanup in finally is safe
    root = tempfile.mkdtemp(prefix="cdc_")
    src = os.path.join(root, "changes")
    try:
        # one file per change batch → one micro-batch each under
        # maxFilesPerTrigger=1 (written in seq order, but the fold does
        # not depend on it — see run_cdc_merge_sink)
        upd.coalesce(1).write.mode("append").parquet(src)
        dels.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string, op string, seq long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return run_cdc_merge_sink(
            stream, o, os.path.join(root, "sink"), ["o_orderkey"], "seq"
        )
    finally:
        _sh.rmtree(root, ignore_errors=True)


@register(
    "streaming_contamination_gate",
    CONTAM_ORACLE,
    doc="Ingest-time decontamination gate: the document stream explodes "
    "to row-local distinct n-gram digests and inner-joins the STATIC "
    "benchmark digest table — a stateless stream-static join in append "
    "mode (no watermark, no state store), so an unbounded corpus stream "
    "can be gated at ingest; the per-doc rollup over the bounded replay "
    "equals batch ngram_contamination, which the shared oracle asserts.",
)
def q_streaming_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fixtures import documents_with_dups
    from .operators.dedup import shingles
    from .streaming.windows import apply_runtime_confs

    apply_runtime_confs(spark)
    # static side: digests of the planted-dup benchmark split (small)
    bench = (
        documents_with_dups(spark, sf_dir)
        .where(F.col("doc_id") >= 1_000_000)
        .select(
            F.col("doc_id").alias("bid"),
            F.explode(shingles("text", CONTAM_N)).alias("g"),
        )
        .select("bid", F.md5("g").alias("gh"))
    )
    # stream side: the raw documents table IS the training split
    src = docs_stream(spark, sf_dir)
    hits = (
        src.select(
            F.col("doc_id").alias("id"),
            F.explode(shingles("text", CONTAM_N)).alias("g"),
        )
        .select("id", F.md5("g").alias("gh"))
        .join(bench, "gh")
    )
    return (
        run_bounded(hits, mode="append")
        .groupBy("id")
        .agg(
            F.count_distinct("gh").alias("n_hit_ngrams"),
            F.count_distinct("bid").alias("n_bench_docs"),
        )
    )
