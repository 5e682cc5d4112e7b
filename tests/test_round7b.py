"""Round-7 (second half) tests: web/URL step-0 operators, typed PII
redaction, hourly gap-fill resample, ORC roundtrip.

Semantics are unit-pinned here on tiny literal frames; cross-engine
hash-exactness is separately enforced by the DuckDB oracles
(tools/driver_mimic.py over the registrations).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from projet_etl_a_rien_spark.operators import text as T
from projet_etl_a_rien_spark.operators import web as W


# ------------------------------------------------------- URL canonicalize


def _urls(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string")


def test_canonical_url_rules(spark):
    """Every canonicalizer rule on one handcrafted URL: scheme+host
    case-fold, www./default-port strip, trailing-slash strip, fragment
    drop, tracking-param drop, query order-normalization."""
    df = _urls(
        spark,
        [
            (
                1,
                "HTTPS://WWW.Host1.src3.com:443/es/doc/7/"
                "?page=3&utm_source=feed&id=7&fbclid=zz4#sec1",
            )
        ],
    )
    got = W.url_features(df).collect()[0]
    assert got.url_canon == "https://host1.src3.com/es/doc/7?id=7&page=3"
    assert got.host == "host1.src3.com"
    assert got.registered_domain == "src3.com"
    assert got.path_depth == 3
    assert got.n_query_params == 2
    assert got.had_tracking is True


def test_canonical_url_already_clean_is_fixpoint(spark):
    u = "https://host0.src2.com/en/doc/4?id=4&page=0"
    df = _urls(spark, [(2, u)])
    got = W.url_features(df).collect()[0]
    assert got.url_canon == u
    assert got.had_tracking is False
    # canonicalization is idempotent
    again = W.url_features(df.select("doc_id", F.col("url"))).select(
        F.col("url_canon").alias("url"), F.lit(3).cast("long").alias("doc_id")
    )
    assert W.url_features(again).collect()[0].url_canon == u


def test_root_path_and_port_80(spark):
    df = _urls(spark, [(5, "http://example.com:80?b=2&a=1#x")])
    got = W.url_features(df).collect()[0]
    assert got.url_canon == "http://example.com/?a=1&b=2"
    assert got.path_depth == 0


def test_url_dedup_groups_bounded(spark, sf_dir):
    """Synthesis contract: every canonical URL collects exactly the
    URL_GROUP_DIV consecutive doc_ids (bounded groups at any SF), and
    the keeper is the smallest id in its group."""
    from projet_etl_a_rien_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", W.synth_url().alias("url")
    )
    keep = W.url_dedup_keepers(d)
    stats = keep.agg(
        F.max("n_docs").alias("mx"),
        F.sum("n_docs").alias("tot"),
        F.count("*").alias("groups"),
    ).collect()[0]
    assert stats.mx <= W.URL_GROUP_DIV
    assert stats.tot == d.count()
    bad = keep.where(F.col("keeper_id") % W.URL_GROUP_DIV != 0).count()
    # group of rid r spans doc_ids [3r, 3r+2] → keeper ≡ 0 (mod 3) unless
    # the group is truncated at the corpus head (never: ids start at 0)
    assert bad == 0


def test_blocklist_precedence(spark):
    df = _urls(
        spark,
        [
            (1, "https://a.src1.com/en/doc/1?id=1"),  # domain-blocked
            (2, "https://a.src9.com/es/doc/2?id=2"),  # path-blocked
            (3, "https://a.src1.com/es/doc/3?id=3"),  # domain wins
            (4, "https://a.src9.com/en/doc/4?id=4"),  # allowed
        ],
    )
    got = {
        r.doc_id: r.verdict for r in W.domain_blocklist_verdicts(df).collect()
    }
    assert got == {1: "domain", 2: "path", 3: "domain", 4: "allowed"}


def test_web_projections_have_no_exchange(spark):
    """Canonicalize + blocklist are pure per-row projections: the plan
    must contain no Exchange at all (step-0 ops run inside the scan
    stage at 100 TB — a shuffle here would be a design bug)."""
    df = _urls(spark, [(1, "https://a.b.com/x?id=1")])
    for op in (W.url_features, W.domain_blocklist_verdicts):
        plan = op(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


# ------------------------------------------------------- PII redaction


def test_pii_redact_order_and_counts(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                "mail bob99@x.org call +1-555-0042 from 10.0.0.7 badge 1234",
            )
        ],
        "doc_id long, text string",
    )
    got = T.pii_redact(df).collect()[0]
    assert got.n_emails == 1
    assert got.n_phones == 1
    assert got.n_ips == 1
    # the email's digits (99) and the phone/ip digits are consumed by
    # their typed masks BEFORE the digit-run pass: only "1234" remains
    assert got.n_nums == 1
    assert (
        got.text_redacted
        == "mail <EMAIL> call <PHONE> from <IP> badge <NUM>"
    )


def test_pii_redact_no_exchange(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = T.pii_redact(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ------------------------------------------------------- gap-fill resample


def test_gap_fill_semantics(spark, monkeypatch, tmp_path):
    """3 events across 5 hours for one user: gap hours carry the last
    known level, hours before the first observation don't exist (grid
    starts at the first event), n_events=0 marks gaps."""
    import datetime as dt

    from projet_etl_a_rien_spark import queries_relational as R

    rows = [
        (1, dt.datetime(2024, 1, 1, 5, 10), 0, "c", 1.25, "{}"),
        (2, dt.datetime(2024, 1, 1, 5, 40), 0, "c", 2.50, "{}"),
        (3, dt.datetime(2024, 1, 1, 9, 5), 0, "c", 4.00, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "events.parquet")
    ev.write.mode("overwrite").parquet(p)

    import projet_etl_a_rien_spark.catalog as cat

    real = cat.load_table

    def fake(s, d, name):
        if name == "events":
            return spark.read.parquet(p)
        return real(s, d, name)

    monkeypatch.setattr(cat, "load_table", fake)
    out = {
        (r.hour_ts.hour): (r.n_events, r.level_micro, r.is_gap)
        for r in R.q_events_gap_fill_hourly(spark, "unused").collect()
    }
    assert out == {
        5: (2, 2_500_000, False),  # last event in hour wins
        6: (0, 2_500_000, True),  # forward-filled
        7: (0, 2_500_000, True),
        8: (0, 2_500_000, True),
        9: (1, 4_000_000, False),
    }


# ------------------------------------------- epoch oversample + CSV audit


def test_epoch_oversample_hits_targets_exactly(spark, sf_dir):
    """Largest-remainder allocation: the materialized epoch's per-source
    row counts equal the integer sample targets EXACTLY (no sampling
    variance), and the grand total equals the budget."""
    from projet_etl_a_rien_spark import queries_curation as R

    out = R.q_corpus_epoch_oversample(spark, sf_dir)
    per = {
        r.source: r.n for r in out.groupBy("source").count()
        .withColumnRenamed("count", "n").collect()
    }
    # recompute targets independently — rounding HALF-AWAY-FROM-ZERO
    # like both engines (Python round() is banker's and would flake on
    # an exact .5 share at some scale factor)
    import math

    def rnd(x: float) -> int:
        return math.floor(x + 0.5)

    d = R._docs(spark, sf_dir)
    counts = {r.source: r.n for r in d.groupBy("source").count()
              .withColumnRenamed("count", "n").collect()}
    n = sum(counts.values())
    nano = {
        s: rnd((c / n) ** (1 / R.EPOCH_TEMP) * 1_000_000_000)
        for s, c in counts.items()
    }
    z = sum(nano.values())
    targets = {
        s: rnd(R.EPOCH_BUDGET_MULT * n * v / z) for s, v in nano.items()
    }
    assert per == {s: t for s, t in targets.items() if t > 0}
    assert math.isclose(
        sum(per.values()), R.EPOCH_BUDGET_MULT * n, abs_tol=len(counts)
    )


def test_epoch_oversample_copy_idx_dense(spark, sf_dir):
    """copy_idx enumerates 1..n_copies per doc (dense, no gaps): max
    copy_idx per doc equals that doc's row count."""
    from projet_etl_a_rien_spark import queries_curation as R
    from pyspark.sql import functions as F2

    out = R.q_corpus_epoch_oversample(spark, sf_dir)
    bad = (
        out.groupBy("doc_id")
        .agg(
            F2.max("copy_idx").alias("mx"), F2.count("*").alias("c"),
            F2.min("copy_idx").alias("mn"),
        )
        .where((F2.col("mx") != F2.col("c")) | (F2.col("mn") != 1))
        .count()
    )
    assert bad == 0


def test_csv_permissive_audit_counts(spark, sf_dir):
    """The parser-derived corrupt/null counts equal the injection-rule
    counts (PERMISSIVE semantics: short/badnum/extra all corrupt;
    only short/badnum null the cents field)."""
    from projet_etl_a_rien_spark import queries_relational as R
    from projet_etl_a_rien_spark.catalog import load_table

    got = R.q_csv_permissive_audit(spark, sf_dir)
    tot = got.agg(
        F.sum("n_rows").alias("n"),
        F.sum("n_corrupt").alias("c"),
        F.sum("n_cents_null").alias("z"),
    ).collect()[0]
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    short = ev.where(F.col("event_id") % R.CSV_SHORT_MOD == 0).count()
    badnum = ev.where(
        (F.col("event_id") % R.CSV_SHORT_MOD != 0)
        & (F.col("event_id") % R.CSV_BADNUM_MOD == 0)
    ).count()
    extra = ev.where(
        (F.col("event_id") % R.CSV_SHORT_MOD != 0)
        & (F.col("event_id") % R.CSV_BADNUM_MOD != 0)
        & (F.col("event_id") % R.CSV_EXTRA_MOD == 0)
    ).count()
    assert tot.n == n
    assert tot.c == short + badnum + extra
    assert tot.z == short + badnum


def test_interpolate_semantics(spark, monkeypatch, tmp_path):
    """Linear ramp across a 3-hour gap lands on the exact integer grid;
    trailing gaps hold the last level; observed hours keep their own
    (last-in-hour) value."""
    import datetime as dt

    from projet_etl_a_rien_spark import queries_relational as R

    rows = [
        (1, dt.datetime(2024, 1, 1, 5, 10), 0, "c", 1.00, "{}"),
        (2, dt.datetime(2024, 1, 1, 8, 40), 0, "c", 4.00, "{}"),
        (3, dt.datetime(2024, 1, 1, 9, 5), 0, "c", 2.00, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    p = str(tmp_path / "events.parquet")
    ev.write.mode("overwrite").parquet(p)

    import projet_etl_a_rien_spark.catalog as cat

    real = cat.load_table

    def fake(s, d, name):
        if name == "events":
            return spark.read.parquet(p)
        return real(s, d, name)

    monkeypatch.setattr(cat, "load_table", fake)
    out = {
        r.hour_ts.hour: (r.level_micro, r.interpolated)
        for r in R.q_events_interpolate_hourly(spark, "unused").collect()
    }
    assert out == {
        5: (1_000_000, False),
        6: (2_000_000, True),  # 1M + (4M-1M) * 1/3
        7: (3_000_000, True),
        8: (4_000_000, False),
        9: (2_000_000, False),
    }


def test_table_file_stream_reads_both_layouts(spark, tmp_path, sf_dir):
    """_table_file_stream must stream identical rows from the flat
    single-file fixture layout and from a Spark-written directory table
    (the layout every real table has — and the one the r7 scale bench
    initially streamed ZERO rows from)."""
    from projet_etl_a_rien_spark.streaming.windows import (
        _table_file_stream,
        run_bounded,
    )

    flat = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    droot = str(tmp_path / "tbl")
    flat.write.mode("overwrite").parquet(f"{droot}/documents.parquet")

    def total(path):
        src = _table_file_stream(
            spark, path, "documents.parquet", "doc_id long, text string"
        )
        got = run_bounded(
            src.groupBy().agg(
                F.count("*").alias("n"), F.sum("doc_id").alias("s")
            ),
            mode="complete",
        )
        return got.collect()[0]

    a, b = total(sf_dir), total(droot)
    assert (a.n, a.s) == (b.n, b.s)
    assert a.n > 0


def test_bpe_learn_oracle_early_stop(spark):
    """The unrolled learn oracle's per-iteration gate reproduces the
    global early stop (monotonicity: a below-threshold argmax leaves
    the table unchanged, so later iterations re-find it and emit
    nothing). Tiny corpus stops after 2 merges; DuckDB output equals
    the pure-Python reference exactly."""
    import collections

    import duckdb

    from projet_etl_a_rien_spark.operators.bpe import END
    from projet_etl_a_rien_spark.queries_tokenizer import _bpe_learn_oracle

    texts = ["ab ab xq", "ab zz"]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents(text VARCHAR)")
    for t in texts:
        con.sql("INSERT INTO documents VALUES (?)", params=[t])
    got = [tuple(r) for r in con.sql(_bpe_learn_oracle(10, 2)).fetchall()]

    words = collections.Counter(
        w for t in texts for w in t.split(" ") if w
    )
    vocab = {w: list(w) + [END] for w in words}
    ref = []
    for rank in range(1, 11):
        pc = collections.Counter()
        for w, s in vocab.items():
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += words[w]
        if not pc:
            break
        (left, right), n = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0])
        )[0]
        if n < 2:
            break
        ref.append((rank, left, right, n))
        for w in vocab:
            s = vocab[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    assert got == ref
    assert len(got) == 2  # stopped early, not 10


def test_bloom_contamination_soundness(spark, sf_dir):
    """Bloom filters have NO false negatives: every exact hit must also
    be a bloom hit, and false positives are exactly bloom - exact."""
    from projet_etl_a_rien_spark import queries_dedup as R

    df = R.q_bloom_contamination_gate(spark, sf_dir)
    bad = df.where(
        (F.col("n_bloom_hits") < F.col("n_exact_hits"))
        | (
            F.col("n_false_pos")
            != F.col("n_bloom_hits") - F.col("n_exact_hits")
        )
    ).count()
    assert bad == 0
    tot = df.agg(
        F.sum("n_exact_hits").alias("e"), F.sum("n_false_pos").alias("fp")
    ).collect()[0]
    assert tot.e > 0  # planted dups guarantee real contamination


def test_session_pattern_semantics(spark):
    """Hand-built session: v c p v p → pattern v[^p]*c[^p]*p matches
    once (the second v..p lacks a c); ordering must follow (ts,
    event_id) even when collect order differs."""
    import datetime as dt

    from projet_etl_a_rien_spark.operators.sessions import (
        session_event_sequences,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (i + 1, t0 + dt.timedelta(minutes=i), 7, t, 1.0, "{}")
        for i, t in enumerate(
            ["view", "click", "purchase", "view", "purchase"]
        )
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    got = session_event_sequences(ev, gap_seconds=1800).collect()
    assert len(got) == 1
    assert got[0].seq == "vcpvp"
    assert got[0].n_conversions == 1


def test_session_pattern_tie_determinism(spark):
    """Equal timestamps order by event_id — the struct-carried sort key
    makes the sequence independent of input partitioning."""
    import datetime as dt

    from projet_etl_a_rien_spark.operators.sessions import (
        session_event_sequences,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0)
    rows = [
        (3, t0, 7, "purchase", 1.0, "{}"),
        (1, t0, 7, "view", 1.0, "{}"),
        (2, t0, 7, "click", 1.0, "{}"),
    ]
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string"
    )
    for parts in (1, 3):
        ev = spark.createDataFrame(rows, schema).repartition(parts)
        got = session_event_sequences(ev, gap_seconds=1800).collect()
        assert got[0].seq == "vcp"
        assert got[0].n_conversions == 1


def test_arrow_zero_copy_stats_vs_jvm(spark):
    """mapInArrow byte stats equal the JVM-computed truth (aggregate
    over the encoded bytes) row for row, and the plan carries a
    MapInArrow node — the zero-copy API, not row-pickled Python."""
    from projet_etl_a_rien_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, "ab c", "en", "s", 4), (2, "  ", "en", "s", 2),
         (3, "zzz", "en", "s", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    payloads = mm.with_binary_payload(df).where(F.length("payload") > 0)
    got = {
        r.doc_id: (r.n_bytes, r.byte_sum, r.n_space)
        for r in mm.arrow_zero_copy_byte_stats(payloads).collect()
    }
    assert got == {
        1: (4, 97 + 98 + 32 + 99, 1),
        2: (2, 64, 2),
        3: (3, 3 * 122, 0),
    }
    plan = (
        mm.arrow_zero_copy_byte_stats(payloads)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan
