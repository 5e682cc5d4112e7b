"""Round-10 pins: the r9 ADVICE hardening of the IDN pipeline
(overflow-guarded punycode, total codepoint rendering, UAX #15
composition across lower-ccc marks, full-BMP composition map)."""

from __future__ import annotations

import random as _random
import unicodedata as _ud

import pytest
from pyspark.sql import functions as F

from projet_etl_a_rien_spark.operators import idn as _idn
from projet_etl_a_rien_spark.operators import web as _W


# ---------------------------------------------------------------------------
# ADVICE (high): adversarial ACE labels must not abort the job — the
# decoder's ok-guard turns overflow/invalid deltas into the RFC-standard
# literal pass-through.
# ---------------------------------------------------------------------------


def test_adversarial_ace_labels_pass_through_literally(spark):
    """Labels Python's punycode codec REJECTS (overflow, incomplete
    final integer) pass through literally; labels it accepts decode
    identically. This used to throw MALFORMED_CHARACTER_CODING and
    abort the whole canonicalization job."""
    labels = [
        "xn--zzzzzzzzzzzzzzzzzzzz",  # incomplete final integer
        "xn--99999999999999999999",  # w overflow path
        "xn--" + "z" * 59,  # max-length junk
        "xn--9",  # single continuation char
        "xn--a-ecp",  # valid: a⒈
        "xn--mnchen-3ya",
        "xn--ls8h",  # astral: 💩
    ]
    df = spark.createDataFrame([(x,) for x in labels], "label string")
    got = {
        r.label: r.d
        for r in df.select(
            "label", _idn.decode_idn_label(F.col("label")).alias("d")
        ).collect()
    }
    for lab in labels:
        try:
            want = lab[4:].encode("ascii").decode("punycode")
        except UnicodeError:
            want = lab  # undecodable ACE label: literal pass-through
        assert got[lab] == want, (lab, got[lab], want)


def test_adversarial_url_does_not_abort_canonicalization(spark):
    """One hostile crawl URL in a batch must not fail the job, and the
    well-formed rows still canonicalize."""
    urls = [
        "https://xn--zzzzzzzzzzzzzzzzzzzz.example.com/a",
        "https://xn--99999999999999999999.example.com/b?x=1",
        "https://XN--MNCHEN-3YA.example.com/ok",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r.c
        for r in df.select(_W.canonical_url(F.col("url")).alias("c"))
        .orderBy("c")
        .collect()
    ]
    assert "https://münchen.example.com/ok" in got
    assert any("xn--zzzzzzzzzzzzzzzzzzzz" in c for c in got)


def _ref_compose(s: str) -> str:
    """Reference UAX #15 canonical-composition STEP (composition only —
    no decomposition pass), built from unicodedata's tables: what
    nfc_compose_cps is contracted to do on arbitrary input. On
    canonically-ordered input this equals NFC; on input carrying
    precomposed composition-exclusion characters (e.g. U+0F52, which
    full NFC would DECOMPOSE) it leaves them alone."""
    pair = {}
    for comp_cp in range(0xC0, 0x110000):
        c = chr(comp_cp)
        d = _ud.decomposition(c)
        if not d or d.startswith("<"):
            continue
        parts = d.split()
        if len(parts) != 2:
            continue
        b, m = (int(p, 16) for p in parts)
        if _ud.normalize("NFC", chr(b) + chr(m)) == c:
            pair[(b, m)] = comp_cp

    def compose2(a: int, b: int):
        if 0x1100 <= a <= 0x1112 and 0x1161 <= b <= 0x1175:
            return 0xAC00 + ((a - 0x1100) * 21 + (b - 0x1161)) * 28
        if (
            0xAC00 <= a <= 0xD7A3
            and (a - 0xAC00) % 28 == 0
            and 0x11A8 <= b <= 0x11C2
        ):
            return a + b - 0x11A7
        return pair.get((a, b))

    out, starter, marks, last_ccc = [], None, [], 0
    for ch in s:
        cp = ord(ch)
        ccc = _ud.combining(ch)
        c2 = compose2(starter, cp) if starter is not None else None
        if ccc == 0:
            if c2 is not None and not marks:
                starter = c2
            else:
                if starter is not None:
                    out.append(starter)
                out.extend(marks)
                starter, marks, last_ccc = cp, [], 0
        else:
            if c2 is not None and last_ccc < ccc:
                starter = c2
            else:
                marks.append(cp)
                last_ccc = ccc
    if starter is not None:
        out.append(starter)
    out.extend(marks)
    return "".join(chr(c) for c in out)


def test_malformed_labels_match_python_codec_randomized(spark):
    """Property sweep: random digit-strings (mostly malformed, some
    valid) — the fold's accept/reject decision matches Python's RFC
    3492 codec on every one, and accepted decodes land on the
    reference composition of the decoded codepoints."""
    _random.seed(23)
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    cases = []
    for _ in range(120):
        n = _random.randint(1, 40)
        cases.append("xn--" + "".join(
            _random.choice(alphabet) for _ in range(n)
        ))
    df = spark.createDataFrame([(x,) for x in cases], "label string")
    got = {
        r.label: r.d
        for r in df.select(
            "label", _idn.decode_idn_label(F.col("label")).alias("d")
        ).collect()
    }
    n_valid = 0
    for lab in cases:
        try:
            dec = lab[4:].encode("ascii").decode("punycode")
            # surrogate/out-of-range codepoints are invalid in IDNA even
            # when the integer arithmetic succeeds
            if any(
                0xD800 <= ord(ch) <= 0xDFFF or ord(ch) > 0x10FFFF
                for ch in dec
            ):
                want = lab
            else:
                want = _ref_compose(dec)
                n_valid += 1
        except UnicodeError:
            want = lab
        assert got[lab] == want, (lab, got[lab], want)
    assert n_valid > 5  # the sweep exercises BOTH paths


# ---------------------------------------------------------------------------
# ADVICE (low): cps_to_string is total — out-of-range/surrogate ints
# render as U+FFFD instead of invalid UTF-8.
# ---------------------------------------------------------------------------


def test_cps_to_string_total_over_invalid_codepoints(spark):
    df = spark.range(1).select(
        _idn.cps_to_string(
            F.lit([0x61, 0x110000, 0xD800, 0xDFFF, -1, 0x10FFFF, 0x62])
        ).alias("s")
    )
    s = df.collect()[0].s
    assert s == "a����\U0010ffffb"


# ---------------------------------------------------------------------------
# ADVICE (low) + verdict #7: real UAX #15 composition — a starter
# composes with a later mark across a lower-ccc non-composing mark, and
# the map now covers the full BMP (Indic and friends included).
# ---------------------------------------------------------------------------


def test_nonblocked_composition_across_lower_ccc_mark(spark):
    """e + U+0339 (ccc 220, no composite) + U+0301 (ccc 230) composes
    to é + U+0339 — what real NFC (and DuckDB's nfc_normalize) does;
    the r9 fold left it fully decomposed."""
    s = "é̹x"
    df = spark.createDataFrame([(s,)], "s string")
    got = df.select(_idn.nfc_compose(F.col("s")).alias("c")).collect()[0].c
    want = _ud.normalize("NFC", s)
    assert want == "é̹x"  # sanity: the case is non-trivial
    assert got == want


def test_full_bmp_scripts_compose(spark):
    """NFD spellings across scripts OUTSIDE the old 0x3100 map bound
    now compose: Devanagari, Bengali, Odia, Tamil, Sinhala, Myanmar —
    plus the old in-range scripts still work."""
    precomposed = [
        "ऩ",  # Devanagari NNNA = 0928+093C
        "ো",  # Bengali O = 09C7+09BE
        "ୋ",  # Odia O = 0B47+0B3E
        "ொ",  # Tamil O = 0BC6+0BBE
        "ේ",  # Sinhala EE = 0DD9+0DCA
        "ဦ",  # Myanmar UU = 1025+102E
        "ệ",  # ệ (in old range)
        "ヴ",  # kana VU (in old range)
    ]
    cases = [_ud.normalize("NFD", c) for c in precomposed]
    assert all(len(c) > 1 for c in cases)  # really decomposed inputs
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {
        r.s: r.c
        for r in df.select(
            "s", _idn.nfc_compose(F.col("s")).alias("c")
        ).collect()
    }
    for nfd, nfc in zip(cases, precomposed):
        assert got[nfd] == nfc, (nfd.encode("unicode_escape"), nfc)


def test_nfc_property_sweep_random_bmp(spark):
    """Randomized property: NFD-normalize random strings built from
    BMP characters with nontrivial decompositions plus extra combining
    marks; the fold's composition == unicodedata's NFC on every one."""
    _random.seed(41)
    # characters whose NFD differs (pair composites across the BMP)
    bases = [
        c
        for cp in list(range(0xC0, 0x3000, 7)) + list(range(0x3000, 0x10000, 23))
        for c in [chr(cp)]
        if _ud.normalize("NFD", c) != c and not (0xAC00 <= cp <= 0xD7A3)
    ][:400]
    marks = ["́", "̈", "̣", "̹", "ַ", "゙"]
    cases = []
    for _ in range(150):
        n = _random.randint(1, 6)
        s = "".join(
            _random.choice(bases)
            + (
                _random.choice(marks)
                if _random.random() < 0.4
                else ""
            )
            for _ in range(n)
        )
        cases.append(_ud.normalize("NFD", s))
    df = spark.createDataFrame([(c,) for c in set(cases)], "s string")
    rows = df.select("s", _idn.nfc_compose(F.col("s")).alias("c")).collect()
    for r in rows:
        want = _ud.normalize("NFC", r.s)
        assert r.c == want, (
            r.s.encode("unicode_escape"),
            r.c.encode("unicode_escape"),
            want.encode("unicode_escape"),
        )


def test_hangul_property_sweep(spark):
    """Random jamo sequences (L V [T]) compose arithmetically to the
    same syllables unicodedata produces, including LV+T and bare LV."""
    _random.seed(7)
    cases = []
    for _ in range(80):
        L = chr(_random.randint(0x1100, 0x1112))
        V = chr(_random.randint(0x1161, 0x1175))
        s = L + V
        if _random.random() < 0.5:
            s += chr(_random.randint(0x11A8, 0x11C2))
        cases.append(s)
    df = spark.createDataFrame([(c,) for c in set(cases)], "s string")
    rows = df.select("s", _idn.nfc_compose(F.col("s")).alias("c")).collect()
    for r in rows:
        assert r.c == _ud.normalize("NFC", r.s)


def test_astral_pair_composites_no_carveout(spark):
    """Verdict #7 closed with NO carve-out: the map now covers the full
    Unicode pair set. The 13 composing astral pairs (Brahmi etc.)
    compose; musical-symbol pairs are composition EXCLUSIONS, so both
    real NFC and the fold leave them decomposed — identical behavior."""
    brahmi_nfd = "\U00011099\U000110BA"  # composes to U+1109A
    musical = "\U0001D157\U0001D165"  # exclusion: NFC keeps it decomposed
    df = spark.createDataFrame(
        [(brahmi_nfd,), (musical,)], "s string"
    )
    got = {
        r.s: r.c
        for r in df.select(
            "s", _idn.nfc_compose(F.col("s")).alias("c")
        ).collect()
    }
    assert got[brahmi_nfd] == "\U0001109A"
    assert got[brahmi_nfd] == _ud.normalize("NFC", brahmi_nfd)
    assert got[musical] == musical
    assert got[musical] == _ud.normalize("NFC", musical)


# ---------------------------------------------------------------------------
# Verdict #4: GPT-2-faithful pre-tokenization — category structure
# (contractions, letter/digit/punct runs with one leading space) in a
# lookahead-free, engine-portable pattern.
# ---------------------------------------------------------------------------

from projet_etl_a_rien_spark.operators import bpe as _bpe


def _ref_gpt2_pretokenize(text: str) -> list[str]:
    """Pure-Python reference for GPT2_PRETOKEN_RE's scan semantics:
    leftmost-first ordered alternation of (contraction | ' ?'L+ |
    ' ?'N+ | ' ?'punct+ | ws+), with \\p{L}/\\p{N} as Unicode general
    categories and whitespace pinned to the ASCII class."""
    WS = set(" \t\n\r\x0b\f")

    def isL(c: str) -> bool:
        return _ud.category(c).startswith("L")

    def isN(c: str) -> bool:
        return _ud.category(c).startswith("N")

    def isP(c: str) -> bool:
        return c not in WS and not isL(c) and not isN(c)

    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        m = None
        for con in ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d"):
            if text.startswith(con, i):
                m = con
                break
        if m is None:
            for pred in (isL, isN, isP):
                k = i
                if text[k] == " " and k + 1 < n and pred(text[k + 1]):
                    k += 1
                if k < n and pred(text[k]):
                    e = k
                    while e < n and pred(text[e]):
                        e += 1
                    m = text[i:e]
                    break
        if m is None and text[i] in WS:
            e = i
            while e < n and text[e] in WS:
                e += 1
            m = text[i:e]
        assert m is not None, (text, i)
        out.append(m)
        i += len(m)
    return out


_GPT2_EDGE_CASES = [
    "don't stop, I'm sure you'll've seen it's fine",
    "hello world",
    "a1b2c3",
    "price: $3,914.50 (-12%)",
    "  double  spaces   here",
    "tabs\tand\nnewlines\r\nmixed \x0b\f ws",
    "中文日本語のテキスト and English",
    "emoji 😀😀 run 🎉!",
    "café naïve résumé",
    "nbsp separated words",  # NBSP = punct by the pinned class
    "ALL CAPS'S ODDITY",  # 'S is NOT a contraction (case-faithful)
    "trailing space ",
    " leading space",
    "'start with contraction",
    "under_scores-and-dashes.dots",
    "數字123mixed٤٥٦arabic",
    "",
    "   ",
    "x",
]


def test_gpt2_pretokenizer_matches_reference(spark):
    """Spark's regexp_extract_all over GPT2_PRETOKEN_RE == the pure-
    Python category scanner on contractions, digit runs, CJK, emoji,
    exotic whitespace — and the tokens reassemble the input exactly."""
    cases = [c for c in _GPT2_EDGE_CASES if c]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {
        r.s: r.pts
        for r in df.select(
            "s",
            F.regexp_extract_all(
                F.col("s"), F.lit(_bpe.GPT2_PRETOKEN_RE), F.lit(0)
            ).alias("pts"),
        ).collect()
    }
    for c in cases:
        want = _ref_gpt2_pretokenize(c)
        assert got[c] == want, (c, got[c], want)
        assert "".join(got[c]) == c  # lossless cover


def test_gpt2_pretokenizer_spark_duckdb_parity(spark):
    """The SAME pattern string produces the SAME pre-token stream on
    java.util.regex and RE2 — the engine-parity requirement that makes
    the GPT-2-class tokenizer oracle-able."""
    import duckdb

    cases = [c for c in _GPT2_EDGE_CASES if c]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got_spark = {
        r.s: r.pts
        for r in df.select(
            "s",
            F.regexp_extract_all(
                F.col("s"), F.lit(_bpe.GPT2_PRETOKEN_RE), F.lit(0)
            ).alias("pts"),
        ).collect()
    }
    con = duckdb.connect()
    pat = _bpe.GPT2_PRETOKEN_RE.replace("'", "''")
    for c in cases:
        got_duck = con.execute(
            f"SELECT regexp_extract_all(?, '{pat}')", [c]
        ).fetchone()[0]
        assert got_spark[c] == got_duck, (c, got_spark[c], got_duck)


def test_gpt2_pretokenizer_randomized_parity(spark):
    """Randomized sweep: 150 strings mixing scripts/digits/punct/ws —
    Spark == DuckDB == reference on every one."""
    import duckdb

    _random.seed(77)
    pool = (
        "abc XYZ 012 ٣٤ 中日 ém ' ''s  \t\n.,!?-_()[]$%€ 😀  \x0b"
    )
    cases = list(
        {
            "".join(
                _random.choice(pool)
                for _ in range(_random.randint(1, 30))
            )
            for _ in range(150)
        }
    )
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got_spark = {
        r.s: r.pts
        for r in df.select(
            "s",
            F.regexp_extract_all(
                F.col("s"), F.lit(_bpe.GPT2_PRETOKEN_RE), F.lit(0)
            ).alias("pts"),
        ).collect()
    }
    con = duckdb.connect()
    pat = _bpe.GPT2_PRETOKEN_RE.replace("'", "''")
    for c in cases:
        want = _ref_gpt2_pretokenize(c)
        got_duck = con.execute(
            f"SELECT regexp_extract_all(?, '{pat}')", [c]
        ).fetchone()[0]
        assert got_spark[c] == want, (c, got_spark[c], want)
        assert got_duck == want, (c, got_duck, want)


# ---------------------------------------------------------------------------
# Verdict #1: the production-sized merge table — exhaustion-ladder
# provenance, vocab-budget cut band, and encode-chain plan depth.
# ---------------------------------------------------------------------------


def _py_gpt2_bbpe_learn(texts, num_merges=500, min_count=2):
    """Pure-Python BBPE learner under the GPT-2 pre-tokenizer — the
    independent reference for the frozen ladder's provenance."""
    import collections

    wc = collections.Counter()
    for t in texts:
        wc.update(_ref_gpt2_pretokenize(t))
    seqs = {pt: [f"{b:02X}" for b in pt.encode("utf-8")] for pt in wc}
    merges = []
    for rank in range(1, num_merges + 1):
        pc = collections.Counter()
        for pt, syms in seqs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[pt]
        if not pc:
            break
        (left, right), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        merges.append((rank, left, right, n))
        seqs = {
            pt: _py_apply_merge(syms, left, right)
            for pt, syms in seqs.items()
        }
    return merges


def _py_apply_merge(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def test_frozen_ladder_provenance_matches_python_exhaustion(spark):
    """The frozen BBPE_MERGES_V2 module IS the exhaustion run: a pure-
    Python learner offered 2000 slots over the same TRAINING corpus
    (sf0.01 documents + fixtures.enrichment_texts(), r11) stops at the
    same rank with the identical merge sequence — the frozen table is
    learned, not hand-made, the 2000-slot offer really was
    data-bounded, and the exhaustion rank clears the 500-merge
    production width the r10 verdict asked for."""
    from projet_etl_a_rien_spark.fixtures import enrichment_texts
    from projet_etl_a_rien_spark.operators.bbpe_merges_v2 import (
        BBPE_MERGES_V2,
        EXHAUSTION_RANK,
    )

    texts = [
        r.text
        for r in spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet"
        ).collect()
    ] + enrichment_texts()
    want = _py_gpt2_bbpe_learn(texts, num_merges=2000, min_count=2)
    assert len(want) < 2000  # genuinely exhausted, not budget-stopped
    assert len(want) >= 500  # production-width ladder (r10 verdict #3)
    assert want == BBPE_MERGES_V2
    assert EXHAUSTION_RANK == len(BBPE_MERGES_V2)


def test_v2_cut_bytes_per_token_in_band(spark):
    """The shipped rank-80 cut lands English bytes/token in the 2-4
    band a real BPE vocab produces (the verdict's done-criterion); the
    full ladder sits at the memorization asymptote (> 4.5) — which is
    WHY the cut is the shipped operating point."""
    from projet_etl_a_rien_spark.operators import bpe as bpe_

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).where(F.col("lang") == "en")
    for merges, lo, hi in [
        (bpe_.FIXED_BYTE_MERGES_V2, 2.0, 4.0),
        (bpe_.BBPE_MERGES_V2, 4.5, 8.0),
    ]:
        stats = (
            bpe_.apply_bbpe_merges(
                docs, merges, pretoken_re=bpe_.GPT2_PRETOKEN_RE
            )
            .agg(
                (F.sum("n_bytes") / F.sum("n_bbpe_tokens")).alias("bpt")
            )
            .collect()[0]
            .bpt
        )
        assert lo <= stats <= hi, (len(merges), stats)


def test_encode_chain_plan_depth_500(spark):
    """The chained-FOLD encode engine supports a 500-merge chain at
    real-vocab plan width (the first 500 ranks of the REAL r11 ladder
    — no synthetic filler needed any more), chained with a
    deeper-than-default checkpoint cadence: it still plans, runs, and
    matches the pure-Python encode exactly. The fold chain stays the
    declarative engine for bounded tables; production-depth encodes
    take the Arrow path (equality pinned in tests/test_round11.py) —
    this test keeps the fold engine's depth ceiling a proven fact."""
    from projet_etl_a_rien_spark.operators import bpe as bpe_

    merges = bpe_.BBPE_MERGES_V2[:500]
    assert len(merges) == 500  # the r11 ladder exhausts past 500
    texts = [
        (1, "the customer table joins fast"),
        (2, "slow scan, big sort  window"),
        (3, "café 中文 I'm sure it's fine"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_pretokens, r.n_bytes, r.n_bbpe_tokens)
        for r in bpe_.apply_bbpe_merges(
            df,
            merges,
            pretoken_re=bpe_.GPT2_PRETOKEN_RE,
            checkpoint_every=8,
            engine="fold",
        ).collect()
    }
    for doc_id, text in texts:
        pts = _ref_gpt2_pretokenize(text)
        n_tok, n_bytes = 0, 0
        for pt in pts:
            syms = [f"{b:02X}" for b in pt.encode("utf-8")]
            for _rank, left, right, _n in merges:
                syms = _py_apply_merge(syms, left, right)
            n_tok += len(syms)
            n_bytes += len(pt.encode("utf-8"))
        assert got[doc_id] == (len(pts), n_bytes, n_tok), doc_id


# ---------------------------------------------------------------------------
# Verdict #5: mergeable quantile sketch — rank-error and one-sided
# guarantees, exact additivity, total over hostile values.
# ---------------------------------------------------------------------------

from projet_etl_a_rien_spark.operators import quantiles as _Q


def test_quantile_sketch_one_sided_and_rank_error(spark):
    """For a skewed value set: est_lo <= true rank-r value < est_hi for
    every served quantile, and the bracket's relative width is <= 1/m —
    the DDSketch-style contract, pinned against the exact sorted
    answer."""
    _random.seed(5)
    vals = (
        [_random.randint(1, 50) for _ in range(400)]
        + [_random.randint(1000, 5000) for _ in range(80)]
        + [_random.randint(10**6, 10**7) for _ in range(20)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    m = 16
    sk = _Q.quantile_sketch_build(df, "v", m)
    got = _Q.quantile_sketch_query(
        sk, [100_000, 500_000, 900_000, 990_000], m
    ).collect()
    svals = sorted(vals)
    assert len(got) == 4
    for r in got:
        assert r.n_total == len(vals)
        true = svals[r.target_rank - 1]
        assert r.est_lo <= true < r.est_hi, (r, true)
        assert (r.est_hi - r.est_lo) <= r.est_lo / m + 2, r


def test_quantile_sketch_merge_is_exact_and_associative(spark):
    """merge(build(A), build(B), build(C)) == build(A u B u C) cell for
    cell, in any grouping order — the additive-MV contract."""
    _random.seed(11)
    vals = [_random.randint(0, 10**6) for _ in range(600)]
    A, B, C = vals[:200], vals[200:350], vals[350:]
    dfs = [
        spark.createDataFrame([(v,) for v in part], "v long")
        for part in (A, B, C)
    ]
    whole = spark.createDataFrame([(v,) for v in vals], "v long")
    builds = [_Q.quantile_sketch_build(d, "v") for d in dfs]

    def cells(df):
        return {(r.bucket, r.cnt) for r in df.collect()}

    direct = cells(_Q.quantile_sketch_build(whole, "v"))
    merged = cells(_Q.quantile_sketch_merge(*builds))
    nested = cells(
        _Q.quantile_sketch_merge(
            _Q.quantile_sketch_merge(builds[0], builds[1]), builds[2]
        )
    )
    assert merged == direct
    assert nested == direct


def test_quantile_sketch_total_over_nonpositive_values(spark):
    """Zeros and negatives route to the dedicated -1 bucket instead of
    blowing up the octave arithmetic; quantiles over such data still
    serve."""
    df = spark.createDataFrame(
        [(-5,), (0,), (0,), (1,), (7,), (10**12,)], "v long"
    )
    sk = {r.bucket: r.cnt for r in _Q.quantile_sketch_build(df, "v").collect()}
    assert sk[-1] == 3
    got = _Q.quantile_sketch_query(
        _Q.quantile_sketch_build(df, "v"), [500_000]
    ).collect()[0]
    assert got.target_rank == 3 and got.bucket == -1
    assert (got.est_lo, got.est_hi) == (0, 1)


def test_quantile_sketch_bounded_cells(spark):
    """The grid stays <= 64*m + 1 cells no matter the value spread —
    the bounded-state claim behind 'serving from state'."""
    _random.seed(3)
    vals = [(_random.randint(0, 2**62),) for _ in range(5000)]
    df = spark.createDataFrame(vals, "v long")
    n_cells = _Q.quantile_sketch_build(df, "v", 16).count()
    assert n_cells <= 64 * 16 + 1


# ---------------------------------------------------------------------------
# Verdict #6: HLL distinct sketch — merge associativity/idempotence,
# bounded state, and estimate accuracy.
# ---------------------------------------------------------------------------

from projet_etl_a_rien_spark.operators import sketches as _S


def _grid_set(df):
    return {(r.key, r.j, r.mx) for r in df.collect()}


def test_hll_merge_associative_commutative_idempotent(spark):
    """merge is a MAX-fold: any grouping/order of partial grids — and
    any REPLAY of a partial — produces the identical register grid as
    the one-shot build."""
    _random.seed(13)
    rows = [
        ("a", _random.randint(1, 800)) for _ in range(1500)
    ] + [("b", _random.randint(1, 40)) for _ in range(300)]
    df = spark.createDataFrame(rows, "k string, v long")
    A = df.where(F.col("v") % 3 == 0)
    B = df.where(F.col("v") % 3 == 1)
    C = df.where(F.col("v") % 3 == 2)
    gA, gB, gC = (_S.hll_registers(d, "k", "v") for d in (A, B, C))
    direct = _grid_set(_S.hll_registers(df, "k", "v"))
    assert _grid_set(_S.hll_merge(gA, gB, gC)) == direct
    assert _grid_set(
        _S.hll_merge(_S.hll_merge(gC, gA), gB)
    ) == direct
    # idempotent: replaying a batch is exactly harmless
    assert _grid_set(_S.hll_merge(gA, gB, gC, gB)) == direct


def test_hll_bounded_state_and_accuracy(spark):
    """Register state is <= m rows per key regardless of cardinality,
    and the serve-from-state estimate lands within 3 sigma of the truth
    for both a large key (HLL branch) and a small key (linear-counting
    branch). sigma = 1.04/sqrt(m) ~ 13% at m=64, so the pin is 40%;
    the estimator's UNBIASEDNESS (mean ratio ~1.0) was verified over
    independent draws while choosing the bound."""
    _random.seed(29)
    rows = (
        [("big", _random.randint(1, 10**9)) for _ in range(20000)]
        + [("small", v) for v in range(7)] * 3
    )
    df = spark.createDataFrame(rows, "k string, v long")
    grid = _S.hll_registers(df, "k", "v")
    per_key = {
        r.key: r.cnt
        for r in grid.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    assert all(c <= _S.HLL_M for c in per_key.values())
    truth = {
        r.k: r.d
        for r in df.groupBy("k")
        .agg(F.countDistinct("v").alias("d"))
        .collect()
    }
    est = {r.key: (r.est, r.hll_raw_est, r.n_zero_registers)
           for r in _S.hll_estimate(grid).collect()}
    for k, t in truth.items():
        e = est[k][0]
        assert abs(e - t) / t < 0.40, (k, t, est[k])
    # the small key really exercised the linear-counting branch
    assert est["small"][2] > 0 and est["small"][1] <= int(2.5 * _S.HLL_M)


def test_cms_sink_fold_equals_one_shot(spark, tmp_path):
    """CMS partials through the sink (land, compact, land, REPLAY) fold
    to exactly the one-shot grid — additivity under the crash contract."""
    rows = [(i, f"tok{i % 7} tok{i % 3} x") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "cms")
    for k in range(2):
        _S.write_cms_partial(
            df.where(F.col("doc_id") % 3 == k), path, k, depth=2, width=32
        )
    _S.compact_cms(spark, path)
    _S.write_cms_partial(
        df.where(F.col("doc_id") % 3 == 2), path, 2, depth=2, width=32
    )
    # idempotent replay of an already-landed partial
    _S.write_cms_partial(
        df.where(F.col("doc_id") % 3 == 2), path, 2, depth=2, width=32
    )
    folded = {
        (r.j, r.b, r.cnt) for r in _S.read_cms(spark, path).collect()
    }
    direct = {
        (r.j, r.b, r.cnt)
        for r in _S.token_cms(df, depth=2, width=32).collect()
    }
    assert folded == direct


def test_gpt2_class_census_covers_all_classes(spark):
    """The synthesized decoration really exercises every GPT-2
    pre-token class — if a pattern regression merged classes (e.g.
    contractions absorbed into words), the census would lose rows and
    this pins it independently of the oracle hash."""
    from projet_etl_a_rien_spark.queries import REGISTRY

    rows = {
        r.cls: (r.n_pretokens, r.n_distinct)
        for r in REGISTRY["corpus_gpt2_pretoken_class_census"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(rows) == {
        "contraction", "word", "number", "punct", "whitespace"
    }
    # every doc contributes exactly two contractions ('m, 's) and two
    # digit runs (42, doc_id%97) from the decoration
    assert rows["contraction"][1] == 2  # 'm and 's
    assert rows["number"][0] >= 2 * rows["contraction"][0] / 2


# ---------------------------------------------------------------------------
# KMV / theta bottom-k sketch — the set-operation distinct sketch
# (operators/sketches.py). Mergeability is exact set algebra, the
# estimator is pinned against an independent pure-Python bottom-k, and
# the intersection estimator is pinned on constructed known-overlap
# sets.
# ---------------------------------------------------------------------------

import hashlib as _hashlib


def _py_kmv(values, k=_S.KMV_K):
    """Independent pure-Python reference: bottom-k of the 48-bit salted
    md5 hashes of the distinct values."""
    hs = sorted(
        {
            int(
                _hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:12], 16
            )
            for v in values
        }
    )[:k]
    return hs


def _sk_map(sk):
    return {r.key: list(r.hs) for r in sk.collect()}


def test_kmv_merge_equals_one_shot_and_is_idempotent(spark):
    rows = [(f"k{i % 3}", f"u{i}") for i in range(900)]
    df = spark.createDataFrame(rows, "k string, v string")
    A = df.where(F.length("v") % 3 == 0)
    B = df.where(F.length("v") % 3 == 1)
    C = df.where(F.length("v") % 3 == 2)
    sA, sB, sC = (_S.kmv_sketch(d, "k", "v") for d in (A, B, C))
    direct = _sk_map(_S.kmv_sketch(df, "k", "v"))
    assert _sk_map(_S.kmv_merge(sA, sB, sC)) == direct
    # associativity + idempotent replay
    assert _sk_map(_S.kmv_merge(_S.kmv_merge(sC, sA), sB)) == direct
    assert _sk_map(_S.kmv_merge(sA, sB, sC, sB)) == direct


def test_kmv_matches_pure_python_reference(spark):
    values = [f"user-{i}" for i in range(500)]
    df = spark.createDataFrame(
        [("k", v) for v in values], "k string, v string"
    )
    got = _sk_map(_S.kmv_sketch(df, "k", "v"))["k"]
    assert got == _py_kmv(values)
    st = _S.kmv_stats(_S.kmv_sketch(df, "k", "v")).collect()[0]
    hs = _py_kmv(values)
    assert st.theta == hs[_S.KMV_K - 1]
    assert st.est == (_S.KMV_K - 1) * _S.KMV_FULL // hs[_S.KMV_K - 1]


def test_kmv_estimate_accuracy_and_small_exactness(spark):
    rows = [("big", f"u{i}") for i in range(3000)] + [
        ("small", f"u{i}") for i in range(20)
    ]
    df = spark.createDataFrame(rows, "k string, v string")
    st = {
        r.key: (r.kmv_size, r.theta, r.est)
        for r in _S.kmv_stats(_S.kmv_sketch(df, "k", "v")).collect()
    }
    # < k distinct => the sketch IS the set: exact count, theta = 2^48
    assert st["small"] == (20, _S.KMV_FULL, 20)
    # k=64 => rel err ~ 1/sqrt(62) ~ 13%; pin a 3-sigma band
    assert abs(st["big"][2] - 3000) / 3000 < 0.40, st["big"]


def test_kmv_keep_gate_is_lossless_above_k_survivors(spark):
    """The keep_ppm pre-filter drops only hashes above the bottom-k
    window: as long as >= k hashes survive per key, the gated sketch is
    bit-identical to the ungated one (the 100 TB exchange-bounding knob
    costs nothing)."""
    rows = [("k", f"u{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, "k string, v string")
    ungated = _sk_map(_S.kmv_sketch(df, "k", "v"))
    # 200000 ppm = keep h < 0.2*2^48: ~1000 of 5000 survive >> k=64
    gated = _sk_map(_S.kmv_sketch(df, "k", "v", keep_ppm=200_000))
    assert gated == ungated


def test_kmv_pair_overlap_known_sets(spark):
    """Constructed overlap: A = 0..2999, B = 2000..4999 => true
    |A ∩ B| = 1000, |A ∪ B| = 5000, J = 1/5. The theta estimators must
    land inside a generous 3-sigma band around truth, and the exact
    branch (theta = 2^48) must be exact on small keys."""
    rows = [("A", f"u{i}") for i in range(3000)] + [
        ("B", f"u{i}") for i in range(2000, 5000)
    ] + [("C", f"u{i}") for i in range(10)] + [
        ("D", f"u{i}") for i in range(5, 15)
    ]
    df = spark.createDataFrame(rows, "k string, v string")
    sk = _S.kmv_sketch(df, "k", "v")
    out = {
        (r.key_a, r.key_b): r for r in _S.kmv_pair_overlap(sk).collect()
    }
    ab = out[("A", "B")]
    assert abs(ab.est_inter - 1000) / 1000 < 0.60, ab
    assert abs(ab.est_union - 5000) / 5000 < 0.40, ab
    assert abs(ab.jaccard_ppm - 200_000) < 120_000, ab
    # C and D are both < k distinct: theta_min = 2^48 and everything
    # is exact set arithmetic
    cd = out[("C", "D")]
    assert cd.theta_min == _S.KMV_FULL
    assert cd.n_match == 5 and cd.est_inter == 5
    assert cd.est_union == 15
    assert cd.jaccard_ppm == 5 * 1_000_000 // 15


def test_kmv_sink_fold_equals_one_shot(spark, tmp_path):
    """KMV partials through the sink (land, compact, land, REPLAY) fold
    to exactly the one-shot sketch — min-k idempotence under the crash
    contract, same guarantee class as the HLL sink."""
    rows = [(f"k{i % 2}", f"u{i}") for i in range(400)]
    df = spark.createDataFrame(rows, "k string, v string")
    path = str(tmp_path / "kmv")
    for k in range(2):
        _S.write_kmv_partial(
            df.where(F.length("v") % 3 == k), path, k, "k", "v"
        )
    _S.compact_kmv(spark, path)
    _S.write_kmv_partial(
        df.where(F.length("v") % 3 == 2), path, 2, "k", "v"
    )
    _S.write_kmv_partial(
        df.where(F.length("v") % 3 == 2), path, 2, "k", "v"
    )
    folded = _sk_map(_S.read_kmv(spark, path))
    direct = _sk_map(_S.kmv_sketch(df, "k", "v"))
    assert folded == direct


@pytest.mark.parametrize(
    "pattern", [_bpe.BYTE_PRETOKEN_RE, _bpe.GPT2_PRETOKEN_RE]
)
def test_bbpe_roundtrip_adversarial(spark, pattern):
    """encode ∘ decode == identity on texts chosen to break it: emoji
    (4-byte UTF-8), CJK, combining marks, contractions, multi-space
    runs, tabs/newlines, leading/trailing spaces, digits-in-words —
    under BOTH pre-tokenizers and the production merge table."""
    texts = [
        "hello world",
        "  double  spaces  everywhere  ",
        "don't can't we'll I'm you've he'd they're",
        "tabs\tand\nnewlines\r\nand\x0bvtab",
        "café naïve Zürich",
        "中文测试 日本語 한국어",
        "emoji 😀🎉 and astral 𝄞𐍈",
        "a1b2c3 42nd 3.14159 1,000,000",
        " leading and trailing ",
        "é combining é̹ marks",
        "",
        "x",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.decoded
        for r in _bpe.bbpe_roundtrip(
            df, _bpe.FIXED_BYTE_MERGES_V2, pretoken_re=pattern
        ).collect()
    }
    for i, t in enumerate(texts):
        if t == "":
            # empty text has no pre-tokens: absent from the occurrence
            # table by contract (the corpus fixture has no empty docs)
            assert i not in out
        else:
            assert out[i] == t, (pattern, i, repr(t), repr(out[i]))


def test_ewma_matches_recursive_reference(spark):
    """The bounded relational fan-out equals the textbook recursive
    EWMA (alpha=1/2, adjust-normalized) truncated at 16 terms, computed
    independently in Python on a constructed series."""
    import datetime as _dt

    from projet_etl_a_rien_spark.queries import REGISTRY
    from projet_etl_a_rien_spark.queries_relational import EWMA_W

    fn = REGISTRY["events_user_ewma"].fn
    # use the real fixture so the ts/event_id ordering contract is the
    # production one; recompute the reference from the same parquet
    import duckdb

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT user_id, event_id, CAST(ROUND(value*100) AS BIGINT)
        FROM '{sf}/events.parquet' WHERE user_id % 10 = 0
        ORDER BY user_id, ts, event_id"""
    ).fetchall()
    ref = {}
    series = {}
    for uid, eid, cents in rows:
        s = series.setdefault(uid, [])
        s.append(cents)
        window = s[-EWMA_W:]
        num = sum(
            c * (1 << (EWMA_W - 1 - i))
            for i, c in enumerate(reversed(window))
        )
        den = sum(
            1 << (EWMA_W - 1 - i) for i in range(len(window))
        )
        ref[(uid, eid)] = (num, den, num * 1000 // den)
    got = {
        (r.user_id, r.event_id): (r.ewma_num, r.ewma_den, r.ewma_milli)
        for r in fn(spark, sf).collect()
    }
    assert got == ref


def test_bloom_sink_fold_equals_one_shot(spark, tmp_path):
    """Bloom partials through the sink (land, compact, land, REPLAY)
    OR-fold to exactly the one-shot bitmap — idempotence under the
    crash contract, completing the fold family (SUM/MAX/MIN-K/OR)."""
    from projet_etl_a_rien_spark.operators import dedup as _D

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 40}" for j in range(12)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "bloom")
    for k in range(2):
        _D.write_bloom_partial(
            df.where(F.col("doc_id") % 3 == k), path, k, n=4, m_bits=1 << 10
        )
    _D.compact_bloom(spark, path)
    _D.write_bloom_partial(
        df.where(F.col("doc_id") % 3 == 2), path, 2, n=4, m_bits=1 << 10
    )
    _D.write_bloom_partial(
        df.where(F.col("doc_id") % 3 == 2), path, 2, n=4, m_bits=1 << 10
    )
    folded = {(r.w, r.bits) for r in _D.read_bloom(spark, path).collect()}
    direct = {
        (r.w, r.bits)
        for r in _D.bloom_build(df, n=4, m_bits=1 << 10).collect()
    }
    assert folded == direct and folded


def test_bounded_bfs_matches_reference(spark):
    """bounded_bfs == textbook BFS truncated at max_hops on a graph
    with cycles, multiple shortest paths, an unreachable island, and a
    node whose true distance exceeds the bound."""
    from collections import deque

    from projet_etl_a_rien_spark.operators.graph import bounded_bfs

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),  # chain: 6 is 5 hops out
        (1, 7), (7, 4),  # shortcut: 4 is min(3, 2) = 2 hops
        (2, 1),  # cycle back
        (100, 101),  # unreachable island
    ]
    seeds = [1]
    # python reference
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    ref, dq = {1: 0}, deque([(1, 0)])
    while dq:
        n, d = dq.popleft()
        if d == 3:
            continue
        for m in adj.get(n, ()):
            if m not in ref:
                ref[m] = d + 1
                dq.append((m, d + 1))
    e_df = spark.createDataFrame(edges, "src long, dst long")
    s_df = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r.node: r.dist
        for r in bounded_bfs(e_df, s_df, max_hops=3).collect()
    }
    assert got == ref
    assert 6 not in got and 100 not in got  # beyond bound / island absent
    assert got[4] == 2  # shortcut wins over the 3-hop chain


def test_entity_resolution_invariants(spark, sf_dir):
    """Transitivity, singleton totality, and exact balance conservation
    on the real fixture: every customer lands in exactly one entity,
    entity ids are member min-custkeys, and cents sum to the corpus
    total."""
    import duckdb

    from projet_etl_a_rien_spark.queries import REGISTRY

    out = REGISTRY["customer_entity_resolution"].fn(spark, sf_dir).collect()
    n_cust, total_cents = duckdb.sql(
        f"""SELECT COUNT(*),
            SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT))
            FROM '{sf_dir}/customer.parquet'"""
    ).fetchone()
    assert sum(r.n_members for r in out) == n_cust
    assert sum(r.sum_acctbal_cents for r in out) == total_cents
    assert all(r.rep_name is not None for r in out)
    assert any(r.n_members > 1 for r in out)  # real clusters exist
    assert any(r.n_members == 1 for r in out)  # and real singletons


def test_phash_exact_dup_distance_zero_and_pairs_complete(spark, sf_dir):
    """Planted exact duplicates land at hamming 0, every emitted pair
    respects the threshold, and the pair list is symmetric-free
    (id_a < id_b, no duplicates)."""
    from projet_etl_a_rien_spark.queries import REGISTRY
    from projet_etl_a_rien_spark.queries_multimodal import PHASH_MAX_HAMMING

    rows = (
        REGISTRY["multimodal_phash_near_dup_pairs"]
        .fn(spark, sf_dir)
        .collect()
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert len(pairs) == len(rows)  # no duplicate pairs
    assert all(a < b for a, b in pairs)
    assert all(h <= PHASH_MAX_HAMMING for h in pairs.values())
    # every planted dup (doc, doc+1e6) is an exact payload copy: the
    # pair must be present at distance 0
    import duckdb

    planted = duckdb.sql(
        f"""SELECT doc_id FROM '{sf_dir}/documents.parquet'
        WHERE doc_id % 50 = 0 AND octet_length(encode(text)) > 0"""
    ).fetchall()
    for (d,) in planted:
        assert pairs.get((d, d + 1_000_000)) == 0, d


def test_keyed_quantile_sketch_merge_and_error_bound(spark):
    """Keyed merge == one-shot keyed build, and each key's served
    est_lo is a one-sided under-estimate within the 1/m relative-error
    contract of that key's own exact quantile."""
    rows = [("a", 10 + i) for i in range(400)] + [
        ("b", 100_000 + 37 * i) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, v long")
    parts = [
        _Q.quantile_sketch_build_keyed(
            df.where(F.col("v") % 3 == i),
            "k",
            "v",
            16,
        )
        for i in range(3)
    ]
    merged = {
        (r.key, r.bucket): r.cnt
        for r in _Q.quantile_sketch_merge_keyed(*parts).collect()
    }
    direct = {
        (r.key, r.bucket): r.cnt
        for r in _Q.quantile_sketch_build_keyed(df, "k", "v", 16).collect()
    }
    assert merged == direct
    served = {
        (r.key, r.q_ppm): (r.est_lo, r.est_hi)
        for r in _Q.quantile_sketch_query_keyed(
            _Q.quantile_sketch_build_keyed(df, "k", "v", 16),
            [500_000, 990_000],
            16,
        ).collect()
    }
    import math

    by_key = {"a": sorted(v for k, v in rows if k == "a"),
              "b": sorted(v for k, v in rows if k == "b")}
    for (key, q), (lo, hi) in served.items():
        vals = by_key[key]
        true = vals[math.ceil(q * len(vals) / 1_000_000) - 1]
        assert lo <= true < hi, (key, q, lo, true, hi)
        assert (hi - lo) <= max(1, lo // 16 + 1), (key, q, lo, hi)


def test_bounded_bellman_ford_detour_beats_direct(spark):
    """The weighted case BFS cannot see: a 2-edge detour (3+3=6)
    undercuts the direct edge (100), and the hop budget still excludes
    paths longer than max_hops."""
    from projet_etl_a_rien_spark.operators.graph import (
        bounded_bellman_ford,
        bounded_bfs,
    )

    edges = [
        (1, 2, 100),  # direct but expensive
        (1, 3, 3), (3, 2, 3),  # 2-edge detour, cost 6
        (2, 4, 1), (4, 5, 1), (5, 6, 1),  # 6 is 4 hops via cheap chain
    ]
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    s = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.cost
        for r in bounded_bellman_ford(e, s, max_hops=3).collect()
    }
    assert got[2] == 6  # detour wins
    assert got[4] == 7  # detour + 1
    assert 6 not in got  # 4 edges > hop budget
    # same reachable node set as BFS at the same budget
    bfs_nodes = {
        r.node
        for r in bounded_bfs(
            e.select("src", "dst"), s, max_hops=3
        ).collect()
    }
    assert set(got) == bfs_nodes


def test_kmv_gated_estimator_scales_up_undersized_sketches(spark):
    """Fixed-threshold theta estimator: a gate that leaves >= k
    survivors changes nothing (lossless — same est as ungated); a gate
    that leaves < k survivors estimates size·2^48 DIV gate, i.e. the
    count scaled by the inverse keep rate, landing near truth."""
    rows = [("big", f"u{i}") for i in range(5000)] + [
        ("mid", f"u{i}") for i in range(120)
    ]
    df = spark.createDataFrame(rows, "k string, v string")
    ppm = 200_000
    gated = {
        r.key: (r.kmv_size, r.theta, r.est)
        for r in _S.kmv_stats(
            _S.kmv_sketch(df, "k", "v", keep_ppm=ppm), keep_ppm=ppm
        ).collect()
    }
    ungated = {
        r.key: r.est
        for r in _S.kmv_stats(_S.kmv_sketch(df, "k", "v")).collect()
    }
    # big: ~1000 survivors >> k=64 -> identical estimate to ungated
    assert gated["big"][2] == ungated["big"]
    # mid: ~24 survivors < k -> scaled-up count, near 120 (3-sigma on
    # a binomial(120, 0.2) sample => generous band)
    size, theta, est = gated["mid"]
    assert size < _S.KMV_K
    assert theta == (_S.KMV_FULL * ppm) // 1_000_000
    assert est == size * _S.KMV_FULL // theta
    assert abs(est - 120) / 120 < 0.75, gated["mid"]


def test_sliding_hll_fold_equals_direct_window_build(spark):
    """The sliding construction's algebraic core: MAX-folding per-hour
    register grids over a window equals building the registers directly
    from the window's events — register union IS set union."""
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1)
    rows = []
    for h in range(6):
        for u in range(h * 10, h * 10 + 30):  # overlapping user ranges
            rows.append((base + _dt.timedelta(hours=h, minutes=u % 60),
                         f"u{u % 40}"))
    df = spark.createDataFrame(rows, "ts timestamp, v string")
    hr = F.date_trunc("hour", F.col("ts")).alias("hr")
    hourly = _S.hll_registers(df.select(hr, "v"), "hr", "v")
    # window = hours 2..4: fold the three hourly grids
    import pyspark.sql.functions as _F

    h2 = base + _dt.timedelta(hours=2)
    h4 = base + _dt.timedelta(hours=4)
    folded = {
        (r.j, r.mx)
        for r in hourly.where(
            (F.col("key") >= h2) & (F.col("key") <= h4)
        )
        .groupBy("j")
        .agg(_F.max("mx").alias("mx"))
        .collect()
    }
    direct = {
        (r.j, r.mx)
        for r in _S.hll_registers(
            df.where(
                (F.date_trunc("hour", F.col("ts")) >= h2)
                & (F.date_trunc("hour", F.col("ts")) <= h4)
            ).select(F.lit("w").alias("k"), "v"),
            "k",
            "v",
        )
        .select("j", "mx")
        .collect()
    }
    assert folded == direct


def test_cdf_bracket_contains_exact_rank(spark):
    """The CDF bracket [rank_lo, rank_hi] must contain every value's
    exact percentile rank, and brackets must be monotone in the
    value."""
    rows = [(i, v) for i, v in enumerate([1, 5, 9, 17, 33, 650, 651,
                                          652, 100000, 7, 7, 7])]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    sk = _Q.quantile_sketch_build(df, "n_chars", 16)
    out = {
        r.doc_id: (r.n_chars, r.rank_lo_ppm, r.rank_hi_ppm)
        for r in _Q.quantile_sketch_cdf(
            sk, df, "n_chars", 16
        ).collect()
    }
    vals = sorted(v for _, v in rows)
    n = len(vals)
    for _id, (v, lo, hi) in out.items():
        assert 0 <= lo <= hi <= 1_000_000
        # exact rank band of v (ties give a band)
        lo_true = sum(1 for x in vals if x < v) * 1_000_000 // n
        hi_true = sum(1 for x in vals if x <= v) * 1_000_000 // n
        assert lo <= lo_true and hi >= hi_true, (v, lo, hi, lo_true, hi_true)
    # monotone: larger value never gets a smaller bracket start
    by_val = sorted(out.values())
    for (v1, lo1, _), (v2, lo2, _) in zip(by_val, by_val[1:]):
        assert lo1 <= lo2


def test_ks_sketch_identical_zero_and_shift_detected(spark):
    """KS from sketches: identical distributions score 0; a clean
    location shift scores near the true KS (within one-bucket-mass
    resolution, the documented lower-bound contract)."""
    a_rows = [(i, 100 + (i % 50)) for i in range(500)]
    b_same = [(i, 100 + (i % 50)) for i in range(300)]
    b_shift = [(i, 400 + (i % 50)) for i in range(300)]  # disjoint range
    da = spark.createDataFrame(a_rows, "id long, v long")
    for b_rows, want_lo, want_hi in [
        (b_same, 0, 0),
        (b_shift, 900_000, 1_000_000),  # disjoint => true KS = 1.0
    ]:
        db = spark.createDataFrame(b_rows, "id long, v long")
        ka = _Q.quantile_sketch_build(da, "v", 16)
        kb = _Q.quantile_sketch_build(db, "v", 16)
        r = _Q.quantile_sketch_ks(ka, kb, 16).collect()[0]
        assert r.n_a == 500 and r.n_b == 300
        assert want_lo <= r.ks_ppm <= want_hi, (want_lo, r.ks_ppm)


def test_kmv_churn_exact_branch_matches_truth(spark):
    """With < k distinct users per day the sketch IS the set, so
    retained/churned/new are exact on constructed data with known
    overlap: day0 = u0..u29, day1 = u20..u49 (10 retained, 20 churned,
    20 new), day2 = u40..u44 (5 retained of day1)."""
    import datetime as _dt

    base = _dt.datetime(2024, 3, 1)
    rows = []
    for u in range(30):
        rows.append((base, u))
    for u in range(20, 50):
        rows.append((base + _dt.timedelta(days=1), u))
    for u in range(40, 45):
        rows.append((base + _dt.timedelta(days=2), u))
    df = spark.createDataFrame(rows, "ts timestamp, user_id long")
    day = F.date_trunc("day", F.col("ts")).alias("d")
    sk = _S.kmv_sketch(df.select(day, "user_id"), "d", "user_id").select(
        F.col("key").alias("d"), "hs"
    )
    a = sk.select(F.col("d").alias("day_prev"), F.col("hs").alias("hs_a"))
    b = sk.select(
        F.expr("d - make_interval(0, 0, 0, 1, 0, 0, 0)").alias("day_prev"),
        F.col("hs").alias("hs_b"),
    )
    out = {
        r.day_prev.day: (r.est_a, r.est_b, r.est_inter)
        for r in _S.kmv_adjacent_overlap(a.join(b, "day_prev")).collect()
    }
    assert out[1] == (30, 30, 10)  # day0 -> day1
    assert out[2] == (30, 5, 5)  # day1 -> day2
