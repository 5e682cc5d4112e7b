"""Sink-is-the-state protocol: only ``operators/compaction.py`` knows the
on-disk layout (``parts/batch_id=N`` partials, ``snap/v=N`` snapshots),
and every sink family built on it keeps the same crash contract."""

from __future__ import annotations

import ast
import os
import re
import shutil
from pathlib import Path

import pytest

from projet_etl_a_rien_spark.operators import bpe as _B
from projet_etl_a_rien_spark.operators import compaction as _C
from projet_etl_a_rien_spark.operators import dedup as _D
from projet_etl_a_rien_spark.operators import quantiles as _Q
from projet_etl_a_rien_spark.operators import sketches as _S

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "projet_etl_a_rien_spark"
OWNER = "operators/compaction.py"
MODULES = sorted(
    str(p.relative_to(PKG))
    for p in PKG.rglob("*.py")
    if p.relative_to(PKG) != Path(OWNER)
)
LAYOUT = re.compile(r"parts/batch_id=|snap/v=|(^|/)(parts|snap)(/|$)")
PRIVATE = {"_committed_partitions", "_snapshot_version", "_vacuum_partitions"}


def _path_literals(tree):
    """String literals that can be path pieces: every literal part of an
    f-string, and plain strings without whitespace (prose such as
    docstrings and registration docs may name the layout)."""
    fparts = {
        id(v)
        for n in ast.walk(tree)
        if isinstance(n, ast.JoinedStr)
        for v in n.values
    }
    for n in ast.walk(tree):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            if id(n) in fparts or not re.search(r"\s", n.value):
                yield n


def test_only_compaction_builds_sink_layout_paths():
    offenders = [
        (m, n.lineno, n.value)
        for m in MODULES
        for n in _path_literals(ast.parse((PKG / m).read_text()))
        if LAYOUT.search(n.value)
    ]
    assert not offenders, offenders


def test_only_compaction_uses_its_private_sink_helpers():
    """Package modules go through write_partial / fold_inputs /
    compact_sink / next_batch_id and import no underscored name from
    compaction."""
    offenders = []
    for m in MODULES:
        for n in ast.walk(ast.parse((PKG / m).read_text())):
            names = []
            if isinstance(n, ast.ImportFrom) and (n.module or "").endswith(
                "compaction"
            ):
                names = [a.name for a in n.names if a.name.startswith("_")]
            elif isinstance(n, ast.Attribute) and n.attr in PRIVATE:
                names = [n.attr]
            elif isinstance(n, ast.Name) and n.id in PRIVATE:
                names = [n.id]
            offenders += [(m, n.lineno, x) for x in names]
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# One crash contract across all nine sink families
# ---------------------------------------------------------------------------

# name -> (write(df, path, batch_id), read(spark, path), compact(spark, path))
FAMILIES = {
    "agg": (_C.write_agg_partial, _C.read_agg_sink, _C.compact_agg_sink),
    "postings": (
        _C.write_postings_partial,
        _C.read_postings_sink,
        _C.compact_postings_sink,
    ),
    "quantile": (
        lambda df, p, b: _Q.write_sketch_partial(df, p, b, "value"),
        _Q.read_sketch,
        _Q.compact_sketch,
    ),
    "hll": (
        lambda df, p, b: _S.write_hll_partial(df, p, b, "k", "v"),
        _S.read_hll,
        _S.compact_hll,
    ),
    "kmv": (
        lambda df, p, b: _S.write_kmv_partial(df, p, b, "k", "v"),
        _S.read_kmv,
        _S.compact_kmv,
    ),
    "kmv_sample": (
        lambda df, p, b: _S.write_kmv_sample_partial(df, p, b, "k", "v"),
        _S.read_kmv_sample,
        _S.compact_kmv_sample,
    ),
    "cms": (_S.write_cms_partial, _S.read_cms, _S.compact_cms),
    "bloom": (_D.write_bloom_partial, _D.read_bloom, _D.compact_bloom),
    "pretoken": (
        _B.write_pretoken_counts_partial,
        _B.read_pretoken_counts,
        _B.compact_pretoken_counts,
    ),
}
TYPES = ["click", "view", "buy"]


@pytest.fixture(scope="module")
def batches(spark):
    """Four small micro-batches carrying every family's input columns."""
    out = []
    for b in range(4):
        rows = []
        for i in range(6):
            d = b * 10 + i
            text = " ".join(f"t{(d * 3 + j) % 17}" for j in range(10))
            rows.append((d, TYPES[i % 3], d * 1.25, "ab"[i % 2], f"x{d}", text))
        out.append(
            spark.createDataFrame(
                rows,
                "doc_id bigint, event_type string, value double,"
                " k string, v string, text string",
            )
        )
    return out


def _state(spark, family, path):
    return sorted(str(r) for r in FAMILIES[family][1](spark, path).collect())


@pytest.fixture(scope="module")
def expected(spark, batches, tmp_path_factory):
    """``expected(family, ids)``: the family's read over a fresh sink
    holding exactly batches ``ids`` (memoized across the cases)."""
    memo = {}

    def fresh_read(family, ids):
        if (family, ids) not in memo:
            path = str(tmp_path_factory.mktemp(family))
            for b in ids:
                FAMILIES[family][0](batches[b], path, b)
            memo[family, ids] = _state(spark, family, path)
        return memo[family, ids]

    return fresh_read


def _tear(path):
    os.remove(os.path.join(path, "_SUCCESS"))


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_torn_partial_is_invisible(spark, batches, expected, tmp_path, family):
    write, _, compact = FAMILIES[family]
    want = expected(family, (0, 1))
    path = str(tmp_path / "sink")
    for b in range(3):
        write(batches[b], path, b)
    _tear(f"{path}/parts/batch_id=2")
    assert _state(spark, family, path) == want
    assert compact(spark, path) == 1
    assert _state(spark, family, path) == want


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_torn_snapshot_is_ignored_and_repaired(
    spark, batches, expected, tmp_path, family
):
    write, _, compact = FAMILIES[family]
    want = expected(family, (0, 1, 2))
    path = str(tmp_path / "sink")
    write(batches[0], path, 0)
    write(batches[1], path, 1)
    assert compact(spark, path) == 1
    write(batches[2], path, 2)
    # a crash mid job-commit of snap/v=2: data files, no marker, and the
    # vacuum never ran (stale contents — tornness is what's under test)
    shutil.copytree(f"{path}/snap/v=1", f"{path}/snap/v=2")
    _tear(f"{path}/snap/v=2")
    assert _state(spark, family, path) == want
    assert compact(spark, path) == 2
    assert os.path.exists(f"{path}/snap/v=2/_SUCCESS")
    assert _state(spark, family, path) == want


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_partial_landing_after_fold_bound_survives(
    spark, batches, expected, tmp_path, monkeypatch, family
):
    """Batch 2 lands after the fold of batches <= 1 was materialized but
    before the snapshot commit and vacuum: it must stay above the new
    watermark and fold on the next compaction (not vacuumed unfolded,
    not double-counted)."""
    write, _, compact = FAMILIES[family]
    want = expected(family, (0, 1, 2))
    path = str(tmp_path / "sink")
    write(batches[0], path, 0)
    write(batches[1], path, 1)
    commit = _C._commit_snapshot

    def landing_commit(*args, **kwargs):
        write(batches[2], path, 2)
        return commit(*args, **kwargs)

    monkeypatch.setattr(_C, "_commit_snapshot", landing_commit)
    assert compact(spark, path) == 1
    monkeypatch.setattr(_C, "_commit_snapshot", commit)
    assert os.path.isdir(f"{path}/parts/batch_id=2")
    assert _state(spark, family, path) == want
    assert compact(spark, path) == 2
    assert _state(spark, family, path) == want


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_relanded_folded_batch_changes_nothing(
    spark, batches, expected, tmp_path, family
):
    """A checkpoint replay rewrites an already-folded batch dir: it sits
    at or below the watermark, so reads and compaction ignore it, and
    the next compaction vacuums it."""
    write, _, compact = FAMILIES[family]
    want = expected(family, (0, 1))
    path = str(tmp_path / "sink")
    write(batches[0], path, 0)
    write(batches[1], path, 1)
    assert compact(spark, path) == 1
    write(batches[0], path, 0)
    assert _state(spark, family, path) == want
    assert compact(spark, path) == 1
    assert _state(spark, family, path) == want
    write(batches[3], path, 3)
    assert compact(spark, path) == 3
    assert not os.path.isdir(f"{path}/parts/batch_id=0")
    assert _state(spark, family, path) == expected(family, (0, 1, 3))


# ---------------------------------------------------------------------------
# Erasure's driver thread pool keeps the caller's job labels
# ---------------------------------------------------------------------------


def _job_groups_from(spark, first_id: int) -> dict[int, str | None]:
    """{job id: job group} of every job with id >= ``first_id``, read from
    the status store after the listener bus has delivered every event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    out = {}
    for k in range(jobs.size()):
        j = jobs.apply(k)
        if j.jobId() < first_id:
            break
        g = j.jobGroup()
        out[j.jobId()] = g.get() if g.isDefined() else None
    return out


def test_erase_pool_jobs_keep_callers_job_group(spark, sf_dir, tmp_path):
    """postings_erase_ids rewrites each dir on a pool thread; every job
    it submits must carry the job group the caller set, or per-query
    attribution by job group loses them."""
    from projet_etl_a_rien_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20).localCheckpoint()
    path = str(tmp_path / "postings")
    _C.write_postings_partial(docs.where("doc_id % 2 = 0"), path, 0)
    _C.compact_postings_sink(spark, path)
    _C.write_postings_partial(docs.where("doc_id % 2 = 1"), path, 1)
    ids = [r.doc_id for r in docs.select("doc_id").limit(4).collect()]

    sc = spark.sparkContext
    first = max(_job_groups_from(spark, 0), default=-1) + 1
    sc.setJobGroup("g", "erasure under a caller's job group")
    try:
        assert _C.postings_erase_ids(spark, path, ids) > 0
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    groups = _job_groups_from(spark, first)
    assert groups and set(groups.values()) == {"g"}, groups
