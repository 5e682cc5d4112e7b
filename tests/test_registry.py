"""Registry structure: one core module plus one module per operator
family, complete on import, no silent shadowing, shared oracles shared
by reference."""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

import pytest

from projet_etl_a_rien_spark.queries import REGISTRY, register

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "projet_etl_a_rien_spark"
MODULES = sorted(p.stem for p in PKG.glob("queries*.py"))
DOMAIN_MODULES = [m for m in MODULES if m != "queries"]


def test_register_duplicate_name_raises_and_keeps_first():
    first = REGISTRY["tpch_q1_pricing_summary"]
    with pytest.raises(ValueError, match="tpch_q1_pricing_summary"):

        @register("tpch_q1_pricing_summary", "SELECT 1 AS x")
        def _shadow(spark, sf_dir):
            raise AssertionError("never registered")

    assert REGISTRY["tpch_q1_pricing_summary"] is first


@pytest.mark.parametrize(
    "stream, batch",
    [
        ("streaming_contamination_gate", "ngram_overlap_contamination"),
        ("streaming_token_cms_mv", "corpus_token_cms_topk"),
        ("streaming_bloom_gate_mv", "bloom_contamination_gate"),
    ],
)
def test_streaming_twin_carries_batch_oracle(stream, batch):
    assert REGISTRY[batch].oracle
    assert REGISTRY[stream].oracle == REGISTRY[batch].oracle


@pytest.mark.parametrize("module", MODULES)
def test_registry_complete_whichever_module_is_imported_first(module):
    """A fresh interpreter imports one registry module before anything
    else, then the core: the registry must be complete, which fails on
    any import cycle between domain modules."""
    code = (
        "import importlib\n"
        f"importlib.import_module('projet_etl_a_rien_spark.{module}')\n"
        "from projet_etl_a_rien_spark.queries import REGISTRY\n"
        "print(len(REGISTRY))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert int(out.stdout.split()[-1]) == len(REGISTRY)


@pytest.mark.parametrize("module", DOMAIN_MODULES)
def test_domain_module_leaves_registry_to_register(module):
    """Domain modules register through ``register`` only: they never
    read or write REGISTRY, and import sibling registry modules at top
    level, never inside a function."""
    tree = ast.parse((PKG / f"{module}.py").read_text())
    assert not any(
        isinstance(n, ast.Name) and n.id == "REGISTRY" for n in ast.walk(tree)
    )
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            for n in ast.walk(fn):
                if isinstance(n, ast.ImportFrom) and n.level:
                    names = [n.module or ""] + [a.name for a in n.names]
                    assert not any(x.startswith("queries") for x in names), (
                        module,
                        fn.name,
                    )
