"""Driver-contract smoke tests mirroring the driver's t1 check."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import re


def _load_entry():
    spec = importlib.util.spec_from_file_location("__spark_entry__", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_returns_rows(spark):
    mod = _load_entry()
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.schema is not None


def test_registry_shapes(spark):
    mod = _load_entry()
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 19


# -- registry invariants ------------------------------------------------------

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROUND_NAMED = re.compile(r"round\d|_r\d")
# Test modules named after the change that added them. Their test ids are
# kept stable, so they stay where they are; no new file may join them.
LEGACY_ROUND_TESTS = {
    "test_advice_r5.py", "test_advice_r8.py",
    "test_property_round7.py", "test_property_round8.py",
    "test_property_round9.py", "test_property_round10.py",
    "test_round4_ops.py", "test_round5_ops.py", "test_round6_ops.py",
    "test_round7_ops.py", "test_round8_ops.py", "test_round9_ops.py",
    "test_round11_ops.py", "test_round12_ops.py",
}


def test_oracle_keys_are_registered():
    from nabatshy_spark.plans.oracles import ORACLES
    from nabatshy_spark.plans.queries import QUERIES

    assert set(ORACLES) <= set(QUERIES)


def test_priority_heads_the_driver_order():
    mod = _load_entry()
    assert list(mod.queries())[: len(mod._PRIORITY)] == mod._PRIORITY


def test_headline_comes_from_the_registry():
    from nabatshy_spark.plans.queries import HEADLINE, QUERIES

    assert HEADLINE and HEADLINE <= set(QUERIES)
    with open(os.path.join(REPO, "bench.py")) as fh:
        tree = ast.parse(fh.read())
    strings = {
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }
    assert not strings & set(QUERIES), "bench.py names queries itself"


def test_no_round_named_modules():
    plans = os.listdir(os.path.join(REPO, "nabatshy_spark", "plans"))
    assert not [f for f in plans if ROUND_NAMED.search(f)]
    tests = os.listdir(os.path.join(REPO, "tests"))
    assert {f for f in tests if ROUND_NAMED.search(f)} <= LEGACY_ROUND_TESTS


def test_no_registration_side_effect_imports():
    offenders = []
    for path in glob.glob(os.path.join(REPO, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)
        if rel.startswith(("perfbench", os.path.join("nabatshy_spark", "plans"))):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read())
        offenders += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Import)
            for a in n.names
            if a.name.startswith("nabatshy_spark.plans") and not a.asname
        ]
    assert not offenders
