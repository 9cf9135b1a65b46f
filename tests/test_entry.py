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


# Artifact contract: nabatshy_spark.artifacts derives every key and root.
PACKAGE = os.path.join(REPO, "nabatshy_spark")


def _package_trees():
    for path in glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True):
        with open(path) as fh:
            yield os.path.relpath(path, REPO), ast.parse(fh.read())


def test_operators_take_relations_not_override_kwargs():
    """A derived relation is a required input, never an optional
    ``*_override`` (or ``corpus_index=None``) beside an in-plan fork."""
    offenders = []
    for rel, tree in _package_trees():
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            args = fn.args
            pos = args.posonlyargs + args.args
            defaults = [None] * (len(pos) - len(args.defaults)) + [
                *args.defaults, *args.kw_defaults
            ]
            for a, d in zip(pos + args.kwonlyargs, defaults):
                none_default = isinstance(d, ast.Constant) and d.value is None
                if a.arg.endswith("_override") or (
                    a.arg == "corpus_index" and none_default
                ):
                    offenders.append(f"{rel}:{fn.lineno} {fn.name}({a.arg})")
    assert not offenders


def test_source_fingerprint_is_called_only_by_artifacts():
    offenders = [
        f"{rel}:{n.lineno}"
        for rel, tree in _package_trees()
        if rel != os.path.join("nabatshy_spark", "artifacts.py")
        for n in ast.walk(tree)
        if isinstance(n, (ast.Name, ast.Attribute))
        and (n.id if isinstance(n, ast.Name) else n.attr) == "source_fingerprint"
    ]
    assert not offenders


def test_one_artifact_location_setting():
    """$SPARK_GRAFT_ARTIFACT_DIR is the only artifact-location env var
    ($SPARK_GRAFT_SF_DIR locates the input tables, not artifacts)."""
    found = set()
    for path in glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True):
        with open(path) as fh:
            found |= set(re.findall(r"SPARK_GRAFT_\w*_DIR", fh.read()))
    assert found <= {"SPARK_GRAFT_ARTIFACT_DIR", "SPARK_GRAFT_SF_DIR"}


# The deployment settings: where the input tables, the artifacts and the
# span table live, and how large the session is. Tuning constants are
# module constants, not env vars.
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_ARTIFACT_DIR",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "NABATSHY_SPANS_PATH",
}


def _is_environ(n: ast.AST) -> bool:
    return isinstance(n, ast.Attribute) and n.attr == "environ"


def test_env_vars_read_are_the_deployment_set():
    found = set()
    for rel, tree in _package_trees():
        for n in ast.walk(tree):
            if isinstance(n, ast.Subscript) and _is_environ(n.value):
                key = n.slice
            elif isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and (
                n.func.attr == "getenv"
                or (n.func.attr == "get" and _is_environ(n.func.value))
            ):
                key = n.args[0] if n.args else None
            else:
                continue
            if isinstance(key, ast.Constant) and isinstance(key.value, str):
                found.add(key.value)
            else:  # a computed name would hide a setting from this check
                found.add(f"<computed at {rel}:{n.lineno}>")
    assert found == DEPLOYMENT_ENV


# The two owned caches, each released by its owner: the API's serving
# span table (TelemetryAPI.stop) and the quality gate's per-batch
# persist (released in the same finally).
CACHE_OWNERS = {
    os.path.join("nabatshy_spark", "serving", "api.py"),
    os.path.join("nabatshy_spark", "streaming", "quality.py"),
}


def test_intermediates_reused_only_through_lazy_local_checkpoint():
    """A query, operator or artifact build reuses an intermediate only
    through ``localCheckpoint(eager=False)``. Its blocks are freed by the
    ContextCleaner once the last reference drops, so nothing needs a
    release: no persist/cache/unpersist outside the owned caches and no
    ``_handles`` out-parameter."""
    offenders = []
    for rel, tree in _package_trees():
        for n in ast.walk(tree):
            if isinstance(n, ast.arg) and n.arg == "_handles":
                offenders.append(f"{rel}:{n.lineno} _handles")
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            name = n.func.attr
            if name in {"persist", "cache", "unpersist"} and rel not in CACHE_OWNERS:
                offenders.append(f"{rel}:{n.lineno} {name}")
            lazy = any(
                k.arg == "eager"
                and isinstance(k.value, ast.Constant)
                and k.value.value is False
                for k in n.keywords
            )
            if name == "localCheckpoint" and not lazy:
                offenders.append(f"{rel}:{n.lineno} localCheckpoint not eager=False")
    assert not offenders


def test_every_module_imports_without_a_session():
    """Importing a module must not need a SparkSession: a fresh
    interpreter, which has none, imports every module of the package."""
    import json
    import subprocess
    import sys

    names = sorted(
        os.path.relpath(p, REPO)[: -len(".py")]
        .replace(os.sep, ".")
        .removesuffix(".__init__")
        for p in glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    )
    script = (
        "import importlib, json, sys\n"
        "failed = {}\n"
        "for name in sys.argv[1:]:\n"
        "    try:\n"
        "        importlib.import_module(name)\n"
        "    except Exception as e:\n"
        "        failed[name] = repr(e)[:200]\n"
        "from pyspark.sql import SparkSession\n"
        "assert SparkSession.getActiveSession() is None\n"
        "print(json.dumps(failed))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script, *names],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == {}
    assert len(names) > 60
