"""Driver-contract smoke tests mirroring the driver's t1 check."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import re

ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")


def _load_entry():
    spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
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


# The one owned cache: the API's serving span table, TelemetryAPI.spans,
# cached in the constructor and released by TelemetryAPI.stop.
CACHE_OWNER = "TelemetryAPI"


def _is_self_spans(n: ast.AST) -> bool:
    return (
        isinstance(n, ast.Attribute)
        and n.attr == "spans"
        and isinstance(n.value, ast.Name)
        and n.value.id == "self"
    )


def _owned_cache_calls(tree: ast.AST) -> set[int]:
    """The ``self.spans = ....cache()`` and ``self.spans.unpersist()``
    calls inside the owner class."""
    owned = set()
    for cls in ast.walk(tree):
        if not (isinstance(cls, ast.ClassDef) and cls.name == CACHE_OWNER):
            continue
        for n in ast.walk(cls):
            if (
                isinstance(n, ast.Assign)
                and any(_is_self_spans(t) for t in n.targets)
                and isinstance(n.value, ast.Call)
                and getattr(n.value.func, "attr", None) == "cache"
            ):
                owned.add(id(n.value))
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "unpersist"
                and _is_self_spans(n.func.value)
            ):
                owned.add(id(n))
    return owned


def test_intermediates_reused_only_through_lazy_local_checkpoint():
    """A query, operator or artifact build reuses an intermediate only
    through ``localCheckpoint(eager=False)``. Its blocks are freed by the
    ContextCleaner once the last reference drops, so nothing needs a
    release: no persist/cache/unpersist outside the owned cache and no
    ``_handles`` out-parameter."""
    offenders = []
    for rel, tree in _package_trees():
        owned = _owned_cache_calls(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.arg) and n.arg == "_handles":
                offenders.append(f"{rel}:{n.lineno} _handles")
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
                continue
            name = n.func.attr
            if name in {"persist", "cache", "unpersist"} and id(n) not in owned:
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
    assert len(names) > 50


# -- everything defined is called, every option is set ----------------------

def _source_trees():
    """The package and everything that calls into it."""
    paths = glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)
    for d in ("tests", "tools", "perfbench"):
        paths += glob.glob(os.path.join(REPO, d, "**", "*.py"), recursive=True)
    paths += [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for path in paths:
        with open(path) as fh:
            yield os.path.relpath(path, REPO), ast.parse(fh.read())


def _top_level_defs():
    for rel, tree in _package_trees():
        for n in tree.body:
            if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
                yield rel, n


# Top-level definitions that nothing but tests reaches, and why each
# stays: a reference implementation the served path is tested against,
# fault recovery, rejection of malformed outside input, a test entry
# point, or a pending caller named on ROADMAP.
REFERENCE_ALLOWLIST = {
    "critical_path": "reference: the grouped critical-path DP is tested against it",
    "part_topk_matches": "reference: the served part ER is checked against it",
    "doc_topk_matches": "reference: the served doc_matches artifact is checked against it",
    "duplicated_substring_runs": "reference: the ExactSubstr artifact is checked against it",
    "cross_corpus_substring_runs": "reference: the served decontamination is checked against it",
    "frequent_pairs": "reference: the artifacted A-priori pairs are checked against it",
    "part_entity_clusters": "reference: the artifact-free form of the served er_part_clusters",
    "idempotent_append": "fault recovery: exactly-once replay after a SIGKILL",
    "parse_otlp_json_with_dead_letter": "malformed input: dead-letter split of the JSON decoder",
    "parse_otlp_protobuf_with_dead_letter": "malformed input: dead-letter split of the protobuf decoder",
    "ingest_batch": "test entry point: OTLP documents to span rows without a stream",
    "read_spans": "test entry point: reader of the partitioned span sink",
    "start_collector": "pending caller: the one-process collector + API item (ROADMAP)",
}
# Deleted because nothing but their own tests called them; none may
# come back as an exception.
DELETED = {
    "is_root_span", "in_time_range", "attr_has_key", "attr_equals",
    "attr_not_equals", "attr_any_match", "has_exception_event", "zip_attrs",
    "duration_ms", "pct_diff", "bucket_ts", "bucket_hour", "ns_to_timestamp",
    "load_all", "association_rules", "table_footer_summary",
    "range_to_interval", "ngram_jaccard_pairs_prefix", "resample_audio",
    "salted_broadcastable_join", "insert_http", "write_spans_jdbc",
    "jdbc_options", "compact", "base_span_ds", "normalize", "backfill_hours",
    "quarantine_report", "read_csv", "read_jsonl", "anomaly_stream",
    "perceptual_dedup_stream", "dedup_span_stream", "estimate",
    "start_cms_stream", "span_error_enrichment", "bucketed_rollup",
    "session_window_rollup", "start_rollup_to_memory", "start_gated_ingest",
    "gated_sink", "kafka_spool_stream", "kafka_source_options",
    "sessionize_stream", "merge_sketch", "stream_interval_join",
    "dedup_stream", "progress_report",
}


def test_every_top_level_definition_is_referenced():
    """A top-level function or class under the package is named by the
    package, tools, perfbench, bench.py or ``__spark_entry__.py``
    outside its own body (a ``@query`` registration counts), or it is
    on the allowlist. Allowlisted names must still be defined and still
    be unreached."""
    defined = {n.name for _, n in _top_level_defs()}
    reached = set()
    for rel, tree in _source_trees():
        if rel.startswith("tests"):
            continue
        for top in tree.body:
            own = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
            for d in getattr(top, "decorator_list", []):
                d = d.func if isinstance(d, ast.Call) else d
                if isinstance(d, ast.Name) and d.id == "query":
                    reached.add(own)
            for n in ast.walk(top):
                name = n.id if isinstance(n, ast.Name) else getattr(n, "attr", None)
                if isinstance(n, (ast.Name, ast.Attribute)) and name != own:
                    reached.add(name)
    unreached = sorted(defined - reached - set(REFERENCE_ALLOWLIST))
    assert not unreached
    stale = sorted(set(REFERENCE_ALLOWLIST) - (defined - reached))
    assert not stale
    assert not DELETED & set(REFERENCE_ALLOWLIST)


# Options a deployment sets: the listening port and the trigger
# interval. ``parse_otlp_json(json_col=)`` is set only positionally by
# the benchmark harness, which changes only with the benchmark.
DEPLOYMENT_OPTIONS = {
    ("start_collector", "port"),
    ("start_collector", "trigger_interval"),
    ("parse_otlp_json", "json_col"),
}
ALL_CAPS = re.compile(r"[A-Z][A-Z0-9_]*$")


def _is_constant(node: ast.expr) -> bool:
    """A literal (signed number, string, None, tuple or list of them)
    or an ALL_CAPS name."""
    if isinstance(node, ast.Constant):
        return True
    if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
        return _is_constant(node.operand)
    if isinstance(node, (ast.Tuple, ast.List)):
        return all(_is_constant(e) for e in node.elts)
    name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)
    return isinstance(node, (ast.Name, ast.Attribute)) and bool(ALL_CAPS.match(name))


def _value(call: ast.Call, index, name: str, default: ast.expr, where: str) -> str:
    """What one call passes for an option: the source text of a literal
    or ALL_CAPS constant (the default's when the call omits it), else a
    value of its own."""
    node = next((k.value for k in call.keywords if k.arg == name), None)
    if node is None and index is not None and len(call.args) > index:
        node = call.args[index]
    if node is None and (
        any(k.arg is None for k in call.keywords)
        or any(isinstance(a, ast.Starred) for a in call.args)
    ):
        return f"{where}:{call.lineno}:{call.col_offset}"
    if node is None:
        node = default
    if _is_constant(node):
        return ast.unparse(node)
    return f"{where}:{node.lineno}:{node.col_offset}"


def test_every_keyword_option_is_set_by_a_caller():
    """A defaulted parameter of a top-level function takes at least two
    distinct values across the calls in the package, tests, tools,
    perfbench, bench.py and ``__spark_entry__.py``; an option that
    every call sets the same way is a constant. Calls resolve by name,
    so a call counts toward every definition of that name."""
    calls = {}
    for rel, tree in _source_trees():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                calls.setdefault(name, []).append((rel, n))
    one_value = []
    for rel, fn in _top_level_defs():
        if not isinstance(fn, ast.FunctionDef):
            continue
        args = fn.args
        pos = args.posonlyargs + args.args
        first = len(pos) - len(args.defaults)
        options = [
            (i, a.arg, d)
            for i, (a, d) in enumerate(zip(pos[first:], args.defaults), first)
        ] + [
            (None, a.arg, d)
            for a, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None
        ]
        for index, name, default in options:
            if (fn.name, name) in DEPLOYMENT_OPTIONS:
                continue
            values = {
                _value(c, index, name, default, where)
                for where, c in calls.get(fn.name, [])
            }
            if len(values) < 2:
                one_value.append(f"{rel}:{fn.lineno} {fn.name}({name}=)")
    assert not one_value


def test_span_fixture_path_follows_the_importing_checkout(tmp_path):
    """A second checkout of the package reads its own span fixture: the
    span queries and their oracles both resolve the path under it."""
    import json
    import shutil
    import subprocess
    import sys

    shutil.copytree(
        PACKAGE,
        tmp_path / "nabatshy_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    script = (
        "import json\n"
        "from nabatshy_spark.plans.oracles import ORACLES\n"
        "from nabatshy_spark.plans.span_queries import DEFAULT_SPANS_PATH as p\n"
        "print(json.dumps([p, sorted(\n"
        "    k for k, v in ORACLES.items() if 'spans.parquet' in v and repr(p) not in v\n"
        ")]))\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    path, elsewhere = json.loads(out.stdout.strip().splitlines()[-1])
    assert path == str(tmp_path / "tests" / "data" / "spans.parquet")
    assert elsewhere == []
