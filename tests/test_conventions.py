"""Repo conventions, enforced: every registered operator documents its
100 TB scale strategy, and the uForwarder-parity operators cite the
reference file they match. These are the invariants the operator
inventory promises — breaking them silently degrades the docs the next
engineer (or reviewer) relies on.
"""

from __future__ import annotations

import uforwarder_spark  # noqa: F401
from uforwarder_spark.registry import ORACLES, QUERIES

UFORWARDER_MODULES = (
    "uforwarder_spark.operators.pipeline",
    "uforwarder_spark.operators.controller",
    "uforwarder_spark.operators.liveness",
    "uforwarder_spark.operators.ratelimit",
)


def test_every_operator_documents_scale():
    missing = [
        name
        for name, fn in QUERIES.items()
        if "SCALE" not in (fn.__doc__ or "")
    ]
    assert not missing, f"operators without a SCALE note: {missing}"


def test_parity_operators_cite_reference_files():
    missing = [
        name
        for name, fn in QUERIES.items()
        if fn.__module__ in UFORWARDER_MODULES and ".java" not in (fn.__doc__ or "")
    ]
    assert not missing, f"uForwarder operators without a reference citation: {missing}"


def test_oracle_coverage_is_total_except_declared():
    # rows-only is an explicit, short list — anything else must carry an oracle
    rows_only = {"token_bucket_exact"}
    assert set(QUERIES) - set(ORACLES) == rows_only


def test_example_script_runs(capsys):
    import importlib.util
    import sys

    spec = importlib.util.spec_from_file_location(
        "proxy_day", "examples/proxy_day_in_the_life.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    argv = sys.argv
    sys.argv = ["proxy_day"]
    try:
        mod.main()
    finally:
        sys.argv = argv
    out = capsys.readouterr().out
    assert out.count("===") >= 8 * 2  # every stage printed a header


def test_worker_functions_pickle_by_value():
    """Python-worker functions must not require `uforwarder_spark` on the
    worker's sys.path: the driver may run from any cwd without shipping
    the package (--py-files). Module-level state machines are registered
    for by-value cloudpickle; mapInPandas/applyInPandas fns are closures.
    A by-reference pickle embeds the module path; by-value embeds code.
    """
    from pyspark import cloudpickle

    from uforwarder_spark.streaming import pipelines

    registry = {
        m if isinstance(m, str) else m.__name__
        for m in cloudpickle.list_registry_pickle_by_value()
    }
    assert pipelines.__name__ in registry
    # the real check: a subprocess with NO access to this repo must be
    # able to unpickle and run a state machine's code object
    import subprocess
    import sys
    import tempfile

    blob = cloudpickle.dumps(pipelines._retry_machine)
    with tempfile.NamedTemporaryFile(suffix=".bin", delete=False) as f:
        f.write(blob)
        path = f.name
    probe = (
        "import pickle,sys\n"
        f"fn = pickle.load(open({path!r}, 'rb'))\n"
        "assert 'uforwarder_spark' not in sys.modules, 'pickled by reference'\n"
        "print('by-value ok')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, cwd="/"
    )
    assert out.returncode == 0, out.stderr
    assert "by-value ok" in out.stdout


def test_streaming_bucket_constants_match_batch():
    """E9 inlines the A18 bucket constants (a package import at worker
    call time would require uforwarder_spark on worker sys.path)."""
    import inspect

    from uforwarder_spark.operators.ratelimit import BUCKET_BURST, BUCKET_RATE
    from uforwarder_spark.streaming import pipelines

    src = inspect.getsource(pipelines._bucket_machine)
    assert f"BUCKET_RATE, BUCKET_BURST = {BUCKET_RATE}, {BUCKET_BURST}" in src
    # no runtime package imports inside any worker-side state machine
    for fn in (
        pipelines._retry_machine,
        pipelines._session_machine,
        pipelines._bucket_machine,
        pipelines._lag_machine,
    ):
        assert "from .." not in inspect.getsource(fn)


def test_streaming_scalewin_cfg_matches_batch_tables():
    """E12 inlines (scale, quota) per topic inside the machine (worker
    imports are forbidden); the values must track B16's SCALES and the
    controller QUOTAS tables."""
    import inspect

    from uforwarder_spark.operators.controller import QUOTAS
    from uforwarder_spark.operators.scaling import SCALES
    from uforwarder_spark.streaming import pipelines

    import re

    src = inspect.getsource(pipelines._scalewin_machine)
    got = {
        m.group(1): (float(m.group(2)), float(m.group(3)))
        for m in re.finditer(r'"(\w+)": \(([\d.]+), ([\d.]+)\),', src)
    }
    scales, quotas = dict(SCALES), dict(QUOTAS)
    for topic in scales:
        assert got[topic] == (scales[topic], quotas[topic]), topic


def test_streaming_delay_constants_match_batch():
    """E13 inlines A24's per-topic delay table (same worker-side
    no-package-import rule as E9's bucket constants)."""
    import inspect

    from uforwarder_spark.operators.pipeline import DELAYS
    from uforwarder_spark.streaming import pipelines

    src = inspect.getsource(pipelines._delay_machine)
    for t, d in DELAYS:
        assert f'"{t}": {d:_}' in src, (t, d)
    assert "from .." not in src


def test_survey_inventory_matches_registry():
    """SURVEY.md §2 and the registry must not drift: every backticked
    key in a §2 table row exists in QUERIES, and every registered query
    has a §2 row. (Streaming E-rows describe pipelines, not keys.)"""
    import re

    import uforwarder_spark  # noqa: F401
    from uforwarder_spark.registry import QUERIES

    text = open("SURVEY.md").read()
    sec2 = text.split("## §2")[1].split("## §3")[0]
    survey_keys = set()
    for line in sec2.splitlines():
        m = re.match(r"\| [A-D]\d+ \| `([a-z0-9_]+)`", line)
        if m:
            survey_keys.add(m.group(1))
    registered = set(QUERIES)
    missing_rows = registered - survey_keys
    dead_rows = survey_keys - registered
    assert not missing_rows, f"registered but absent from SURVEY §2: {sorted(missing_rows)}"
    assert not dead_rows, f"SURVEY §2 rows with no registered query: {sorted(dead_rows)}"


def test_operator_index_matches_registry():
    """docs/OPERATORS.md is generated from the registry — row count must
    match so the index can't go stale silently."""
    import re

    import uforwarder_spark  # noqa: F401
    from uforwarder_spark.registry import QUERIES

    rows = re.findall(r"^\| `([a-z0-9_]+)` \|", open("docs/OPERATORS.md").read(), re.M)
    assert sorted(rows) == sorted(QUERIES)


def test_streaming_state_goes_through_the_versioned_helpers():
    """Outside the versioned-state helpers, no pipeline starts its own
    query, reads batch N-1 by path, or writes a single-writer table: the
    replay contract lives in one place (``_commit``) and cannot drift
    per pipeline. Whitespace is ignored so a wrapped call still counts."""
    import ast
    import inspect

    from uforwarder_spark.streaming import pipelines

    helpers = {"_path", "_prev", "_merge", "_commit", "_read_pages", "_start"}
    src = inspect.getsource(pipelines)
    lines = src.splitlines()
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef) and node.name in helpers:
            for i in range(node.lineno - 1, node.end_lineno):
                lines[i] = ""
    assert all(h in vars(pipelines) for h in helpers)
    rest = "".join("\n".join(lines).split())
    for banned in (
        "trigger(availableNow=True)",
        "batch_id={batch_id-1}",
        "coalesce(1).write",
    ):
        assert banned not in rest, f"{banned!r} outside the state helpers"


def test_constant_tables_go_through_local_table():
    """The package builds small constant tables only with
    ``model.local_table`` (an in-plan LocalRelation): createDataFrame over
    a Python list parallelizes it, one job of defaultParallelism Python
    tasks per action over a handful of rows."""
    import pathlib

    root = pathlib.Path(uforwarder_spark.__file__).parent
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert not hits, hits


def test_env_options_inventory():
    """The package reads exactly two environment options: the session
    sizing pair. No environment variable selects a code path. A new
    SPARK_GRAFT_* switch is a new untested code path, so it has to be
    added here on purpose."""
    import pathlib
    import re

    root = pathlib.Path(uforwarder_spark.__file__).parent
    names = {
        m
        for p in root.rglob("*.py")
        for m in re.findall(r"SPARK_GRAFT_([A-Z_]+)", p.read_text())
    }
    assert names == {"CPUS", "DRIVER_MEM"}
