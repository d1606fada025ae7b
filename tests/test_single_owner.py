"""One owner per decision, enforced over the package's AST.

* How a pipeline starts (snapshot mode, full load, stream) is decided in
  `plans/snapshot.py` only: no other module compares against a mode name.
* Every per-engine fact is its engine's record in `sources/dialects.py`:
  no other module compares against an engine or alias name or keys a
  dict by one (`queries/` is exempt: its fixture rows name engines).
* Temporary directories come from `tempdirs.scratch_dir` only, which
  removes them when the process exits."""

import ast
import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "cdc_application_febuary_spark"
MODE_NAMES = {"cdc_only", "full_load_only", "full_load_and_cdc"}
ENGINE_NAMES = {
    "postgresql", "sqlserver", "oracle", "db2", "as400", "snowflake", "s3",
    "derby", "mssql", "ibm_i",
}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text())


def _literals(node):
    """String constants a comparison operand names, itself or in a
    tuple/list/set (``x in ("a", "b")``)."""
    elts = node.elts if isinstance(node, (ast.Tuple, ast.List, ast.Set)) else [node]
    return {e.value for e in elts if isinstance(e, ast.Constant) and isinstance(e.value, str)}


def _sites(tree, names, dict_keys):
    """Line of each comparison against one of ``names``, and (with
    ``dict_keys``) of each dict literal keyed by one."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare):
            if any(_literals(o) & names for o in [node.left, *node.comparators]):
                yield node.lineno
        elif dict_keys and isinstance(node, ast.Dict):
            if any(k is not None and _literals(k) & names for k in node.keys):
                yield node.lineno


def test_only_plans_snapshot_decides_how_a_pipeline_starts():
    found = [
        f"{rel}:{line}"
        for rel, tree in _modules()
        if rel != "plans/snapshot.py"
        for line in _sites(tree, MODE_NAMES, dict_keys=False)
    ]
    assert found == [], (
        "compare against a pipeline mode outside plans/snapshot.py "
        f"(read the StreamStartPlan instead): {found}"
    )


def test_only_sources_dialects_names_an_engine():
    found = [
        f"{rel}:{line}"
        for rel, tree in _modules()
        if rel != "sources/dialects.py" and not rel.startswith("queries/")
        for line in _sites(tree, ENGINE_NAMES, dict_keys=True)
    ]
    assert found == [], (
        "engine or alias name compared against or used as a dict key "
        f"outside sources/dialects.py (read the engine's record): {found}"
    )


def test_engine_names_are_the_dialect_table():
    from cdc_application_febuary_spark.sources.dialects import ALIASES, DIALECTS

    assert ENGINE_NAMES == set(DIALECTS) | set(ALIASES)


def test_only_the_helper_makes_temp_dirs():
    found = []
    for rel, tree in _modules():
        if rel == "tempdirs.py":
            continue
        for node in ast.walk(tree):
            if (isinstance(node, ast.Attribute) and node.attr == "mkdtemp") or (
                isinstance(node, ast.ImportFrom)
                and node.module == "tempfile"
                and any(a.name == "mkdtemp" for a in node.names)
            ):
                found.append(f"{rel}:{node.lineno}")
    assert found == [], f"use tempdirs.scratch_dir, not tempfile.mkdtemp: {found}"


def test_scratch_dir_is_removed_when_the_process_exits():
    """The dir exists (and is writable) while the process runs and is gone
    once the process exits."""
    script = textwrap.dedent(
        """
        import os
        from cdc_application_febuary_spark.tempdirs import scratch_dir

        p = scratch_dir("cdc_scratch_test_")
        with open(os.path.join(p, "f"), "w") as fh:
            fh.write("x")
        print(p)
        """
    )
    path = subprocess.run(
        [sys.executable, "-c", script],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    ).stdout.strip()
    assert Path(path).name.startswith("cdc_scratch_test_")
    assert not Path(path).exists()
