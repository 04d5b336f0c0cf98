"""Bench tooling, pure-Python — no Spark session.

- bench_compare ambient annotation (VERDICT r14 #4): committed sweep
  records carry loadavg markers; the comparator must annotate both
  records and flag a contaminated sweep so a band point can never read
  as a floor regression.
- tools/ab.py: the spread rule, and the alternating two-tree protocol
  driven against stub trees.
- every default smoke-output record the tools write is git-ignored.
"""

from __future__ import annotations

import ast
import fnmatch
import json
import re
import shutil
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from bench_compare import ambient_note  # noqa: E402
from tools import ab  # noqa: E402
from tools.ab import SpreadError, arm_spread_violation, assert_sane_walls  # noqa: E402


def test_ambient_note_flags_contaminated_sweep():
    rec = {
        "loadavg_start": [80.0, 40.0, 20.0],
        "loadavg_end": [33.0, 35.0, 30.0],
        "ncpu": 32,
    }
    note = ambient_note(rec, "new")
    assert "CONTAMINATED" in note
    assert "80.0" in note


def test_ambient_note_clean_sweep_not_flagged():
    # the sweep itself drives load up to ~ncpu; that is NOT contamination
    rec = {
        "loadavg_start": [31.5, 20.0, 10.0],
        "loadavg_end": [40.0, 33.0, 25.0],
        "ncpu": 32,
    }
    note = ambient_note(rec, "old")
    assert "CONTAMINATED" not in note
    assert "loadavg start" in note


def test_ambient_note_pre_r15_records_annotate_unknown():
    assert "unknown" in ambient_note({"queries": {}}, "old")


def test_spread_rule_rejects_wide_and_monotone_decay():
    """tools/ab (VERDICT r17 #9): the degree_census trap — a
    monotone-decaying arm or a >1.5x spread must refuse the record."""
    # the actual r17 degree_census walls — both arms must be rejected
    assert arm_spread_violation([17.29, 15.93, 8.73])  # monotone decay + spread
    assert arm_spread_violation([21.07, 8.24, 7.33])  # spread 2.87x
    # a sane series passes
    assert arm_spread_violation([16.4, 14.2, 14.8]) is None
    # decay below the threshold passes (ordinary warm-up drift)
    assert arm_spread_violation([10.0, 9.5, 9.2]) is None
    with pytest.raises(SpreadError):
        assert_sane_walls({"a": [16.4, 14.2, 14.8], "b": [21.07, 8.24, 7.33]})
    assert_sane_walls({"a": [16.4, 14.2, 14.8], "b": [22.3, 18.6, 23.1]})


def test_tools_never_patch_package_modules():
    """An A/B arm is a checkout, not a run-time patch: no tools/*.py may
    assign to an attribute of an imported mapreduce_system_spark module
    (``fresh6._X = ...``), which is how module-global experiment flags
    were flipped."""
    offenders = []
    for path in sorted((REPO / "tools").glob("*.py")):
        tree = ast.parse(path.read_text())
        modules = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "mapreduce_system_spark"
            ):
                modules |= {a.asname or a.name for a in node.names}
            elif isinstance(node, ast.Import):
                modules |= {
                    (a.asname or a.name).split(".")[0]
                    for a in node.names
                    if a.name.startswith("mapreduce_system_spark")
                }
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            else:
                continue
            for t in targets:
                while isinstance(t, ast.Attribute):
                    if isinstance(t.value, ast.Name) and t.value.id in modules:
                        offenders.append(f"{path.name}:{node.lineno}")
                    t = t.value
    assert not offenders, offenders


def test_tools_import_no_private_names_from_queries():
    """Tools use what queries export, not their internals."""
    offenders = []
    for path in sorted((REPO / "tools").glob("*.py")):
        tree = ast.parse(path.read_text())
        query_mods = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "mapreduce_system_spark.queries"
            ):
                for a in node.names:
                    if a.name.startswith("_"):
                        offenders.append(f"{path.name}: {node.module}.{a.name}")
                    if node.module == "mapreduce_system_spark.queries":
                        query_mods.add(a.asname or a.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in query_mods
                and node.attr.startswith("_")
            ):
                offenders.append(f"{path.name}: {node.value.id}.{node.attr}")
    assert not offenders, offenders


# transformWithStateInPandas is left out on purpose: PySpark's driver-side
# TWS runner unpickles the processor without the shipped package, so it
# must ship by value (tests/test_pyfiles.py pins that).
_WORKER_APIS = {
    "mapInPandas",
    "mapInArrow",
    "applyInPandas",
    "applyInPandasWithState",
    "pandas_udf",
}


def _callee_name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def test_worker_functions_are_importable():
    """Every function the package hands to a Python-worker API pickles by
    reference, so the worker imports the package (and its zip directory
    cache, see pyfiles): the first argument is a module-level name or a
    ``functools.partial`` of one — never a nested ``def``, a lambda or a
    factory's closure."""
    offenders = []
    for path in sorted((REPO / "mapreduce_system_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        where = f"{path.relative_to(REPO)}"
        top: set[str] = set()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                top.add(node.name)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                top |= {(a.asname or a.name).split(".")[0] for a in node.names}

        def importable(arg: ast.expr) -> bool:
            if isinstance(arg, ast.Call) and _callee_name(arg.func) == "partial":
                arg = arg.args[0] if arg.args else arg
            return isinstance(arg, ast.Name) and arg.id in top

        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node not in tree.body:
                for dec in node.decorator_list:
                    target = dec.func if isinstance(dec, ast.Call) else dec
                    if _callee_name(target) == "pandas_udf":
                        offenders.append(f"{where}:{node.lineno} @pandas_udf on nested {node.name}")
            if not isinstance(node, ast.Call):
                continue
            api = _callee_name(node.func)
            if isinstance(node.func, ast.Call) and _callee_name(node.func.func) == "pandas_udf":
                api = "pandas_udf"  # pandas_udf("type")(fn)
            elif api not in _WORKER_APIS:
                continue
            args = node.args or [k.value for k in node.keywords if k.arg in ("f", "func")]
            if not args or (api == "pandas_udf" and isinstance(args[0], ast.Constant)):
                continue  # the decorator form, checked on the def above
            if not importable(args[0]):
                offenders.append(f"{where}:{node.lineno} {api}({ast.unparse(args[0])})")
    assert not offenders, offenders


def _stub_tree(root: Path, name: str, walls: list[float], verify_rc: int = 0) -> Path:
    """A checkout whose bench.py prints the next of ``walls`` and whose
    tools/verify_local.py exits ``verify_rc``; both log to root/log."""
    tree = root / name
    (tree / "tools").mkdir(parents=True)
    log = root / "log"
    (tree / "bench.py").write_text(
        "import json, pathlib, sys\n"
        f"log = pathlib.Path({str(log)!r})\n"
        f"n = log.read_text().split().count('bench:{name}') if log.exists() else 0\n"
        f"log.open('a').write('bench:{name} ')\n"
        f"walls = {walls!r}\n"
        "print('# progress noise')\n"
        "print(json.dumps({'value': walls[n], 'failures': 0, 'sf': 0.1,"
        " 'queries': {q: walls[n] for q in sys.argv[1:]}}))\n"
    )
    (tree / "tools" / "verify_local.py").write_text(
        "import pathlib, sys\n"
        f"pathlib.Path({str(log)!r}).open('a').write("
        f"'verify:{name}:' + ','.join(sys.argv[2:]) + ' ')\n"
        f"sys.exit({verify_rc})\n"
    )
    return tree


def _ab(tmp_path: Path, a: Path, b: Path, pairs: int) -> tuple[int, Path, list[str]]:
    out = tmp_path / "rec.json"
    rc = ab.main(
        ["--a", str(a), "--b", str(b), "--pairs", str(pairs), "--out", str(out), "q1"]
    )
    log = tmp_path / "log"
    return rc, out, log.read_text().split() if log.exists() else []


def test_ab_alternates_first_arm_and_records_both_arms(tmp_path):
    a = _stub_tree(tmp_path, "a", [10.0, 10.4, 10.2, 10.1])
    b = _stub_tree(tmp_path, "b", [9.0, 9.5, 8.9, 9.2])
    rc, out, log = _ab(tmp_path, a, b, pairs=4)
    assert rc == 0
    assert log[:2] == ["verify:a:q1", "verify:b:q1"]
    assert log[2:] == [
        "bench:a", "bench:b", "bench:b", "bench:a",
        "bench:a", "bench:b", "bench:b", "bench:a",
    ]
    rec = json.loads(out.read_text())
    assert rec["walls"] == {"a": [10.0, 10.4, 10.2, 10.1], "b": [9.0, 9.5, 8.9, 9.2]}
    assert rec["median_a_s"] == 10.15
    assert rec["median_b_s"] == 9.1
    assert rec["b_over_a"] == round(9.1 / 10.15, 3)
    assert rec["b_wins"] == 4
    assert rec["queries"] == ["q1"] and rec["pairs"] == 4
    assert rec["ncpu"] and len(rec["loadavg_start"]) == len(rec["loadavg_end"]) == 3
    assert rec["a"] == ab.tree_digest(a) and rec["b"] == ab.tree_digest(b)
    assert rec["a"] != rec["b"]
    text = out.read_text()
    assert str(tmp_path) not in text and '"/' not in text  # no absolute path


def test_tree_digest_names_the_code_not_the_checkout(tmp_path):
    a = _stub_tree(tmp_path, "a", [1.0])
    (a / "mapreduce_system_spark" / "sub").mkdir(parents=True)
    (a / "mapreduce_system_spark" / "sub" / "m.py").write_text("X = 1\n")
    (a / "mapreduce_system_spark" / "notes.txt").write_text("not code\n")
    copy = tmp_path / "elsewhere" / "copy"
    shutil.copytree(a, copy)
    assert ab.tree_digest(copy) == ab.tree_digest(a)
    (copy / "mapreduce_system_spark" / "notes.txt").write_text("changed\n")
    assert ab.tree_digest(copy) == ab.tree_digest(a)
    (copy / "mapreduce_system_spark" / "sub" / "m.py").write_text("X = 2\n")
    assert ab.tree_digest(copy) != ab.tree_digest(a)
    shutil.copy(a / "mapreduce_system_spark" / "sub" / "m.py", copy / "mapreduce_system_spark" / "sub")
    assert ab.tree_digest(copy) == ab.tree_digest(a)
    (copy / "bench.py").write_bytes((a / "bench.py").read_bytes() + b" ")
    assert ab.tree_digest(copy) != ab.tree_digest(a)


def test_ab_spread_violation_exits_3_without_record(tmp_path):
    a = _stub_tree(tmp_path, "a", [10.0, 10.2, 10.1])
    b = _stub_tree(tmp_path, "b", [9.0, 16.0, 9.1])
    rc, out, log = _ab(tmp_path, a, b, pairs=3)
    assert rc == 3
    assert not out.exists()
    assert log.count("bench:a") == log.count("bench:b") == 3


@pytest.mark.parametrize("failing", ["a", "b"])
def test_ab_failing_oracle_gate_aborts_before_timing(tmp_path, failing):
    a = _stub_tree(tmp_path, "a", [1.0], verify_rc=int(failing == "a"))
    b = _stub_tree(tmp_path, "b", [1.0], verify_rc=int(failing == "b"))
    rc, out, log = _ab(tmp_path, a, b, pairs=2)
    assert rc != 0
    assert not out.exists()
    assert not [e for e in log if e.startswith("bench:")]


def _gitignored(path: str, patterns: list[str]) -> bool:
    """``path`` (repo-relative) matches a .gitignore pattern: one with a
    slash anchors at the root, one without matches the file name."""
    return any(
        fnmatch.fnmatchcase(path if "/" in p else path.rsplit("/", 1)[-1], p)
        for p in patterns
    )


def test_smoke_outputs_are_git_ignored():
    """A smoke run never dirties the tree: every record name bench.py,
    tools/verify_local.py and tools/scale_probe.py write by default
    (``latest*.json``, ``verify_full_latest.json``, the probe's
    ``*_latest.json``) lands on a git-ignored path under bench_runs/."""
    names = set()
    for tool in ["bench.py", "tools/verify_local.py", "tools/scale_probe.py"]:
        names |= set(re.findall(r'"(\w*latest\w*\.json)"', (REPO / tool).read_text()))
    assert {"latest.json", "latest_partial.json", "verify_full_latest.json",
            "scale_probe_latest.json", "sf1_manifest_latest.json"} <= names
    patterns = [
        line.strip()
        for line in (REPO / ".gitignore").read_text().splitlines()
        if line.strip() and not line.startswith("#")
    ]
    assert sorted(n for n in names if not _gitignored(f"bench_runs/{n}", patterns)) == []
