"""Plan layout guards: every registered key lives in the family module its
name prefix selects, plans/ holds exactly those family modules, the rest
of the package never imports the registry, and no test file is named by
round (the ones already split into family test files are listed).

The prefix → family table lives only here. Adding a key with a new prefix
means adding the prefix to one family below (or a new family module).
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

from etl_cnpjs_spark.plans import QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "etl_cnpjs_spark")
PLANS_DIR = os.path.join(PKG_DIR, "plans")

FAMILIES = {
    "relational": (
        "flagship", "filter", "project", "sort", "set", "reshape", "sql",
        "join", "window",
    ),
    "agg": ("agg",),
    "events": ("events", "cdc"),
    "text": ("text", "doc"),
    "functions": ("fn", "udf", "udaf", "udtf"),
    "dedup": ("dedup",),
    "corpus": ("corpus", "sample"),
    "similarity": ("sim", "embedding"),
    "graph": ("graph",),
    "multimodal": ("mm",),
    "io": ("scan", "sink", "source", "layout"),
    "streaming": ("stream",),
    "tpch": ("tpch",),
    "dq": ("dq", "profile"),
    "cnpj_parity": ("cnpj",),
}
FAMILY_OF = {p: fam for fam, prefixes in FAMILIES.items() for p in prefixes}


def _plan_modules() -> set[str]:
    return {
        f[:-3]
        for f in os.listdir(PLANS_DIR)
        if f.endswith(".py") and f not in ("__init__.py", "registry.py")
    }


def test_every_key_lives_in_its_family_module():
    wrong = {}
    for key, spec in QUERIES.items():
        fam = FAMILY_OF.get(key.split("_")[0])
        want = f"etl_cnpjs_spark.plans.{fam}"
        if spec.fn.__module__ != want:
            wrong[key] = (spec.fn.__module__, want)
    assert not wrong, wrong


def test_no_round_numbered_plan_modules():
    numbered = sorted(m for m in _plan_modules() if m[-1].isdigit())
    assert not numbered, numbered


def test_plan_modules_are_exactly_the_families():
    registering = {spec.fn.__module__.rsplit(".", 1)[1] for spec in QUERIES.values()}
    assert _plan_modules() == registering == set(FAMILIES)


def _imports_of(path: str, pkg: str) -> set[str]:
    """Absolute names of every module `path` (a file of package `pkg`)
    imports, at any depth."""
    out = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def test_library_outside_plans_never_imports_plans():
    offenders = []
    for dirpath, _dirs, files in os.walk(PKG_DIR):
        if os.path.abspath(dirpath).startswith(PLANS_DIR):
            continue
        pkg = os.path.relpath(dirpath, ROOT).replace(os.sep, ".")
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            hits = sorted(
                m
                for m in _imports_of(path, pkg)
                if m == "etl_cnpjs_spark.plans" or m.startswith("etl_cnpjs_spark.plans.")
            )
            if hits:
                offenders.append((os.path.relpath(path, ROOT), hits))
    assert not offenders, offenders


def test_streaming_library_import_leaves_registry_unloaded():
    code = (
        "import sys\n"
        "import etl_cnpjs_spark.streaming.stateful\n"
        "print(sorted(m for m in sys.modules if m.startswith('etl_cnpjs_spark.plans')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
        timeout=120,
    )
    assert out.stdout.strip() == "[]", out.stdout


# Round-named test files whose tests now live in family test files
# (tests/test_<family>.py).
MOVED_ROUND_TEST_FILES = (
    "test_adversarial_r7.py",
    "test_adversarial_r8.py",
    "test_adversarial_r9.py",
    "test_extended14.py",
)


def test_moved_round_test_files_stay_gone():
    present = [f for f in MOVED_ROUND_TEST_FILES if os.path.exists(os.path.join(ROOT, "tests", f))]
    assert not present, present
    round_named = sorted(
        f
        for f in os.listdir(os.path.join(ROOT, "tests"))
        if re.fullmatch(r"test_extended.*\.py|test_.*_r\d+.*\.py", f)
    )
    assert not round_named, round_named
