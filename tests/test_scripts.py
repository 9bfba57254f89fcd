"""The kept scripts still import what they name, and the docs cite only
scripts that exist.

No Spark session: each script's source is parsed with `ast`, and every
import of a repo-local module (the package, `__spark_entry__`, `bench` or
a sibling script) is resolved by name.  A rename in the package
otherwise leaves a script broken until someone next runs it by hand.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
SCRIPT_FILES = sorted(glob.glob(os.path.join(SCRIPTS, "*.py"))) + [
    os.path.join(REPO, "bench.py")
]
LOCAL_ROOTS = {"ontology_pipeline_spark", "__spark_entry__", "bench"} | {
    os.path.splitext(os.path.basename(p))[0] for p in SCRIPT_FILES
}
DOCS = [
    os.path.join(REPO, name)
    for name in ("README.md", "CLAUDE.md", "PLANS.md", "COVERAGE.md")
] + sorted(glob.glob(os.path.join(REPO, "BENCH", "*.md")))


def _local_imports(path: str) -> list[tuple[str, str | None]]:
    """(module, name) for every repo-local import in `path`; name is None
    for a plain `import module`."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [
                (a.name, None) for a in node.names if a.name.split(".")[0] in LOCAL_ROOTS
            ]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] in LOCAL_ROOTS:
                out += [(node.module, a.name) for a in node.names]
    return out


@pytest.mark.parametrize(
    "path", SCRIPT_FILES, ids=[os.path.relpath(p, REPO) for p in SCRIPT_FILES]
)
def test_script_imports_resolve(path, monkeypatch):
    monkeypatch.syspath_prepend(SCRIPTS)
    monkeypatch.syspath_prepend(REPO)
    missing = []
    for module, name in _local_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        if not (hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}")):
            missing.append(f"{module}.{name}")
    assert not missing, f"{os.path.relpath(path, REPO)} imports missing names: {missing}"


def test_docs_cite_only_existing_scripts():
    stale = []
    for doc in DOCS:
        with open(doc) as f:
            for lineno, line in enumerate(f, 1):
                if "Historical" in line:
                    continue
                for name in re.findall(r"scripts/(\w+\.py)", line):
                    if not os.path.exists(os.path.join(SCRIPTS, name)):
                        stale.append(f"{os.path.relpath(doc, REPO)}:{lineno} scripts/{name}")
    assert not stale, f"docs cite deleted scripts outside a Historical line: {stale}"
