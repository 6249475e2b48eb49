"""Every script under ``scripts/`` must be live: named by the tests,
``bench.py``, ``perfbench/``, the package, the verify skill, or by
another live script. A one-off harness whose result is written up
belongs in PERF_NOTES, not in ``scripts/``. Every package name a script
imports must still exist. No Spark session needed."""

from __future__ import annotations

import importlib
import importlib.util
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((ROOT / "scripts").glob("*.py"))
ROOTS = [
    "tests",
    "bench.py",
    "perfbench",
    "streamforge_data_pipeline_spark",
    ".claude/skills/verify/SKILL.md",
]
IMPORT = re.compile(
    r"from\s+(streamforge_data_pipeline_spark[\w.]*)\s+import\s+"
    r"(\([^)]*\)|[^\n]+)"
)


def _texts(rel: str) -> list[str]:
    path = ROOT / rel
    files = [path] if path.is_file() else [*path.rglob("*.py"), *path.rglob("*.md")]
    return [f.read_text() for f in files if f != Path(__file__).resolve()]


def test_every_script_is_named_by_something_live():
    live = [t for rel in ROOTS for t in _texts(rel)]
    pending = {p.stem: p.read_text() for p in SCRIPTS}
    found = True
    while found:  # a script named by a live script is live too
        found = [s for s in pending if any(re.search(rf"\b{s}\b", t) for t in live)]
        live += [pending.pop(s) for s in found]
    assert not pending, f"scripts nothing runs or names: {sorted(pending)}"


def _resolves(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    try:  # a submodule is an attribute only once imported
        return importlib.util.find_spec(f"{module}.{name}") is not None
    except ModuleNotFoundError:  # ``module`` is not a package
        return False


def test_script_imports_from_the_package_resolve():
    missing = []
    for path in SCRIPTS:
        for module, names in IMPORT.findall(path.read_text()):
            for item in re.sub(r"#.*", "", names).strip(" ()").split(","):
                name = item.split(" as ")[0].strip()
                if name and not _resolves(module, name):
                    missing.append(f"{path.stem}: {module}.{name}")
    assert not missing
