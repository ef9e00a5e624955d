"""Every package module must be reachable from an entry point.

A static walk of the package's import graph with ``ast``: it starts from
the files a user or the benchmark actually runs (the driver contract, the
bench, the CLI, the paper's ETL pipeline, perfbench and the tools) and
follows ``import`` / ``from ... import`` statements anywhere in a file,
including those inside functions.  A module that no walk reaches is dead
code: only its own tests keep it alive.  There is no allowlist; a lane
that should stay must be wired into an entry point.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "proyecto_gasto_publico_etl_per__spark"

ENTRY_FILES = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / PKG / "cli.py",
    ROOT / PKG / "plans" / "mef_pipeline.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    *sorted((ROOT / "tools").glob("*.py")),
]


def _module_name(path: Path, root: Path) -> tuple[str, bool]:
    """(dotted name, is-package) of a ``.py`` file under ``root``."""
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        return ".".join(parts[:-1]), True
    return ".".join(parts), False


def _package_modules(root: Path) -> dict[str, Path]:
    """Dotted module name → file, for every ``.py`` file in the package."""
    return {_module_name(p, root)[0]: p for p in (root / PKG).rglob("*.py")}


def _imported_names(path: Path, root: Path) -> set[str]:
    """Every dotted name a file imports, anywhere in its body.

    Relative imports resolve against the file's package.  ``from X import
    y`` yields both ``X`` and ``X.y``: ``y`` may be a submodule or an
    attribute, and names that are not modules are dropped by the caller.
    """
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    base: list[str] = []
    if path.is_relative_to(root / PKG):
        name, is_pkg = _module_name(path, root)
        base = name.split(".") if is_pkg else name.split(".")[:-1]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                if node.level - 1 >= len(base):
                    continue  # climbs out of the package
                anchor = base[: len(base) - (node.level - 1)]
                mod = ".".join(anchor + ([mod] if mod else []))
            out.add(mod)
            out.update(f"{mod}.{alias.name}" for alias in node.names)
    return out


def _reached(entry_files: list[Path], root: Path) -> set[str]:
    mods = _package_modules(root)
    reached = {
        _module_name(p, root)[0]
        for p in entry_files
        if p.is_relative_to(root / PKG)
    }
    todo = list(entry_files)
    while todo:
        for name in _imported_names(todo.pop(), root):
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in mods and dotted not in reached:
                    reached.add(dotted)
                    todo.append(mods[dotted])
    return reached


def test_walker_on_toy_package(tmp_path):
    """The walker's own contract: a relative import made inside a function
    is followed, a package ``__init__`` counts as reached through its
    submodule, and a module nothing imports is reported."""
    pkg = tmp_path / PKG
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "sub" / "a.py").write_text("def f():\n    from ..b import g\n")
    (pkg / "b.py").write_text("from .sub import a\n")
    (pkg / "dead.py").write_text("")
    entry = tmp_path / "main.py"
    entry.write_text(f"from {PKG}.sub.a import f\n")
    mods = set(_package_modules(tmp_path))
    reached = _reached([entry], tmp_path)
    assert mods - reached == {f"{PKG}.dead"}


def test_every_package_module_is_reachable():
    unreached = sorted(set(_package_modules(ROOT)) - _reached(ENTRY_FILES, ROOT))
    assert not unreached, (
        "package modules no entry point imports (delete them, or wire "
        "them into an entry point): " + ", ".join(unreached)
    )


#: a package module path as prose and tooling name it
_MODULE_PATH = re.compile(
    r"\b(operators|sources|plans|streaming|functions)/(\w+)\.py\b"
)


def _scanned_files() -> list[Path]:
    """The package, tools, perfbench, the bench and the optional
    requirements: every file whose text may point a reader at a module."""
    files = [ROOT / "bench.py", ROOT / "requirements-optional.txt"]
    for top in (ROOT / PKG, ROOT / "tools", ROOT / "perfbench"):
        files += [
            p for p in sorted(top.rglob("*"))
            if p.is_file() and "__pycache__" not in p.parts
        ]
    return files


def _stale_module_paths(files: list[Path], root: Path) -> list[str]:
    """``file:line: path`` for each module path the files name that has
    no file in the package."""
    stale = []
    for path in files:
        text = path.read_text(encoding="utf-8", errors="replace")
        for lineno, line in enumerate(text.splitlines(), 1):
            for m in _MODULE_PATH.finditer(line):
                if not (root / PKG / m.group(1) / f"{m.group(2)}.py").is_file():
                    rel = path.relative_to(root)
                    stale.append(f"{rel}:{lineno}: {m.group(0)}")
    return stale


def test_stale_path_gate_on_toy_tree(tmp_path):
    """The gate's own contract: a named module that exists passes, one
    that does not is reported with its file and line."""
    (tmp_path / PKG / "operators").mkdir(parents=True)
    (tmp_path / PKG / "operators" / "kept.py").write_text("")
    notes = tmp_path / "notes.txt"
    notes.write_text("see operators/kept.py\nand operators/gone.py\n")
    assert _stale_module_paths([notes], tmp_path) == [
        "notes.txt:2: operators/gone.py"
    ]


def test_named_module_paths_exist():
    """A deleted module must leave no pointer behind in code, tooling or
    requirements: every ``operators|sources|plans|streaming|functions``
    path they name has a file in the package."""
    stale = _stale_module_paths(_scanned_files(), ROOT)
    assert not stale, "paths to modules that do not exist:\n" + "\n".join(stale)
