"""Every package module and function must be reachable from an entry point.

Two static walks with ``ast``, neither with an allowlist; a lane that
should stay must be wired into an entry point.

- Modules: a walk of the package's import graph.  It starts from the
  files a user or the benchmark actually runs (the driver contract, the
  bench, the CLI, perfbench and the tools) and follows ``import`` /
  ``from ... import`` statements anywhere in a file, including those
  inside functions.
- Functions: a walk of names.  A top-level package function or class is
  reached when reached code names it; its body then counts as reached
  code too.  Tests never count.

Whatever no walk reaches is dead code: only its own tests keep it alive.
Two more gates keep prose honest: every module path and every dotted
``module.name`` that code, help text or tooling names must exist.
"""

from __future__ import annotations

import ast
import functools
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "proyecto_gasto_publico_etl_per__spark"

#: what a user or the benchmark runs: the roots of both walks
ENTRY_FILES = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / PKG / "cli.py",
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


_IDENT = re.compile(r"[A-Za-z_]\w*\Z")


def _names(nodes: list[ast.AST]) -> set[str]:
    """Every identifier the code names: a ``Name``, an attribute, or a
    string that is a bare identifier (``getattr``, lookup tables keyed
    by function name)."""
    out: set[str] = set()
    for node in nodes:
        for x in ast.walk(node):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif isinstance(x, ast.Constant) and isinstance(x.value, str):
                if _IDENT.match(x.value):
                    out.add(x.value)
    return out


def _is_register(decorator: ast.expr) -> bool:
    """``@register(...)``: the decorator that declares a query."""
    f = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (isinstance(f, ast.Name) and f.id == "register") or (
        isinstance(f, ast.Attribute) and f.attr == "register"
    )


def _is_all(st: ast.stmt) -> bool:
    """An assignment to the module's ``__all__``."""
    targets = st.targets if isinstance(st, ast.Assign) else (
        [st.target] if isinstance(st, (ast.AnnAssign, ast.AugAssign)) else []
    )
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _unreached_defs(root_files: list[Path], root: Path) -> list[str]:
    """``module.name`` of each top-level package function or class that
    no reached code names.

    Reached from the start: the root files, every package module's
    statements outside its top-level functions and classes (they run on
    import), decorator expressions, and the bodies of ``@register``
    queries.  A def named by reached code is reached, and the names in
    its body then count too, up to a fixpoint: a name used only inside
    an unreached function does not keep anything alive.  A module's
    ``__all__`` reaches nothing: re-exporting a name is not calling it.
    """
    reached: set[str] = set()
    defs: dict[tuple[str, str], set[str]] = {}
    for path in root_files:
        reached |= _names([ast.parse(path.read_text(encoding="utf-8"))])
    for mod, path in sorted(_package_modules(root).items()):
        if path in root_files:
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for st in tree.body:
            if _is_all(st):
                continue
            if not isinstance(
                st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                reached |= _names([st])
                continue
            reached |= _names(st.decorator_list)
            body = _names(
                [n for n in ast.iter_child_nodes(st)
                 if n not in st.decorator_list]
            )
            if any(_is_register(d) for d in st.decorator_list):
                reached |= body
            else:
                defs[(mod.removeprefix(f"{PKG}."), st.name)] = body
    grew = True
    while grew:
        grew = False
        for (_, name), body in defs.items():
            if name in reached and not body <= reached:
                reached |= body
                grew = True
    return sorted(f"{m}.{n}" for m, n in defs if n not in reached)


def test_function_walk_on_toy_package(tmp_path):
    """The function walk's own contract: a def named only inside an
    unreached def stays unreached (transitivity), an ``@register`` query
    is a root whose helpers are reached, attribute, string and
    module-level references count, and ``__all__`` does not."""
    pkg = tmp_path / PKG
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "q.py").write_text(
        "from .reg import register\n"
        "@register('declared name')\n"
        "def q1():\n    return helper()\n"
        "def helper():\n    return 1\n"
        "def dead():\n    return only_dead()\n"
        "def only_dead():\n    return 2\n"
        "TABLE = {'x': by_table}\n"
        "def by_table():\n    return 3\n"
    )
    (pkg / "reg.py").write_text(
        "def register(name):\n    return lambda f: f\n"
    )
    (pkg / "m.py").write_text(
        "def by_attr():\n    pass\n"
        "def by_string():\n    pass\n"
        "__all__ = ['by_all']\n"
        "def by_all():\n    pass\n"
        "class Unused:\n    def method(self):\n        return by_attr()\n"
    )
    entry = tmp_path / "main.py"
    entry.write_text(
        f"from {PKG} import m\n"
        "m.by_attr()\n"
        "getattr(m, 'by_string')()\n"
    )
    assert _unreached_defs([entry], tmp_path) == [
        "m.Unused", "m.by_all", "q.dead", "q.only_dead",
    ]


def test_every_package_function_is_reachable():
    unreached = _unreached_defs(ENTRY_FILES, ROOT)
    assert not unreached, (
        "package functions or classes that no entry point reaches (delete "
        "them with their tests, or wire them into an entry point): "
        + ", ".join(unreached)
    )


#: a package module path as prose and tooling name it
_MODULE_PATH = re.compile(
    r"\b(operators|sources|plans|streaming|functions)/(\w+)\.py\b"
)


def _scanned_files() -> list[Path]:
    """The package, tools, perfbench and the bench: every file whose text
    may point a reader at a module."""
    files = [ROOT / "bench.py"]
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


#: a dotted name as prose names it: ``incremental.session_window_agg``
_DOTTED = re.compile(r"\b[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+")

#: a dotted name ending in one of these names a file, not a module member
_FILE_SUFFIXES = {"py", "md", "json", "txt", "parquet", "csv", "sql"}


def _prose(path: Path) -> list[tuple[int, str]]:
    """(line, text) of each comment and string literal line of a Python
    file: its docstrings, comments and help text.  A literal without
    whitespace is a key (a span or metric label such as
    ``"plans.build_s"``), not prose, and is skipped."""
    literal = {tokenize.STRING, getattr(tokenize, "FSTRING_MIDDLE", -1)}
    out = []
    text = path.read_text(encoding="utf-8")
    for tok in tokenize.generate_tokens(io.StringIO(text).readline):
        if tok.type in literal:
            if not any(c.isspace() for c in tok.string):
                continue
        elif tok.type != tokenize.COMMENT:
            continue
        out += [
            (tok.start[0] + i, line)
            for i, line in enumerate(tok.string.splitlines())
        ]
    return out


@functools.cache
def _top_level_names(path: Path) -> set[str]:
    """Names a module binds at top level: defs, classes, assignments and
    imports, also under a top-level ``if``/``try``."""
    names: set[str] = set()
    todo = list(ast.parse(path.read_text(encoding="utf-8")).body)
    while todo:
        st = todo.pop()
        if isinstance(
            st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            names.add(st.name)
        elif isinstance(st, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            names.update(
                x.id for t in targets for x in ast.walk(t)
                if isinstance(x, ast.Name)
            )
        elif isinstance(st, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in st.names
            )
        elif isinstance(st, (ast.If, ast.Try)):
            todo += st.body + st.orelse + getattr(st, "finalbody", [])
            todo += [s for h in getattr(st, "handlers", []) for s in h.body]
    return names


def _stale_dotted_names(files: list[Path], root: Path) -> list[str]:
    """``file:line: name`` for each dotted ``module.name`` the files' prose
    names whose module exists but binds no such name at top level.

    The module part is the full dotted name under the package (with or
    without the package prefix) or a module's short name, its last part
    (``dedup.dup_span_scrub``); the longest prefix that is a module
    counts.  A dotted name whose head is no package module is not a
    pointer into the package and is not checked."""
    mods = {
        name.removeprefix(PKG).removeprefix("."): path
        for name, path in _package_modules(root).items()
    }
    short: dict[str, list[str]] = {}
    for name in mods:
        if name:
            short.setdefault(name.rsplit(".", 1)[-1], []).append(name)
    stale = []
    for path in files:
        for lineno, line in _prose(path):
            for m in _DOTTED.finditer(line):
                parts = m.group(0).split(".")
                if parts[0] == PKG:
                    parts = parts[1:]
                heads = (
                    [parts[0]] if parts[0] in mods else short.get(parts[0], [])
                )
                for i in range(len(parts), 0, -1):
                    found = [".".join([h, *parts[1:i]]) for h in heads]
                    found = [f for f in found if f in mods]
                    if found:
                        break
                else:
                    continue
                if i == len(parts) or parts[i] in _FILE_SUFFIXES:
                    continue
                if not any(parts[i] in _top_level_names(mods[f]) for f in found):
                    rel = path.relative_to(root)
                    stale.append(f"{rel}:{lineno}: {m.group(0)}")
    return stale


def test_stale_dotted_gate_on_toy_tree(tmp_path):
    """The dotted gate's own contract: a member the module binds passes by
    full or short module name, a missing one is reported with its file
    and line, and file names, bare-key literals and names outside the
    package are not checked."""
    (tmp_path / PKG / "operators").mkdir(parents=True)
    (tmp_path / PKG / "__init__.py").write_text("")
    (tmp_path / PKG / "operators" / "__init__.py").write_text("")
    (tmp_path / PKG / "operators" / "kept.py").write_text(
        "def f():\n    pass\nX = 1\n"
    )
    notes = tmp_path / "notes.py"
    notes.write_text(
        '"""Use ``operators.kept.f`` or ``kept.X``; see kept.py."""\n'
        "# and kept.gone, json.dumps\n"
        'LABEL = "kept.label"\n'
        f'HELP = "see {PKG}.operators.kept.missing"\n'
    )
    assert _stale_dotted_names([notes], tmp_path) == [
        "notes.py:2: kept.gone",
        f"notes.py:4: {PKG}.operators.kept.missing",
    ]


def test_named_module_paths_exist():
    """A deleted module or function must leave no pointer behind in code
    or tooling: every ``operators|sources|plans|streaming|functions``
    path they name has a file in the package, and every
    dotted ``module.name`` the Python files' prose names is bound by that
    module."""
    files = _scanned_files()
    stale = _stale_module_paths(files, ROOT)
    assert not stale, "paths to modules that do not exist:\n" + "\n".join(stale)
    stale = _stale_dotted_names([f for f in files if f.suffix == ".py"], ROOT)
    assert not stale, "names no module binds:\n" + "\n".join(stale)
