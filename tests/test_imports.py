"""Every import of the package resolves, wherever it is written.

Many imports in the package and its callers sit inside functions, so an
ordinary import or test-collection pass never executes them: one left
pointing at a deleted module or name only fails when its code path runs.
This walks the syntax tree of each file instead and resolves every
``import`` / ``from ... import`` that names the package, nested ones
included."""

from __future__ import annotations

import ast
import importlib
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "amazon_textract_transformer_pipeline_spark"
FILES = sorted([
    *(ROOT / PKG).rglob("*.py"),
    *(ROOT / "tests").rglob("*.py"),
    *(ROOT / "perfbench").rglob("*.py"),
    *(ROOT / "scripts").rglob("*.py"),
    ROOT / "__spark_entry__.py",
])


def _package_imports(path: Path, source: str):
    """(line, module, names) per import of the package in ``source``;
    ``names`` is empty for a plain ``import``. Relative imports are made
    absolute against the file's place in the package."""
    parts = path.relative_to(ROOT).with_suffix("").parts[:-1]
    for node in ast.walk(ast.parse(source, str(path))):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = parts[:len(parts) - node.level + 1]
                module = ".".join([*base, *filter(None, [node.module])])
            else:
                module = node.module or ""
            if module.split(".")[0] == PKG:
                yield (node.lineno, module,
                       [a.name for a in node.names if a.name != "*"])


def _unresolved(path: Path, source: str) -> list[str]:
    bad = []
    for line, module, names in _package_imports(path, source):
        where = f"{path.relative_to(ROOT)}:{line}"
        try:
            mod = importlib.import_module(module)
        except ImportError as e:
            bad.append(f"{where}: {module} ({e})")
            continue
        for name in names:
            if hasattr(mod, name):
                continue
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                bad.append(f"{where}: {module}.{name}")
    return bad


def test_every_package_import_resolves():
    n = sum(1 for f in FILES for _ in _package_imports(f, f.read_text()))
    assert n > 100, n
    bad = [b for f in FILES for b in _unresolved(f, f.read_text())]
    assert not bad, "\n".join(bad)


def test_nested_dangling_import_is_reported():
    """The scan sees imports inside function bodies, relative ones too."""
    path = ROOT / PKG / "operators" / "probe.py"
    src = ("def f():\n"
           "    from ..operators import gone_module\n"
           "    from .fused import extract_documents, gone_name\n")
    assert _unresolved(path, src) == [
        f"{PKG}/operators/probe.py:2: {PKG}.operators.gone_module",
        f"{PKG}/operators/probe.py:3: {PKG}.operators.fused.gone_name",
    ]


#: Package modules no entry point imports, each kept for a stated reason.
#: The ratchet below holds the unreached set equal to these keys: a module
#: that falls out of reach fails it, and so does a deleted one until its
#: entry goes, so the set only shrinks.
KNOWN_UNREACHED = {
    "functions.codecs": "still-image codecs, to be deleted (ROADMAP 4(b))",
    "functions.jpeg": "still-image codecs, to be deleted (ROADMAP 4(b))",
    "operators.seq2seq": "the reference's value normalization "
                         "(util/normalize.py), not yet wired into the kernel "
                         "(ROADMAP 2(c), 4(e))",
}
ENTRY_POINTS = [
    ROOT / PKG / "plans" / "pipeline.py",
    ROOT / PKG / "plans" / "lineage.py",
    ROOT / PKG / "streaming" / "extract_stream.py",
    ROOT / PKG / "session.py",
    ROOT / "scripts" / "extract_job.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def _module_file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _reached(roots: list[Path]) -> set[str]:
    """Package modules in the import closure of ``roots``, nested imports
    included. Importing ``a.b.c`` runs ``a`` and ``a.b`` too, and
    ``from a import b`` reaches ``a.b`` when that is a module."""
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        path = todo.pop()
        for _, module, names in _package_imports(path, path.read_text()):
            parts = module.split(".")
            mods = [".".join(parts[:i]) for i in range(1, len(parts) + 1)]
            mods += [f"{module}.{n}" for n in names]
            for mod in mods:
                if mod not in seen and (f := _module_file(mod)):
                    seen.add(mod)
                    todo.append(f)
    return seen


def test_unreached_modules_are_the_known_ones():
    """North star: no module stays that neither the entry points nor the
    stated contract reach."""
    every = {".".join(p.relative_to(ROOT).with_suffix("").parts)
             for p in (ROOT / PKG).rglob("*.py")}
    every = {m.removesuffix(".__init__") for m in every}
    unreached = {m.removeprefix(PKG + ".")
                 for m in every - _reached(ENTRY_POINTS)}
    assert unreached == set(KNOWN_UNREACHED)


#: Top-level package names nothing references, each kept for a stated
#: reason. Like ``KNOWN_UNREACHED``, the ratchet below holds the uncalled
#: set equal to these keys, so it only shrinks.
KNOWN_UNCALLED = {
    "operators.enrich.model_predictions": "the real-model path (needs "
                                          "transformers); it moves into the "
                                          "kernel's forward path "
                                          "(ROADMAP 5(a))",
}


def _identifiers(tree: ast.AST):
    """Every identifier ``tree`` mentions: names, attributes, import
    aliases and identifier-shaped string constants (``__all__``,
    ``getattr`` keys, registries keyed by name)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield from node.name.split(".")
            if node.asname:
                yield node.asname
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            yield node.value


def _top_level_defs(module: ast.Module):
    """(name, node) per top-level ``def``, ``class`` and assigned name."""
    for node in module.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                        yield n.id, node


def _uncalled(files: list[Path]) -> set[str]:
    """``module.name`` per top-level package name that no file mentions
    outside the name's own definition. Dunder names (``__version__``) are
    read by tools, not by code, and are left out."""
    trees = {f: ast.parse(f.read_text(), str(f)) for f in files}
    seen = Counter(i for t in trees.values() for i in _identifiers(t))
    out = set()
    for f, tree in trees.items():
        if f.relative_to(ROOT).parts[0] != PKG:
            continue
        module = ".".join(f.relative_to(ROOT / PKG).with_suffix("").parts)
        for name, node in _top_level_defs(tree):
            if name.startswith("__"):
                continue
            if seen[name] == sum(1 for i in _identifiers(node) if i == name):
                out.add(f"{module}.{name}")
    return out


def test_uncalled_names_are_the_known_ones():
    """A top-level name nothing references is dead code; deleting a
    caller must take its helpers with it."""
    assert _uncalled(FILES) == set(KNOWN_UNCALLED)
