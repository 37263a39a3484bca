"""The package holds production paths only: every top-level function and
class in it has a caller outside ``tests/`` (the package itself,
``__spark_entry__.py``, ``bench.py``, ``scripts/`` or ``perfbench/``),
or a stated reason to stay on :data:`ALLOWED`. Helpers that only tests
import live under ``tests/`` (``plumbing.py``, ``specs.py``). No module
of the package, ``tests/``, ``scripts/``, ``bench.py`` or
``__spark_entry__.py`` imports a name it never reads."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "adaptive_pdf_extractor_spark"

# name -> why it stays although only tests call it
ALLOWED = {
    "segment_blocks": "text-block segmentation, a layout stage the north star names",
    "read_pdf_corpus": "batched PDF byte-stream parsing, which the north star names",
    "load_pdf_text": "the single-file decode of that PDF byte-stream source",
    "streaming_minhash_neardup": "carries invariant 8 (every state version id is written)",
    "streaming_exact_dedup": "streaming dedup family of invariant 8, pinned beside it",
    "streaming_decontaminate": "streaming dedup family of invariant 8, pinned beside it",
    "decontaminate_keys": "builds the eval key set streaming_decontaminate takes",
    "synth_rows": "the in-repo corpus behind the learned-rules fixture",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _caller_files() -> list[Path]:
    files = list(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("scripts", "perfbench"):
        files += (ROOT / d).rglob("*.py")
    return files


def _names_used(node: ast.AST) -> set[str]:
    used = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            used.add(n.id)
        elif isinstance(n, ast.Attribute):
            used.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            used.update(a.name for a in n.names)
    return used


def _unreferenced() -> dict[str, str]:
    """Top-level package definitions no caller file names, mapped to
    their module; a definition's own body does not count as a caller."""
    defs = {}
    for path in PACKAGE.rglob("*.py"):
        for n in ast.parse(path.read_text()).body:
            if isinstance(n, _DEFS):
                defs[n.name] = str(path.relative_to(PACKAGE))
    used = set()
    for path in _caller_files():
        for top in ast.parse(path.read_text()).body:
            names = _names_used(top)
            if isinstance(top, _DEFS):
                names.discard(top.name)
            used |= names
    return {name: mod for name, mod in defs.items() if name not in used}


def test_package_has_no_test_only_code():
    dead = _unreferenced()
    unexplained = {n: m for n, m in dead.items() if n not in ALLOWED}
    assert not unexplained, (
        f"only tests reach {unexplained}: give each a production caller, "
        "move it under tests/, or delete it"
    )
    # an entry that gained a caller or is gone must leave the list
    stale = set(ALLOWED) - set(dead)
    assert not stale, stale


_SCOPES = (ast.FunctionDef, ast.AsyncFunctionDef)


def _bound_imports(scope: ast.AST):
    """(name, line) of each import binding made directly in ``scope``,
    not in a function nested in it; ``__future__`` imports bind nothing."""
    todo = list(ast.iter_child_nodes(scope))
    while todo:
        n = todo.pop()
        if isinstance(n, ast.Import):
            for a in n.names:
                yield a.asname or a.name.split(".")[0], n.lineno
        elif isinstance(n, ast.ImportFrom) and n.module != "__future__":
            for a in n.names:
                yield a.asname or a.name, n.lineno
        elif not isinstance(n, _SCOPES):
            todo.extend(ast.iter_child_nodes(n))


def _unread_imports(path: Path) -> list[str]:
    """``path:line name`` for each import binding that no ``Name`` in its
    scope reads: the module, or the function holding the import, nested
    functions included. Matched by name, like the scan above."""
    tree = ast.parse(path.read_text())
    out = []
    for scope in [tree, *(n for n in ast.walk(tree) if isinstance(n, _SCOPES))]:
        read = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        out += [
            f"{path.relative_to(ROOT)}:{line} {name}"
            for name, line in _bound_imports(scope)
            if name not in read
        ]
    return out


def test_every_import_is_read():
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "tests").rglob("*.py")]
    files += [*(ROOT / "scripts").rglob("*.py")]
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    unread = [u for path in sorted(files) for u in _unread_imports(path)]
    assert not unread, unread
