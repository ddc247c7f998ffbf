"""Dead-code guard: every top-level function, class and constant in
``kg/`` is read somewhere in the program — ``kg/``, ``tools/``,
``perfbench/`` (its self-tests excluded), ``bench.py`` or
``bench_extra.py``. A name only the tests read is dead production
code: delete it, or move it into the tests as a reference."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: names read only by tests on purpose, each with its reason
ALLOWED = {
    "__version__": "package metadata, read by packaging tools",
    "contract.DRIVER_WINDOW": "the driver's evaluation window; "
                              "test_contract checks driver_order "
                              "against it",
}

#: modules whose definitions are declarations, read by name elsewhere
EXEMPT_MODULES = {"schemas"}


def _program_files() -> list[Path]:
    files = [p for d in ("kg", "tools", "perfbench")
             for p in (ROOT / d).rglob("*.py")
             if "tests" not in p.relative_to(ROOT).parts]
    return files + [ROOT / "bench.py", ROOT / "bench_extra.py"]


def _reads(tree: ast.AST) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            out.update(a.name for a in node.names)
    return out


def _is_contract_entry(node: ast.AST) -> bool:
    return any(isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
               and d.func.id == "q" for d in node.decorator_list)


def _definitions(path: Path, tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            if not _is_contract_entry(node):
                names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            names += [t.id for t in targets if isinstance(t, ast.Name)
                      and t.id != "__all__"]
    return names


def test_every_kg_definition_is_read_outside_the_tests():
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _program_files()}
    read = set().union(*(_reads(t) for t in trees.values()))
    unread = []
    for path, tree in trees.items():
        if path.parts[len(ROOT.parts)] != "kg" or path.stem in EXEMPT_MODULES:
            continue
        for name in _definitions(path, tree):
            key = name if name.startswith("__") else f"{path.stem}.{name}"
            if name not in read and key not in ALLOWED:
                unread.append(f"{path.relative_to(ROOT)}: {name}")
    assert not unread, "read nowhere outside the tests:\n" + "\n".join(unread)
