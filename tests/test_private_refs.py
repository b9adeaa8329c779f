"""Guard against dead code in the package.

Every module-level private function and every private method defined in
``trafilatura_spark/`` must be referenced somewhere in the package: by
name, as an attribute, in an import, or as a whole string constant (the
form ``getattr`` and the tracer's dotted specs use).  A private helper
that nothing references is a second code path nobody runs, so it fails
this test instead of drifting away from the path that does run.

Every module-level public function must likewise be referenced outside
its own body somewhere in the repository's Python: the package, the
entry module, ``bench.py``, ``scripts/``, ``perfbench/`` or ``tests/``.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "trafilatura_spark"


def _is_private(name: str) -> bool:
    return name.startswith("_") and not (name.startswith("__")
                                         and name.endswith("__"))


def _private_defs(tree: ast.Module) -> list[tuple[str, int]]:
    defs = []
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    for node in tree.body:
        if isinstance(node, funcs) and _is_private(node.name):
            defs.append((node.name, node.lineno))
        elif isinstance(node, ast.ClassDef):
            defs.extend((f.name, f.lineno) for f in node.body
                        if isinstance(f, funcs) and _is_private(f.name))
    return defs


def _walk_except(tree: ast.AST, skip: ast.AST | None):
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        yield node
        stack.extend(ast.iter_child_nodes(node))


def _references(tree: ast.Module, skip: ast.AST | None = None) -> set[str]:
    refs = set()
    for node in _walk_except(tree, skip):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.add(node.value)
    return refs


def test_every_private_function_is_referenced():
    modules = {p: ast.parse(p.read_text(), str(p))
               for p in sorted(PKG.rglob("*.py"))}
    assert len(modules) > 30
    refs = set().union(*(_references(t) for t in modules.values()))
    unreferenced = [f"{p.relative_to(PKG.parent)}:{line} {name}"
                    for p, tree in modules.items()
                    for name, line in _private_defs(tree)
                    if name not in refs]
    assert not unreferenced, "unreferenced private code:\n" + \
        "\n".join(unreferenced)


def _repo_python() -> dict[pathlib.Path, ast.Module]:
    paths = [*PKG.rglob("*.py"), ROOT / "__spark_entry__.py",
             ROOT / "bench.py", *(ROOT / "scripts").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py"),
             *(ROOT / "tests").rglob("*.py")]
    return {p: ast.parse(p.read_text(), str(p)) for p in sorted(paths)}


def test_every_public_function_is_referenced():
    modules = _repo_python()
    refs = {p: _references(t) for p, t in modules.items()}
    unreferenced = []
    for path, tree in modules.items():
        if PKG not in path.parents:
            continue
        others = set().union(*(r for p, r in refs.items() if p != path))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    or _is_private(node.name) or node.name in others:
                continue
            if node.name not in _references(tree, skip=node):
                unreferenced.append(
                    f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not unreferenced, "unreferenced public functions:\n" + \
        "\n".join(unreferenced)
