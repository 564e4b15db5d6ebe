"""Reference guard: every top-level public function and class in the
package is referenced somewhere outside its own definition. Code that
nothing calls is deleted, not maintained, and this keeps it from coming
back. The search covers the package, `bench.py`, `__spark_entry__.py`,
`perfbench/`, `tests/` and `tools/`. A reference is a name, an attribute
or a string constant that is exactly the identifier (`getattr`,
`monkeypatch.setattr`); an import alone does not count."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "kafka_streams_learning_spark"
SEARCHED = (
    PACKAGE, ROOT / "bench.py", ROOT / "__spark_entry__.py",
    ROOT / "perfbench", ROOT / "tests", ROOT / "tools",
)
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.add(n.value)
    return out


def test_every_public_package_definition_is_referenced():
    files = [
        f for p in SEARCHED
        for f in ([p] if p.is_file() else sorted(p.rglob("*.py")))
    ]
    defined: dict[str, Path] = {}
    referenced: set[str] = set()
    for f in files:
        tree = ast.parse(f.read_text(), str(f))
        for node in tree.body:
            if isinstance(node, _DEFS):
                if f.is_relative_to(PACKAGE) and not node.name.startswith("_"):
                    defined[node.name] = f
                # a definition's own body does not count as a use of itself
                referenced |= _names(node) - {node.name}
            else:
                referenced |= _names(node)
    unused = sorted(
        f"{path.relative_to(ROOT)}:{name}"
        for name, path in defined.items() if name not in referenced
    )
    assert not unused, f"defined but referenced nowhere: {unused}"
