"""Clone guard: no two function bodies in the package are copies.

Two bodies are copies when their ASTs match once every name and
constant is masked and the docstring is dropped — a renamed copy with
different literals still matches. Nested functions count on their own.
Bodies under MIN_NODES AST nodes (a few statements) are left alone:
short helpers and thin query wrappers legitimately look alike.
"""

import ast
import copy
from collections import defaultdict
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "aws_etl_pipeline_spark"
MIN_NODES = 60


class _Mask(ast.NodeTransformer):
    def visit_Name(self, node: ast.Name) -> ast.Name:
        return ast.Name(id="_", ctx=node.ctx)

    def visit_arg(self, node: ast.arg) -> ast.arg:
        return ast.arg(arg="_")

    def visit_Constant(self, node: ast.Constant) -> ast.Constant:
        return ast.Constant(value=None)

    def visit_FunctionDef(self, node: ast.FunctionDef) -> ast.FunctionDef:
        node.name = "_"
        return self.generic_visit(node)


def _masked_body(fn: ast.FunctionDef) -> ast.Module:
    body = fn.body
    first = body[0]
    if (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Constant)
        and isinstance(first.value.value, str)
    ):
        body = body[1:]
    return _Mask().visit(ast.Module(body=copy.deepcopy(body), type_ignores=[]))


def clone_groups(root: Path = PKG) -> list[list[str]]:
    """Groups of two or more functions under ``root`` whose masked
    bodies of at least MIN_NODES nodes are identical."""
    groups = defaultdict(list)
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = _masked_body(node)
            if sum(1 for _ in ast.walk(body)) - 1 >= MIN_NODES:
                where = f"{path.relative_to(root.parent)}:{node.lineno} {node.name}"
                groups[ast.dump(body)].append(where)
    return [g for g in groups.values() if len(g) > 1]


def test_no_cloned_function_bodies():
    assert clone_groups() == []
