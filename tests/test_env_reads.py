"""The package reads only its deployment settings from the environment:
no operator behaviour hangs on an environment variable."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEPLOYMENT_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CHECKPOINT_DIR"}


def _env_name(node: ast.AST) -> str | None:
    """The variable name of an ``os.environ[...]``, ``os.environ.get(...)``
    or ``os.getenv(...)`` read; "?" when the name is not a literal."""
    def is_environ(n: ast.AST) -> bool:
        return isinstance(n, ast.Attribute) and n.attr == "environ"

    def literal(n: ast.AST | None) -> str:
        return n.value if isinstance(n, ast.Constant) and isinstance(n.value, str) else "?"

    if isinstance(node, ast.Subscript) and is_environ(node.value):
        return literal(node.slice)
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        f = node.func
        if (f.attr == "get" and is_environ(f.value)) or f.attr == "getenv":
            return literal(node.args[0] if node.args else None)
    return None


def test_env_reads_are_the_deployment_settings():
    root = os.path.join(REPO, "grapefruit_spark")
    names: dict[str, list[str]] = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p) as fh:
                    tree = ast.parse(fh.read(), p)
                for node in ast.walk(tree):
                    name = _env_name(node)
                    if name is not None:
                        names.setdefault(name, []).append(os.path.relpath(p, REPO))
    assert set(names) == DEPLOYMENT_SETTINGS, names
