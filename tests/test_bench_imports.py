"""The benchmark's import surface: every ``from refined_spark... import X``
in perfbench/run.py must resolve, or a benchmark run ends in
``run_failed`` instead of a number."""

import ast
import importlib
import os

RUN_PY = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                      "perfbench", "run.py")


def test_perfbench_engine_imports_resolve():
    with open(RUN_PY) as f:
        tree = ast.parse(f.read(), RUN_PY)
    imports = [(node.module, alias.name)
               for node in ast.walk(tree)
               if isinstance(node, ast.ImportFrom) and node.module
               and node.module.split(".")[0] == "refined_spark"
               for alias in node.names]
    assert len(imports) > 10
    missing = [f"{mod}.{name}" for mod, name in imports
               if not hasattr(importlib.import_module(mod), name)]
    assert not missing, missing
