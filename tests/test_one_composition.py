"""One composition per ER stage: the scoring, linking, typing, guard and
protocol operators are called only by pipeline.py's shared builders
(and inside their own modules), so no executor composes those stages by
hand again."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMPOSER = "refined_spark/pipeline.py"
# operator -> the module that defines it
OWNED = {
    "with_candidate_logits": "refined_spark/operators/scoring.py",
    "links_from_logits": "refined_spark/operators/scoring.py",
    "et_confidence_table": "refined_spark/operators/entity_typing.py",
    "assert_extraction_contract": "refined_spark/operators/extract.py",
    "sampled_html_col": "refined_spark/operators/extract.py",
    "check_protocol": COMPOSER,
}


def _sources() -> list[str]:
    paths = ["bench.py", "__spark_entry__.py"]
    for top in ("refined_spark", "tools"):
        for root, _, files in os.walk(os.path.join(REPO, top)):
            paths += [os.path.relpath(os.path.join(root, f), REPO)
                      for f in files if f.endswith(".py")]
    return paths


def _calls(path: str) -> list[tuple[str, int]]:
    with open(os.path.join(REPO, path)) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = (fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None)
            if name in OWNED:
                out.append((name, node.lineno))
    return out


def test_stage_operators_called_only_by_the_builders():
    strays = [f"{path}:{line} {name}" for path in _sources()
              for name, line in _calls(path)
              if path not in (COMPOSER, OWNED[name])]
    assert not strays, strays
    # non-vacuous: the builders do call every one of them
    assert {name for name, _ in _calls(COMPOSER)} == set(OWNED)
