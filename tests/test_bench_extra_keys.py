"""bench_extra.py times the registry in bench_registry.py, while the
frozen bench.py keeps its own literal ``queries`` dict. The two must
name the same queries, or bench_extra's per-query figures stop joining
with bench.py's. No Spark session is needed: bench.py is only parsed."""

import ast
import os

import bench_registry

BENCH_PY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
)


def _bench_query_keys() -> set[str]:
    tree = ast.parse(open(BENCH_PY).read())
    dicts = [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "queries" for t in node.targets)
        and isinstance(node.value, ast.Dict)
    ]
    assert len(dicts) == 1, "bench.py must hold exactly one queries dict"
    return {k.value for k in dicts[0].keys}


def test_bench_extra_registry_matches_bench_py():
    assert _bench_query_keys() == {"extract_turns"} | set(bench_registry.FRAMES)
