"""The package holds only code that a key, a tool or the benchmark runs.

Every top-level def, class and assigned name in ``zonal_datacube_spark/``
must be referenced outside its own definition from the package,
``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. Tests
do not count: a helper only tests use lives in ``tests/``. A reference is
an AST name load, an attribute name, an imported name, or a dotted
identifier string (the registry's module paths, ``getattr`` names); a
decorated definition counts as referenced by its decorator.

The only exemptions are the ``REFEREES``: reference implementations that a
test compares a key's own formulation against. Each entry names that test.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "zonal_datacube_spark"

REFEREES = {
    "functions/kmeans.py:kmeans_fit_distributed": (
        "tests/test_kmeans.py::test_sample_fit_matches_distributed_fit_on_fixture"
    ),
    "functions/pq.py:pq_encode_joins": (
        "tests/test_pq_ann.py::test_pq_encode_kernel_matches_join_formulation"
    ),
    "functions/udfs.py:zonal_trimmed_mean": (
        "tests/test_functions.py::test_relational_keys_match_pandas_kernels"
    ),
    "functions/udfs.py:per_group_zscore": (
        "tests/test_functions.py::test_relational_keys_match_pandas_kernels"
    ),
    "operators/dedup.py:_er_fuzzy_naive": (
        "tests/test_analytics_ext_er.py::test_grain_fold_matches_row_grain_on_fixture"
    ),
}

_DOTTED = re.compile(r"[A-Za-z_][\w.:]*")


def _scope() -> list[Path]:
    return [
        *sorted(PACKAGE.rglob("*.py")),
        *sorted((REPO / "tools").rglob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]


def _definitions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node


def _references(tree: ast.Module):
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.ImportFrom):
            for alias in n.names:
                yield alias.name, n.lineno
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if _DOTTED.fullmatch(n.value):
                for part in re.split(r"[.:]", n.value):
                    yield part, n.lineno


def _unreferenced() -> set[str]:
    """``<module path under the package>:<name>`` of every top-level
    definition nothing in scope references outside its own span."""
    defs = []
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path in _scope():
        tree = ast.parse(path.read_text(), str(path))
        if path.is_relative_to(PACKAGE):
            defs += [(path, name, node) for name, node in _definitions(tree)]
        for name, line in _references(tree):
            refs.setdefault(name, []).append((path, line))
    return {
        f"{path.relative_to(PACKAGE).as_posix()}:{name}"
        for path, name, node in defs
        if all(
            p == path and node.lineno <= line <= node.end_lineno
            for p, line in refs.get(name, [])
        )
    }


def test_every_package_name_has_a_non_test_caller():
    unused = sorted(_unreferenced() - set(REFEREES))
    assert unused == [], (
        "package names that no key, tool or benchmark references — delete "
        "them, or move them into tests/ if only tests use them: "
        f"{unused}"
    )


def test_each_referee_is_exempt_only_while_its_test_uses_it():
    unreferenced = _unreferenced()
    for entry, test_id in REFEREES.items():
        name = entry.split(":")[1]
        assert entry in unreferenced, (
            f"{entry} now has a non-test caller; drop it from REFEREES"
        )
        test_file, test_name = test_id.split("::")
        tree = ast.parse((REPO / test_file).read_text())
        funcs = {
            n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
        }
        assert test_name in funcs, f"{test_id} (referee of {entry}) does not exist"
        called = {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(funcs[test_name])
            if isinstance(n, (ast.Name, ast.Attribute))
        }
        assert name in called, f"{test_id} does not use its referee {name}"
