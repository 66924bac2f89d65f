"""The environment variables the package reads are its deployment
settings and nothing more: a tuning knob is a module constant that a
test may monkeypatch, not an undocumented environment variable."""

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "language_detection_spark"

DEPLOYMENT_SETTINGS = {
    "LANGDETECT_PROFILE_DIR",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEM",
    "SPARK_GRAFT_SF_ORACLE",
}


def _env_reads(tree) -> tuple[set, list]:
    """Names read through ``os.environ`` / ``os.getenv`` with a literal
    key, and every other use of either (an alias, a computed key)."""
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    names, other = set(), []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            other += [a.name for a in node.names
                      if a.name in ("environ", "getenv")]
        if not (isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"):
            continue
        use = parent[node]
        if node.attr == "environ" and isinstance(use, ast.Attribute):
            use = parent[use]                  # os.environ.get(...) etc.
        key = None
        if isinstance(use, ast.Call) and use.args:
            key = use.args[0]
        elif isinstance(use, ast.Subscript):
            key = use.slice
        elif isinstance(use, ast.Compare):
            key = use.left
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            names.add(key.value)
        else:
            other.append(ast.unparse(use))
    return names, other


def test_package_reads_only_deployment_settings():
    names, other = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        n, o = _env_reads(ast.parse(path.read_text(), str(path)))
        names |= n
        other += [f"{path.relative_to(PACKAGE)}: {x}" for x in o]
    assert other == []
    assert names == DEPLOYMENT_SETTINGS
