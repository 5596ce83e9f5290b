"""Guard against environment-variable knobs in the library.

The build DAG takes its behaviour from its arguments; only the session
factory reads the environment, and only for deployment settings (cores,
heap, JVM options, scratch dir, event log, extra Spark conf). Parsed with
``ast``, so no Spark session is started.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "kgspark"

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS", "KGSPARK_DRIVER_MEM", "KGSPARK_JAVA_OPTS",
    "KGSPARK_LOCAL_DIR", "KGSPARK_EVENTLOG", "KGSPARK_EXTRA_CONF",
}


def _literal(node):
    return node.value if isinstance(node, ast.Constant) else None


def _env_reads(tree) -> list[tuple[int, str | None]]:
    """(line, variable name) for every ``os.environ`` / ``os.getenv`` use;
    the name is None unless it is a literal key (``os.environ[k]``,
    ``os.environ.get(k)``, ``os.getenv(k)``)."""
    parent = {id(c): p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    reads = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            reads += [(node.lineno, None) for a in node.names
                      if a.name in ("environ", "getenv")]
        if not (isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")
                and isinstance(node.value, ast.Name) and node.value.id == "os"):
            continue
        up = parent.get(id(node))
        key = None
        if isinstance(up, ast.Subscript):
            key = _literal(up.slice)
        elif node.attr == "environ" and isinstance(up, ast.Attribute):
            call = parent.get(id(up))
            if isinstance(call, ast.Call) and call.args:
                key = _literal(call.args[0])
        elif isinstance(up, ast.Call) and up.args:
            key = _literal(up.args[0])
        reads.append((node.lineno, key))
    return reads


def test_only_session_reads_deployment_settings():
    found = {}
    for path in sorted(PKG.glob("*.py")):
        reads = _env_reads(ast.parse(path.read_text(), filename=str(path)))
        if reads:
            found[path.name] = reads
    others = {name: r for name, r in found.items() if name != "session.py"}
    assert not others, f"environment read outside session.py: {others}"
    keys = {key for _, key in found.get("session.py", [])}
    assert keys and keys <= DEPLOYMENT_SETTINGS, \
        f"session.py reads non-deployment settings: {keys - DEPLOYMENT_SETTINGS}"
