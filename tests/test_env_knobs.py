"""Configuration-surface guard: the package reads only its three
deployment settings from the environment, plus PYTHONPATH, which
``webr.session`` extends so Python workers can import ``webr``. Tuning
values are module constants; a new env knob fails here."""

import ast
import pathlib

ALLOWED = {"WEBR_MASTER", "WEBR_SHUFFLE_PARTITIONS", "WEBR_DRIVER_MEM",
           "PYTHONPATH"}
PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "webr"


def _env_keys(tree: ast.AST):
    """Yield (line, key) for every ``os.environ`` / ``os.getenv`` use;
    key is None when it is not a string literal (e.g. ``dict(os.environ)``
    or ``from os import environ``)."""
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for a in node.names:
                if a.name in ("environ", "getenv", "*"):
                    yield node.lineno, None
        if not (isinstance(node, ast.Attribute)
                and node.attr in ("environ", "getenv")):
            continue
        up = parent[node]
        if isinstance(up, ast.Attribute):   # os.environ.get / .setdefault
            up = parent[up]
        key = None
        if isinstance(up, ast.Subscript):
            key = up.slice
        elif isinstance(up, ast.Call) and up.args and up.args[0] is not node:
            key = up.args[0]
        yield node.lineno, (key.value if isinstance(key, ast.Constant)
                            else None)


def test_package_reads_only_deployment_env():
    seen, bad = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        for line, key in _env_keys(ast.parse(path.read_text())):
            seen.add(key)
            if key not in ALLOWED:
                bad.append(f"{path.relative_to(PACKAGE.parent)}:{line} "
                           f"{key or '<non-literal>'}")
    assert not bad, "env reads outside the allowed set:\n" + "\n".join(bad)
    assert ALLOWED <= seen    # the scan itself found the known reads
