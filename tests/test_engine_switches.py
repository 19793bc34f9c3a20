"""Switch-creep guard: the package has no user-settable engine switch.

Kernel-vs-distributed choices are size gates on module constants (README
§ "Kernel gates"), not session confs, and the only environment variables
the package reads are deployment settings.  A new ``spark.graft.*`` conf
or a new environment knob fails here."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
_KEY = re.compile(r"spark\.graft\.\w+")
#: Deployment settings: core count, data directory, driver heap.
_DEPLOYMENT_ENV = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_DRIVER_MEM"}


def _package_trees():
    for path in sorted((ROOT / "datafusion_parallelism_spark").rglob("*.py")):
        yield path, ast.parse(path.read_text())


def _is_os_environ(node):
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree):
    """Names passed to ``os.environ.get``, ``os.getenv`` or ``os.environ[...]``
    (a non-literal name is reported as ``None``)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if (f.attr == "get" and _is_os_environ(f.value)) or (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                arg = node.args[0] if node.args else None
                yield arg.value if isinstance(arg, ast.Constant) else None
        elif isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            key = node.slice
            yield key.value if isinstance(key, ast.Constant) else None


def test_package_reads_no_engine_switch():
    trees = list(_package_trees())
    keys = [
        (path.name, node.value)
        for path, tree in trees
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _KEY.fullmatch(node.value)
    ]
    assert keys == [], keys
    env = {
        (path.name, name)
        for path, tree in trees
        for name in _env_reads(tree)
        if name not in _DEPLOYMENT_ENV
    }
    assert env == set(), env
