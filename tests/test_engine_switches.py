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


#: A row of README's "Kernel gates" table: `module.CONSTANT` | default |.
_GATE_ROW = re.compile(r"\| `([\w.]+)` \| ([\d,]+) \|")


def _readme_gates():
    """``{dotted constant: default}`` from README's "Kernel gates" table."""
    text = (ROOT / "README.md").read_text()
    section = text.split("### Kernel gates", 1)[1].split("\n#", 1)[0]
    rows = [line for line in section.splitlines() if line.startswith("| `")]
    gates = {}
    for line in rows:
        m = _GATE_ROW.match(line)
        assert m, f"unparsed Kernel gates row: {line[:80]}"
        gates[m.group(1)] = int(m.group(2).replace(",", ""))
    return gates


def test_readme_kernel_gates_match_the_code():
    """Each constant in README's "Kernel gates" table resolves to a module
    attribute equal to its listed default, and every ceiling the package
    passes to ``kernel_fits`` has a row."""
    import importlib

    gates = _readme_gates()
    assert gates
    for dotted, default in gates.items():
        module, _, attr = dotted.rpartition(".")
        mod = importlib.import_module(f"datafusion_parallelism_spark.{module}")
        assert getattr(mod, attr) == default, dotted
    ceilings = {
        node.args[1].id
        for _, tree in _package_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "kernel_fits"
        and len(node.args) == 2
        and isinstance(node.args[1], ast.Name)
    }
    assert ceilings, "no kernel_fits call found"
    assert ceilings <= {g.rpartition(".")[2] for g in gates}, ceilings
