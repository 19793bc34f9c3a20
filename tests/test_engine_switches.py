"""Switch-creep guard: the ``spark.graft.*`` confs the package reads are
exactly the keys README § "Engine switches" documents.  A new switch, or
a deleted one still documented, fails here."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
_KEY = re.compile(r"spark\.graft\.(\w+)")


def _package_keys():
    """Keys of every string literal that is exactly a ``spark.graft.*``
    conf name (docstrings and comments that mention one do not count)."""
    keys = set()
    for path in (ROOT / "datafusion_parallelism_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                m = _KEY.fullmatch(node.value)
                if m:
                    keys.add(m.group(1))
    return keys


def _readme_keys():
    text = (ROOT / "README.md").read_text()
    section = text.split("### Engine switches", 1)[1].split("\n#", 1)[0]
    return set(re.findall(r"^\| `(\w+)` \|", section, re.M))


def test_engine_switches_match_readme():
    assert _package_keys() == _readme_keys()
