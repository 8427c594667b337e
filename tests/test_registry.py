"""The query registry is consistent without running Spark: every query has
an oracle twin, OPERATORS.md indexes exactly the registered rows, and its
"no entry point reaches them" row names exactly the package modules that
the entry points do not import."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import __spark_entry__ as entry_mod

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_operators_md_lists_exactly_the_queries():
    with open(os.path.join(_ROOT, "OPERATORS.md")) as f:
        listed = re.findall(r"^\| `(\w+)` \|", f.read(), re.M)
    assert len(listed) == len(set(listed)), "a row is listed twice"
    assert set(listed) == set(entry_mod.queries())


# the package's entry points, and the modules the driver and benchmark
# import besides them
_ENTRY_MODULES = ["gencore_spark", "gencore_spark.session",
                  "gencore_spark.fixtures", "gencore_spark.plans"]


def _unreached_modules() -> set[str]:
    """Package modules on disk that importing the entry points (in a fresh
    interpreter) does not import."""
    probe = (
        f"import json, sys\nfor m in {_ENTRY_MODULES!r}: __import__(m)\n"
        "print(json.dumps([m for m in sys.modules if m.split('.')[0] == 'gencore_spark']))"
    )
    out = subprocess.run([sys.executable, "-c", probe], cwd=_ROOT, check=True,
                         capture_output=True, text=True).stdout
    on_disk = set()
    for root, _, files in os.walk(os.path.join(_ROOT, "gencore_spark")):
        pkg = os.path.relpath(root, _ROOT).replace(os.sep, ".")
        for f in files:
            if f.endswith(".py"):
                on_disk.add(pkg if f == "__init__.py" else f"{pkg}.{f[:-3]}")
    return on_disk - set(json.loads(out.splitlines()[-1]))


def _listed_unreached() -> set[str]:
    """Modules of OPERATORS.md's "no entry point reaches them" row, whose
    paths are relative to ``gencore_spark/`` (``dir/{a,b}.py`` lists two)."""
    with open(os.path.join(_ROOT, "OPERATORS.md")) as f:
        (row,) = [line for line in f if "no entry point reaches them" in line]
    listed = set()
    for path in re.findall(r"`([\w/{},]+)\.py`", row.split("|")[2]):
        head, _, rest = path.partition("{")
        names = rest.rstrip("}").split(",") if rest else [""]
        for name in names:
            listed.add("gencore_spark." + (head + name).replace("/", "."))
    return listed


def test_operators_md_lists_the_unreached_modules():
    assert _listed_unreached() == _unreached_modules()
