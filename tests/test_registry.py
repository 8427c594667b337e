"""The query registry is consistent without running Spark: every query has
an oracle twin, and OPERATORS.md indexes exactly the registered rows."""

from __future__ import annotations

import os
import re

import __spark_entry__ as entry_mod

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_operators_md_lists_exactly_the_queries():
    with open(os.path.join(_ROOT, "OPERATORS.md")) as f:
        listed = re.findall(r"^\| `(\w+)` \|", f.read(), re.M)
    assert len(listed) == len(set(listed)), "a row is listed twice"
    assert set(listed) == set(entry_mod.queries())
