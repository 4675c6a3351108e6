"""The query -> family map and the timed suite stay in step with
``__spark_entry__.queries()``.

Run from the root of a checkout:

    python3 -m pytest perfbench/test_families.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import __spark_entry__ as E  # noqa: E402


def _load(name: str):
    with open(os.path.join(HERE, name), encoding="utf-8") as fh:
        return json.load(fh)


def test_every_query_has_a_family() -> None:
    families = _load("families.json")
    missing = [q for q in E.queries() if q not in families]
    assert missing == [], f"queries without a family: {missing}"


def test_family_map_names_only_existing_queries() -> None:
    stale = sorted(set(_load("families.json")) - set(E.queries()))
    assert stale == [], f"family map names unknown queries: {stale}"


def test_families_name_package_modules() -> None:
    pkg = os.path.join(os.path.dirname(HERE), "cerberus_cpp_spark")
    for family in set(_load("families.json").values()) - {"spark"}:
        path = os.path.join(pkg, *family.split("."))
        assert os.path.exists(path + ".py") or os.path.isdir(path), family


def test_suite_is_in_declaration_order_and_has_oracles() -> None:
    suite = _load("suite.json")
    order = list(E.queries())
    assert suite == sorted(suite, key=order.index)
    assert set(suite) <= set(E.oracle_sql())
