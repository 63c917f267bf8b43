"""Static contract checks for the driver gate: every oracle key maps
to a registered query, and every query is callable with the documented
signature. Catches registration drift before the driver's
CORRECTNESS_r{N} run does."""

from __future__ import annotations

import glob
import inspect
import json
import os
import re

import pytest


def test_every_oracle_has_a_query():
    from ocr_engine_spark.catalog import oracle_sql, queries

    q, o = queries(), oracle_sql()
    assert set(o) <= set(q), sorted(set(o) - set(q))


def test_queries_have_driver_signature():
    from ocr_engine_spark.catalog import queries

    for name, fn in queries().items():
        params = list(inspect.signature(fn).parameters)
        assert params[:2] == ["spark", "sf_dir"], name


def _base_tables(node, found, ctes):
    """Collect the base-table and CTE names of a DuckDB parse tree."""
    if isinstance(node, dict):
        if node.get("type") == "BASE_TABLE":
            found.add(node["table_name"])
        ctes.update(e["key"] for e in (node.get("cte_map") or {}).get("map", []))
        node = list(node.values())
    if isinstance(node, list):
        for child in node:
            _base_tables(child, found, ctes)


def test_oracle_sql_mentions_only_registered_tables():
    """Every table an oracle reads (by DuckDB's own parser, so comma
    joins count too) is one of the catalog's tables; table functions
    and the oracle's CTEs are not tables. The set is also exactly the
    tables the oracles read, so it shrinks when a table's last reader
    is retired."""
    import duckdb

    from ocr_engine_spark.catalog import oracle_sql

    tables = {"documents", "events", "embeddings"}
    con = duckdb.connect()
    read = set()
    for name, sql in oracle_sql().items():
        tree = json.loads(con.execute("SELECT json_serialize_sql(?::VARCHAR)", [sql]).fetchone()[0])
        assert not tree["error"], (name, tree.get("error_message"))
        found, ctes = set(), set()
        _base_tables(tree, found, ctes)
        assert found - ctes <= tables, (name, sorted(found - ctes - tables))
        read |= found - ctes
    assert read == tables, sorted(tables - read)


def test_readme_query_count_matches_catalog():
    """ADVICE r3: the README's 'N of N' coverage claim went stale when
    queries landed after the doc edit. Pin it to the live catalog —
    and require every query to carry an oracle (zero rows-only)."""
    from ocr_engine_spark.catalog import oracle_sql, queries

    q, o = queries(), oracle_sql()
    assert set(o) == set(q), "every catalog query must be oracled"
    readme = open(
        os.path.join(os.path.dirname(__file__), "..", "README.md")
    ).read()
    m = re.search(r"\((\d+) of (\d+), round \d+\)", readme)
    assert m, "README coverage line missing"
    assert int(m.group(1)) == int(m.group(2)) == len(q), (
        f"README claims {m.group(0)}, catalog has {len(q)}"
    )


def test_entry_returns_expected_columns():
    import __spark_entry__ as e

    src = inspect.getsource(e.entry)
    for col in ("conv_id", "turn_idx", "extracted_text", "spans"):
        assert col in src


def test_register_rejects_a_duplicate_name():
    """A second registration of a name raises instead of silently
    replacing the first query and its oracle."""
    from ocr_engine_spark import catalog

    name = "__duplicate_registration_probe"
    try:
        catalog._register(name, oracle="SELECT 1")(lambda spark, sf_dir: None)
        with pytest.raises(ValueError, match=name):
            catalog._register(name, oracle="SELECT 2")
        assert catalog._ORACLES[name] == "SELECT 1"
    finally:
        catalog._QUERIES.pop(name, None)
        catalog._ORACLES.pop(name, None)


def test_bench_headline_names_are_registered_queries():
    """bench.py looks every HEADLINE name up in the catalog minutes into
    its run; a name that is not registered must fail here instead."""
    import bench
    from ocr_engine_spark.catalog import queries

    q = queries()
    assert [n for n in bench.HEADLINE if n not in q] == []


def _artifact(d, n: str, names) -> None:
    (d / f"CORRECTNESS_r{n}.json").write_text(
        json.dumps({name: {"hash_match": True} for name in names})
    )


def test_driver_rotation_from_artifacts(tmp_path):
    """Never-recorded names first, then by the newest round that
    records them (numerically: r10 after r9), ties in the given
    order; files that are not CORRECTNESS_r{N}.json are ignored."""
    import __spark_entry__ as e

    names = ["a", "b", "c", "d", "e", "f"]
    assert e._rotation(names, str(tmp_path)) == names

    _artifact(tmp_path, "9", ["a", "b", "c"])
    _artifact(tmp_path, "10", ["a", "f"])
    _artifact(tmp_path, "02", ["b", "d"])
    _artifact(tmp_path, "03_old", ["e"])
    assert e._rotation(names, str(tmp_path)) == ["e", "d", "b", "c", "a", "f"]


def test_driver_rotation_on_committed_artifacts():
    """queries() and oracle_sql() share one order, and the driver's
    50-entry artifact window takes the least recently recorded
    queries: on the committed CORRECTNESS_r01..r05, all 22 queries last
    recorded in r4 come before any query recorded in r5."""
    import __spark_entry__ as e
    from ocr_engine_spark.catalog import queries

    q = list(e.queries())
    assert q == list(e.oracle_sql())
    assert sorted(q) == sorted(queries())

    root = os.path.join(os.path.dirname(__file__), "..")
    last: dict = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                for name in json.load(f):
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    rounds = [last.get(name, 0) for name in q]
    assert rounds == sorted(rounds)
    r4_last = [name for name in q if last.get(name) == 4]
    assert set(r4_last) <= set(q[:50])
