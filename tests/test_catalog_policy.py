"""Guards the QUERIES catalog ordering policy (queries.py registry comment).

The driver's correctness harness hashes only the FIRST 50 entries of the
``QUERIES`` dict against DuckDB.  Round 6 showed that appending new entries
silently displaces coverage: four operators had never received a driver row
and two lost theirs.  These tests pin the policy so a future insertion in
the wrong place fails CI instead of failing the evidence chain.
"""

from __future__ import annotations

import pytest

from osm_pbf_convert_spark.queries import ORACLES, QUERIES

DRIVER_CAP = 50

# The only entries allowed past the driver cap: long-stable entries whose
# primary twin sits inside the cap (see the registry comment).
ROTATION_TAIL_ALLOWED = {
    "ngram_jaccard",
    "simhash_groups",
    "pbf_roundtrip_nodes",
}

# tail entry -> its primary twin that must be driver-checked
TAIL_TWIN = {
    "ngram_jaccard": "ngram_lsh_rolling",
    "simhash_groups": "simhash_rolling",
    "pbf_roundtrip_nodes": "pbf_file_nodes",
}


def test_only_rotation_tail_past_driver_cap():
    names = list(QUERIES)
    past_cap = set(names[DRIVER_CAP:])
    assert past_cap <= ROTATION_TAIL_ALLOWED, (
        f"entries past the driver's {DRIVER_CAP}-entry correctness cap must be "
        f"documented rotation-tail pins, got extras: "
        f"{sorted(past_cap - ROTATION_TAIL_ALLOWED)} -- insert new entries "
        f"inside the first {DRIVER_CAP} and rotate a stable pin to the tail"
    )


def test_tail_twins_inside_cap():
    first = set(list(QUERIES)[:DRIVER_CAP])
    for tail, twin in TAIL_TWIN.items():
        if tail in QUERIES:
            assert twin in first, f"{tail}'s production twin {twin} fell past the cap"


def test_every_catalog_entry_has_oracle():
    missing = [n for n in QUERIES if n not in ORACLES]
    assert missing == [], f"catalog entries without an oracle row: {missing}"


def test_never_driver_checked_entries_lead():
    # The six entries flagged in VERDICT round 6 must all be driver-visible.
    first = set(list(QUERIES)[:DRIVER_CAP])
    for n in (
        "ngram_lsh_rolling",
        "simhash_rolling",
        "dedup_groups",
        "dedup_survivors",
        "embedding_neardup",
        "multimodal_features",
    ):
        assert n in first, f"{n} must stay inside the driver correctness cap"


@pytest.mark.spark
class TestOracleTail:
    """The driver never checks the entries past its cap, so every one of
    them is replayed here: run the query and its oracle SQL and require
    the selfcheck comparison to pass. The tail is read from the
    registry, so an entry rotated past the cap is covered the moment it
    lands there."""

    def test_tail_oracles_match_duckdb(self, spark, sf_dir):
        import duckdb

        from tools.selfcheck import TABLES, compare

        tail = list(QUERIES)[DRIVER_CAP:]
        assert tail, "no entry sits past the driver cap"
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in tail:
            got = QUERIES[name](spark, sf_dir).toPandas()
            want = con.execute(ORACLES[name]).fetchdf()
            assert len(got) > 0, name
            assert compare(got, want) == "OK", name


# ---------------------------------------------------------------------------
# public surface: every public package function/class must be reached from
# outside tests/ (a job, catalog query, CLI verb, tool, bench or perfbench),
# or be one of these named test oracles, each justified by a "Kept ..."
# line in its docstring.
# ---------------------------------------------------------------------------

TEST_ONLY_ALLOWED = {
    # byte-parity goldens and readers of the reference stores
    "decode_blob_ids_info_py", "decode_nodes_index_py", "decode_rels_file_py",
    "decode_ways_file_py", "encode_blob_ids_info_py", "encode_nodes_index_py",
    "encode_rels_file_py", "encode_spatial_block_py", "encode_ways_file_py",
    "export_heat_map_bytes", "read_blobs_dat", "read_heat_map_file",
    "read_nodes_index", "read_rels_file", "read_spatial_blocks", "read_ways_file",
    # numpy/Column twins the SQL and Column forms are checked against
    "coord_as_int", "delta_decode", "heat_cell_np", "int_to_coord",
    "morton_cell_np", "morton_decode_np", "quantize_col", "tile_np",
    # read halves of the .osm.pbf writer's round trip
    "read_pbf_entities", "read_pbf_relations", "read_pbf_ways",
    "mock_uri",
}


def _public_package_defs() -> dict:
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "osm_pbf_convert_spark"
    defs = {}
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
                defs[node.name] = node
    return defs


def _names_used_outside_tests() -> set:
    """Every identifier, attribute and imported name in the repo's Python
    files outside tests/, ignoring a function's references to itself."""
    import ast
    import os
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    used = set()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames
                       if d not in ("tests", "dist", "__pycache__") and not d.startswith(".")]
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            tree = ast.parse(pathlib.Path(dirpath, fn).read_text())
            for top in tree.body:
                own = getattr(top, "name", None)
                for x in ast.walk(top):
                    if isinstance(x, ast.Name):
                        name = x.id
                    elif isinstance(x, ast.Attribute):
                        name = x.attr
                    elif isinstance(x, ast.alias):
                        name = x.name.rsplit(".", 1)[-1]
                    else:
                        continue
                    if name != own:
                        used.add(name)
    return used


def test_no_test_only_public_surface():
    """No public package function or class is reached only by tests,
    unless it is an allowed, docstring-justified oracle; and the
    allowlist names no function that is gone or that now has a caller."""
    import ast

    defs = _public_package_defs()
    used = _names_used_outside_tests()
    test_only = {name for name in defs if name not in used}
    assert test_only - TEST_ONLY_ALLOWED == set(), "public surface only tests reach"
    assert TEST_ONLY_ALLOWED - test_only == set(), "stale allowlist entries"
    unjustified = {name for name in TEST_ONLY_ALLOWED
                   if "Kept" not in (ast.get_docstring(defs[name]) or "")}
    assert unjustified == set(), "allowed oracles need a 'Kept ...' docstring line"


# The one module still on pandas: the stateful streaming dedup stage,
# whose per-key grouped map is to be replaced, not ported.
PANDAS_ALLOWED = {"streaming/dedup.py"}

_PANDAS_PATTERNS = (
    r"^\s*(import pandas\b|from pandas\b)",
    r"mapInPandas", r"applyInPandas", r"pandas_udf", r"\.toPandas\(",
)


def test_python_boundary_is_arrow_only():
    """Every batch stage crosses the Python boundary as Arrow: no package
    module but ``PANDAS_ALLOWED`` imports pandas (at module level or
    lazily) or uses ``mapInPandas``, ``applyInPandas``, ``pandas_udf`` or
    ``toPandas``."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parent.parent / "osm_pbf_convert_spark"
    bad = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel in PANDAS_ALLOWED:
            continue
        src = path.read_text()
        for pat in _PANDAS_PATTERNS:
            for m in re.finditer(pat, src, flags=re.MULTILINE):
                bad.append(f"{rel}:{src[:m.start()].count(chr(10)) + 1}: {m.group(0).strip()}")
    assert bad == [], "pandas at the Python boundary"
    assert all((pkg / rel).exists() for rel in PANDAS_ALLOWED), "stale allowlist entry"
