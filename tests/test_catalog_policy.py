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

# The only entries allowed past the driver cap: redundant oracle-pin flavors
# whose production twin sits inside the cap (see the registry comment).
ROTATION_TAIL_ALLOWED = {
    "minhash_pairs",
    "ngram_jaccard_lsh",
    "fingerprint",
    "ngram_jaccard",
    "simhash_groups",
    "pbf_roundtrip_nodes",
}

# tail entry -> its production/primary twin that must be driver-checked
TAIL_TWIN = {
    "minhash_pairs": "minhash_pairs_rolling",
    "ngram_jaccard_lsh": "ngram_lsh_rolling",
    "fingerprint": "fingerprint_rolling",
    "ngram_jaccard": "ngram_lsh_rolling",
    "simhash_groups": "simhash_hamming_pairs",
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
class TestMd5OracleTail:
    """The md5 dedup pins sit past the 50-entry cap, and they are the only
    DuckDB gate on md5 hash values: run each query and its oracle SQL
    here and require the selfcheck comparison to pass."""

    MD5_TAIL = ("minhash_pairs", "simhash_groups", "fingerprint", "ngram_jaccard_lsh")

    def test_md5_tail_oracles_match_duckdb(self, spark, sf_dir):
        import duckdb

        from tools.selfcheck import TABLES, compare

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in self.MD5_TAIL:
            got = QUERIES[name](spark, sf_dir).toPandas()
            want = con.execute(ORACLES[name]).fetchdf()
            assert len(got) > 0, name
            assert compare(got, want) == "OK", name
