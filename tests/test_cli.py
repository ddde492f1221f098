"""Smoke tests for the verb-for-verb CLI facade (jobs/cli.py), mirroring
the reference's Program.cs entry points."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "jobs"))


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    from osm_pbf_convert_spark.sources.pbf_encoder import (
        DenseNodesSpec,
        RelationSpec,
        WaySpec,
        build_payload,
        coords_to_raw,
        encode_primitive_block,
        frame_blob,
    )

    rows = []
    for i in range(8):
        lats = [40.0 + i * 0.01, 40.5 + i * 0.01]
        lons = [-3.0 - i * 0.01, -3.5 - i * 0.01]
        dense = DenseNodesSpec(
            ids=[i * 100 + 1, i * 100 + 2],
            lats_raw=coords_to_raw(lats, 100, 0),
            lons_raw=coords_to_raw(lons, 100, 0),
            tags=[{"amenity": "cafe"}, {}],
        )
        ways = [WaySpec(id=i * 10 + 1, refs=[i * 100 + 1, i * 100 + 2], tags={"highway": "path"})]
        rels = [RelationSpec(id=i + 1, members=[(0, i * 100 + 1, "stop"), (1, i * 10 + 1, "way")])]
        payload = build_payload([
            frame_blob(encode_primitive_block(dense=dense, granularity=100)),
            frame_blob(encode_primitive_block(ways=ways, relations=rels)),
        ])
        rows.append((f"https://example.org/p/{i:08d}", payload))
    df = spark.createDataFrame(rows, schema="url string, html binary")
    path = str(tmp_path_factory.mktemp("cli") / "pages")
    df.write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def pbf_path(pages_path, tmp_path_factory):
    """The same entities as ``pages_path`` concatenated into ONE
    standalone .osm.pbf file (the reference's input shape)."""
    import pyarrow.parquet as pq

    t = pq.read_table(pages_path).sort_by([("url", "ascending")])
    path = str(tmp_path_factory.mktemp("clipbf") / "extract.osm.pbf")
    with open(path, "wb") as f:
        for h in t["html"].to_pylist():
            f.write(h)
    return path


def _run(verb, pages, out, monkeypatch, spark, input_flag="--pages"):
    import cli

    # reuse the session-scoped test SparkSession: cli.main() stops the
    # session it owns (correct for the real CLI process), which must not
    # kill the shared fixture here
    monkeypatch.setattr(cli, "_spark", lambda app: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(sys, "argv", ["cli.py", verb, input_flag, pages, "--out", out])
    cli.main()


@pytest.mark.spark
def test_cli_session_lets_cached_plans_coalesce(spark):
    """The real CLI session builder sets
    canChangeCachedPlanOutputPartitioning: without it, blob-index's
    persisted per-blob ids keep spark.sql.shuffle.partitions (200)
    partitions and every join against them runs 200-task stages."""
    import cli

    keys = (
        "spark.app.name",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    try:
        # start from the default so a builder that stops setting it fails
        spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
        session = cli._spark("conf-check")
        assert session is spark  # the active session, with its runtime confs applied
        assert session.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"
        assert session.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.spark
class TestCliVerbs:
    @pytest.mark.parametrize("verb,sub,min_rows", [
        ("join", "ways_resolved", 8),
        ("ways-file", "ways", 8),
        ("blob-index", "blobs", 8),
        ("tags-stat", "tags_stat/key_counts", 1),
        ("tags", "tags_index", 2),
        ("merge-rel", "relations", 8),  # one row per relation
        ("spatial", "spatial", 16),
    ])
    def test_verb_writes_output(self, spark, pages_path, tmp_path, monkeypatch, verb, sub, min_rows):
        out = str(tmp_path / "out")
        _run(verb, pages_path, out, monkeypatch, spark)
        got = spark.read.parquet(f"{out}/{sub}")
        assert got.count() >= min_rows

    def test_nodes_index_verb(self, spark, pages_path, tmp_path, monkeypatch):
        """nodes-index writes the bucketed+sorted clustered node store
        (NodesIndex.cs analog) into a dedicated database location."""
        out = str(tmp_path / "out")
        prev_db = spark.catalog.currentDatabase()
        try:
            _run("nodes-index", pages_path, out, monkeypatch, spark)
            got = spark.table("cli_out.nodes_index")
            assert got.count() == 16
            assert set(got.columns) == {"id", "ilat", "ilon"}
        finally:
            spark.catalog.setCurrentDatabase(prev_db)
            spark.sql("DROP TABLE IF EXISTS cli_out.nodes_index")
            spark.sql("DROP DATABASE IF EXISTS cli_out")

    @pytest.mark.parametrize("verb,sub,min_rows", [
        ("join", "ways_resolved", 8),
        ("blob-index", "blobs", 8),
        ("merge-rel", "relations", 8),
        ("spatial", "spatial", 16),
    ])
    def test_verbs_run_off_standalone_pbf(
        self, spark, pages_path, pbf_path, tmp_path, monkeypatch, verb, sub, min_rows
    ):
        """--pbf drives the same verbs off a standalone file; entity-level
        results match the --pages run of the identical entities."""
        out_a = str(tmp_path / "out_pages")
        out_b = str(tmp_path / "out_pbf")
        _run(verb, pages_path, out_a, monkeypatch, spark)
        _run(verb, pbf_path, out_b, monkeypatch, spark, input_flag="--pbf")
        a = spark.read.parquet(f"{out_a}/{sub}")
        b = spark.read.parquet(f"{out_b}/{sub}")
        assert b.count() >= min_rows
        drop = [c for c in ("url",) if c in a.columns]  # lineage ids differ
        assert sorted(map(str, a.drop(*drop).collect())) == \
            sorted(map(str, b.drop(*drop).collect()))

    def test_heat_map_verb_reference_bytes(self, spark, pages_path, tmp_path, monkeypatch):
        """Full reference grid dims (16384x32768). All 16 node counts are 1
        (< 0x80), so every cell is exactly one varint byte: the file is
        byte-per-cell with 16 non-zero bytes -- verified without a 4 GB
        decode round-trip."""
        import numpy as np

        out = str(tmp_path / "out")
        _run("heat-map", pages_path, out, monkeypatch, spark)
        files = [f for f in os.listdir(out) if f.endswith(".heat.map")]
        assert len(files) == 1
        with open(os.path.join(out, files[0]), "rb") as f:
            data = np.frombuffer(f.read(), np.uint8)
        assert data.size == 16384 * 32768
        # 16 nodes; nearby pairs may share a coarse grid cell (cnt=2 is
        # still one varint byte, 0x02) -- total count is exact, cell count
        # bounded
        assert 14 <= int((data != 0).sum()) <= 16
        assert int(data.sum()) == 16  # every decoded node lands in the grid once
