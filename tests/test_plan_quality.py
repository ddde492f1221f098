"""Scale-discipline guards: no per-row Python anywhere, pushdown/pruning
reach the parquet scans, broadcasts where dimension tables are small."""

import os
import re

import pytest
from pyspark.sql import functions as F

PKG = os.path.join(os.path.dirname(__file__), "..", "osm_pbf_convert_spark")


class TestNoSlowPath:
    def test_no_rdd_no_row_udf(self):
        """The engine must never drop to RDDs or row-at-a-time Python UDFs
        (SURVEY.md §7 hard parts). pandas_udf / mapInArrow / mapInPandas
        are the sanctioned vectorized escape hatches.

        collect() exemptions, each a bounded metadata collect (never
        data rows):
        - rel_store.role_dictionary: distinct role strings (a few
          hundred at planet scale), shipped back as a broadcast map;
        - tiling.read_heat_map_file pass-1: ONE (start, n_vals) row per
          byte split -- the varint-count prefix sum that turns byte
          offsets into cell offsets, the same pattern as Spark's own
          text-source line-offset scan;
        - dedup._hyperplane_sign_matrix: planes x dim +-1 normals
          (~1 KB at the defaults), literalized once for the Arrow
          bucketing pass;
        - checkpoint.CheckpointTable.completed_ids and
          checkpoint.run_with_checkpoint: a job's committed partition_ids
          and one batch's (partition_id, count) lineage rows -- at most
          one row per LOGICAL partition (16 in the benchmark, 4096 in the
          README example), the driver-side set that filters the input and
          prunes the sink read-back; never data rows.

        .rdd exemption (r8): partitioning.fan_out reads
        getNumPartitions() -- a plan-time METADATA probe (no data ever
        leaves the JVM) deciding whether a tiny scan must be fanned out
        before a per-row-heavy stage."""
        collect_allowed = {"rel_store.py": 1, "tiling.py": 1, "dedup.py": 1,
                           "checkpoint.py": 2}
        rdd_allowed = {"partitioning.py": 1}
        bad = []
        for root, _, files in os.walk(PKG):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                src = open(os.path.join(root, fn)).read()
                for pat in (r"\.rdd\b", r"\bF\.udf\(", r"@udf\b", r"udf\.register", r"\.collect\(\)"):
                    if pat == r"\.collect\(\)" and fn in collect_allowed:
                        assert src.count(".collect()") <= collect_allowed[fn], \
                            f"{fn}: new collect() added"
                        continue
                    if pat == r"\.rdd\b" and fn in rdd_allowed:
                        assert len(re.findall(pat, src)) <= rdd_allowed[fn], \
                            f"{fn}: new .rdd usage added"
                        continue
                    for m in re.finditer(pat, src):
                        line = src[: m.start()].count("\n") + 1
                        bad.append(f"{fn}:{line} matches {pat}")
        assert not bad, f"slow-path constructs found: {bad}"

    def test_no_toPandas_in_hot_path(self):
        """toPandas only allowed in documented driver-side spots:
        similarity.train_centroids (bounded sample) and
        tiling.export_heat_map_bytes (bounded-grid binary sink)."""
        allowed = {"similarity.py", "tiling.py"}
        hits = []
        for root, _, files in os.walk(PKG):
            for fn in files:
                if fn.endswith(".py"):
                    src = open(os.path.join(root, fn)).read()
                    n = src.count(".toPandas()")
                    if n and fn not in allowed:
                        hits.append(fn)
        assert not hits, hits


@pytest.mark.spark
class TestPlanShape:
    def test_filter_pushdown_reaches_scan(self, spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        plan = (
            df.filter(F.col("l_orderkey") == 42)
            .select("l_orderkey", "l_quantity")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)" in plan
        assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan

    # decode_entities_geo passes every page column through by contract
    @pytest.mark.parametrize(
        "decoder", ["decode_nodes", "decode_ways", "decode_relations", "decode_entities"]
    )
    def test_decode_prunes_page_columns(self, spark, decoder):
        """A decoder over a wide pages table must only read url+html."""
        import pandas as pd

        from osm_pbf_convert_spark.sources import pbf

        pages = spark.createDataFrame(
            pd.DataFrame({"url": ["u"], "html": [b""], "text": ["t" * 100], "lang": ["en"]})
        )
        plan = getattr(pbf, decoder)(pages)._jdf.queryExecution().optimizedPlan().toString()
        assert "text" not in plan and "lang" not in plan

    def test_tag_dict_broadcasts(self, spark):
        from osm_pbf_convert_spark.operators.tags import TagDictionary

        td = TagDictionary(
            {"KeyCodes": {"name": 1}, "NodeTagCodes": [], "WayTagCodes": [],
             "TagCodes": [{"Key": "a", "Value": "b", "TagId": 1}], "KeyStopList": []}
        )
        df = spark.createDataFrame([(1, {"a": "b"})], schema="id bigint, tags map<string,string>")
        plan = td.encode(spark, df, "node")._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 3  # all 3 dict levels broadcast

    def test_knn_join_is_equijoin_not_nlj(self, spark):
        import pandas as pd

        from osm_pbf_convert_spark.operators.spatial import knn_join

        pts = spark.createDataFrame(
            pd.DataFrame({"id": [1, 2], "ilat": [10, 20], "ilon": [10, 20]})
        )
        qs = spark.createDataFrame(pd.DataFrame({"query_id": [1], "ilat": [15], "ilon": [15]}))
        plan = knn_join(pts, qs, k=1, z=4)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_tile_windows_single_shuffle(self, spark, sf_dir):
        """Streaming geo rollup (batch form): one hash aggregate pair, one
        shuffle on (window, tile) -- no joins, no Python."""
        from osm_pbf_convert_spark import queries as Q

        plan = Q.q_tile_windows(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_ngram_lsh_no_cartesian(self, spark):
        """LSH candidate join is an equi-join on (band, bucket), never a
        cross/NLJ product; verify join is equi on ids."""
        from osm_pbf_convert_spark.operators.dedup import ngram_jaccard_lsh_pairs

        df = spark.createDataFrame(
            [(1, "aaaa bbbb cccc"), (2, "aaaa bbbb cccc")], schema="doc_id bigint, text string"
        )
        plan = ngram_jaccard_lsh_pairs(df, shingle_k=4)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_heat_band_sink_no_driver_collect(self, spark):
        """heat_map_bands encodes on executors: the plan is a grouped
        Python (FlatMapGroupsInPandas) stage, not a driver-side toPandas."""
        from osm_pbf_convert_spark.operators.tiling import heat_map_bands

        counts = spark.createDataFrame(
            [(0, 0, 5), (17, 3, 2)], schema="row int, col int, cnt long"
        )
        df = heat_map_bands(counts, rows=64, cols=64, band_rows=16)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan

    def test_pyramid_single_scan_rollup_from_finest(self, spark, sf_dir):
        """tile_pyramid scans the input ONCE, aggregates at the finest
        zoom, and rolls coarser levels up from that aggregate: the level
        fan-out (Generate/explode) sits ABOVE the finest-zoom aggregate,
        never above the input -- no union branches re-reading the input."""
        from osm_pbf_convert_spark import queries as Q

        df = Q.q_tile_pyramid(spark, sf_dir)  # max_z=8, min_z=4 -> 5 levels
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Union") == 0
        # two aggregation shuffles (finest + rollup) + at most one from the
        # upstream fixture derivation
        assert plan.count("Exchange hashpartitioning") <= 3
        # the explode runs on the finest AGGREGATE: at least one
        # HashAggregate (the finest groupBy) must sit BELOW the Generate
        # in the tree (printed after it)
        gen = plan.index("Generate explode")
        assert "HashAggregate" in plan[gen:], "fan-out must be above the finest aggregate"
        # and the rollup aggregate sits above the Generate
        assert "HashAggregate" in plan[:gen], "rollup aggregate missing above fan-out"


@pytest.mark.spark
class TestSpatialPartitioning:
    def test_write_spatial_table_layout(self, spark, tmp_path):
        import numpy as np
        import pandas as pd

        from osm_pbf_convert_spark.plans.partitioning import write_spatial_table

        rng = np.random.default_rng(14)
        pdf = pd.DataFrame(
            {
                "id": np.arange(3000, dtype=np.int64),
                "ilat": rng.integers(-(2**31), 2**31, 3000).astype(np.int32),
                "ilon": rng.integers(-(2**31), 2**31, 3000).astype(np.int32),
            }
        )
        path = str(tmp_path / "spatial")
        write_spatial_table(spark.createDataFrame(pdf), path, z=2)
        back = spark.read.parquet(path)
        assert back.count() == 3000
        # partition dirs exist per tile
        import os

        tiles = [d for d in os.listdir(path) if d.startswith("tile=")]
        assert len(tiles) > 1
        # partition pruning works on the tile column
        one = back.filter(back["tile"] == int(tiles[0].split("=")[1]))
        plan = one._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(tile" in plan

    def test_fan_out_memo_is_bounded(self, spark, monkeypatch):
        """The fan-out partition-count memo is an LRU keyed on the session
        UUID: more distinct plans than its cap never grow it past the cap,
        and the most recent plan stays memoized."""
        from collections import OrderedDict

        from osm_pbf_convert_spark.plans import partitioning as P

        monkeypatch.setattr(P, "_FAN_OUT_MEMO", OrderedDict())
        cap = P._FAN_OUT_MEMO_MAX
        for i in range(cap + 20):
            P.fan_out(spark.range(i + 1))
            assert len(P._FAN_OUT_MEMO) <= cap
        assert len(P._FAN_OUT_MEMO) == cap
        key = (spark._jsparkSession.sessionUUID(), spark.range(cap + 20).semanticHash(),
               spark.sparkContext.defaultParallelism)
        assert next(reversed(P._FAN_OUT_MEMO)) == key


class TestDriverContract:
    def test_registry_consistency(self):
        import __spark_entry__ as e

        qs = e.queries()
        oracles = e.oracle_sql()
        assert set(oracles) <= set(qs), "every oracle must have a query"
        assert len(qs) >= 30
        assert len(oracles) >= 24
        for name, fn in qs.items():
            assert callable(fn), name
        for name, sql in oracles.items():
            assert isinstance(sql, str) and "SELECT" in sql.upper(), name

    def test_bench_subset_exists(self):
        import re

        from osm_pbf_convert_spark.queries import QUERIES

        src = open("bench.py").read()
        m = re.search(r"subset = \[(.*?)\]", src, re.S)
        names = re.findall(r'"([a-z_0-9]+)"', m.group(1))
        for n in names:
            assert n in QUERIES, n
        # the text signature operators must stay in the round-over-round
        # record (round-6 protocol)
        for n in ("fingerprint_rolling", "minhash_pairs_rolling",
                  "ngram_lsh_rolling", "simhash_rolling", "dedup_groups"):
            assert n in names, f"bench subset must carry {n}"


@pytest.mark.spark
class TestBucketedNodeStore:
    def test_bucketed_join_skips_nodes_shuffle(self, spark, tmp_path):
        import numpy as np
        import pandas as pd

        from osm_pbf_convert_spark.plans.partitioning import write_bucketed_nodes

        import shutil

        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        spark.sql("DROP TABLE IF EXISTS nodes_bucketed")
        wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        shutil.rmtree(os.path.join(wh, "nodes_bucketed"), ignore_errors=True)
        rng = np.random.default_rng(31)
        nodes = pd.DataFrame(
            {
                "id": np.arange(5000, dtype=np.int64),
                "ilat": rng.integers(-(2**30), 2**30, 5000).astype(np.int32),
                "ilon": rng.integers(-(2**30), 2**30, 5000).astype(np.int32),
            }
        )
        write_bucketed_nodes(spark.createDataFrame(nodes), "nodes_bucketed", buckets=8)
        bucketed = spark.table("nodes_bucketed")
        refs = spark.createDataFrame(
            pd.DataFrame({"way_id": np.repeat(np.arange(500), 4), "ref": rng.integers(0, 5000, 2000)})
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force a shuffle-based join so the bucketed side's avoided
            # exchange is observable (broadcast would hide it)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            joined = refs.join(bucketed.withColumnRenamed("id", "ref"), "ref")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # the bucketed nodes side must NOT be exchanged; only refs
            assert plan.count("Exchange hashpartitioning") <= 1
            assert "Bucketed: true" in plan
            assert joined.count() == 2000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS nodes_bucketed")


@pytest.mark.spark
class TestScaleGates:
    def test_rehearsal_plan_gates_pass(self, sf_dir):
        """The scale-rehearsal assert gates (no cartesian anywhere, no
        BroadcastHashJoin in dedup plans -- the 16x auto-broadcast OOM
        class) must pass mechanically every round."""
        import subprocess
        import sys as _sys

        repo = os.path.join(os.path.dirname(__file__), "..")
        r = subprocess.run(
            [_sys.executable, os.path.join(repo, "tools", "scale_rehearsal.py"),
             "--assert", "--plan-only", "--sf-dir", sf_dir, "--replicate", "2"],
            capture_output=True, text=True, timeout=300,
        )
        assert r.returncode == 0, f"scale gates failed:\n{r.stdout}\n{r.stderr}"
        assert "scale gates PASS" in r.stdout


class TestOracleSyntax:
    def test_all_oracles_parse_in_duckdb(self):
        """Every oracle_sql() must be valid DuckDB SQL against the driver's
        table schemas (EXPLAIN over empty schema-true views -- catches
        dialect typos without needing data)."""
        import duckdb

        import __spark_entry__ as e

        schemas = {
            "region": "r_regionkey int, r_name varchar",
            "nation": "n_nationkey int, n_name varchar, n_regionkey int",
            "customer": "c_custkey bigint, c_name varchar, c_nationkey int, c_acctbal double, c_mktsegment varchar",
            "supplier": "s_suppkey bigint, s_name varchar, s_nationkey int, s_acctbal double",
            "part": "p_partkey bigint, p_name varchar, p_brand varchar, p_type varchar, p_size int, p_retailprice double",
            "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus varchar, o_totalprice double, o_orderdate timestamp, o_orderpriority varchar",
            "lineitem": ("l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
                          "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
                          "l_returnflag varchar, l_linestatus varchar, l_shipdate timestamp"),
            "events": "event_id bigint, ts timestamp, user_id bigint, event_type varchar, value double, props varchar",
            "documents": "doc_id bigint, text varchar, lang varchar, source varchar, n_chars bigint",
            "embeddings": "vec_id bigint, embedding float[], label int",
        }
        con = duckdb.connect()
        for t, cols in schemas.items():
            con.execute(f"CREATE TABLE {t} ({cols})")
        for name, sql in e.oracle_sql().items():
            con.execute(f"EXPLAIN {sql}")  # raises on any syntax/type error
