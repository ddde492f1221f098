"""The benchmark workloads.

Each workload calls the package's public functions the way
``jobs/run_pipeline.py`` and the query catalog do, wraps every call into
a package layer in a tracer span, and checks its outputs against values
derived independently of the code under test (generator arithmetic,
DuckDB replays, a union-find replay).

A workload is driven through three methods:

- ``generate(dir)``: write the seeded inputs;
- ``run(out)``: one iteration, from the inputs to all outputs written
  under ``out``, returning ``(latency_s, outputs_correct)``;
- ``setup_check(out)``: a second, untimed pass over the cold
  iteration's directory, with the checks made only there.
"""

from __future__ import annotations

import sys
import time
import traceback

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

import gen


def _report(exc: BaseException) -> None:
    traceback.print_exception(exc, file=sys.stderr)


class Workload:
    name = ""
    sf = 0.0
    # Timed iterations of a run at the least. Set-up dominates a run, and
    # about fifty runs must fit in an hour, so only the workload whose
    # iterations spread most times two.
    min_iterations = 1

    def __init__(self, spark, tracer, seed: int, sf: float | None = None,
                 wrong_expected: bool = False):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        if sf is not None:
            self.sf = sf
        self.wrong = wrong_expected
        self.info: dict = {}
        self.last: dict = {}  # what the last iteration's stages returned

    def _exp(self, value):
        """An expected value, deliberately off by one under
        ``--wrong-expected`` (proves the checks can fail)."""
        return value + 1 if self.wrong else value

    def _checked(self, fn, *args) -> bool:
        try:
            fn(*args)
            return True
        except Exception as exc:  # a failed check counts, the run goes on
            _report(exc)
            return False

    def run(self, out: str) -> tuple[float, bool]:
        t0 = time.perf_counter()
        try:
            res = self.last = self._stages(out)
        except Exception as exc:  # the operation failed; count it
            _report(exc)
            return time.perf_counter() - t0, False
        lat = time.perf_counter() - t0
        return lat, self._checked(self._check, out, res)

    def setup_check(self, out: str) -> bool:
        """A second, untimed pass over the cold iteration's directory,
        checked like every iteration. It warms every stage once more, so
        the timed phase starts past the steep part of the JIT warm-up."""
        _, good = self.run(out)
        return good


def _eq(what: str, got, want) -> None:
    if got != want:
        raise AssertionError(f"{what}: got {got!r}, want {want!r}")


# ---------------------------------------------------------------------------
# pages_batch: jobs/run_pipeline.py --pages, in process
# ---------------------------------------------------------------------------


class SpannedSink:
    """The lazy decoded DataFrame as ``run_with_checkpoint`` sees it.

    ``run_with_checkpoint`` computes the frame only when it writes it to
    the sink, so the decode's stages run inside that write. While tracing,
    the write runs in a span of the decoding layer, and the checkpoint
    layer keeps only its own work (pending filter, lineage count, commit).
    Untraced runs pass the frame itself."""

    def __init__(self, df, tracer, layer: str, call: str):
        self._df, self._tr, self._layer, self._call = df, tracer, layer, call
        self.columns = df.columns

    @property
    def write(self):
        return _SpannedWriter(self)


class _SpannedWriter:
    """The calls ``run_with_checkpoint`` makes on ``DataFrame.write``."""

    def __init__(self, sink: SpannedSink):
        self._sink, self._w = sink, sink._df.write

    def mode(self, mode: str):
        self._w = self._w.mode(mode)
        return self

    def partitionBy(self, *cols):  # noqa: N802 (DataFrameWriter's name)
        self._w = self._w.partitionBy(*cols)
        return self

    def parquet(self, path: str) -> None:
        s = self._sink
        with s._tr.span(s._layer, s._call):
            s._tr.plan(s._df)
            self._w.parquet(path)


class PagesBatch(Workload):
    name = "pages_batch"
    sf = 0.005
    partitions = 16
    max_zoom = 12
    min_iterations = 2

    def generate(self, d: str) -> dict:
        self.info = gen.write_pages(self.spark, d, self.sf, self.seed)
        return self.info

    def _decode(self, out: str) -> dict:
        """Stage 1 of the pipeline: checkpointed decode into ``out/entities``."""
        from osm_pbf_convert_spark.plans.checkpoint import CheckpointTable, run_with_checkpoint
        from osm_pbf_convert_spark.sources.pbf import decode_entities

        spark, tr = self.spark, self.tr
        pages = spark.read.parquet(self.info["pages"]).withColumn(
            "partition_id", F.pmod(F.xxhash64("url"), F.lit(self.partitions))
        )
        table = CheckpointTable(f"{out}/ckpt")
        bad = spark.sparkContext.accumulator(0)

        def decode_stage(pend):
            with tr.span("sources.pbf", "decode_entities"):
                df = decode_entities(pend, passthrough=("url", "partition_id"),
                                     on_error="skip", bad_counter=bad)
            if not tr.enabled:
                return df
            return SpannedSink(df, tr, "sources.pbf", "decode_entities.write")

        with tr.span("plans.checkpoint", "run_with_checkpoint"):
            n = run_with_checkpoint(spark, pages, decode_stage, f"{out}/entities", table,
                                    "bench-decode")
        if n:
            with tr.span("plans.checkpoint", "commit"):
                metric = spark.createDataFrame(
                    [(-1, 0, "n_bad_payloads_batch_approx", float(bad.value))],
                    schema="partition_id bigint, n_rows bigint, metric_name string, "
                           "metric_value double",
                )
                table.commit(spark, "bench-decode", metric)
        return {"committed": n, "bad": bad.value}

    def _stages(self, out: str) -> dict:
        from osm_pbf_convert_spark.operators.joins import join_pages_geo, resolve_ways
        from osm_pbf_convert_spark.operators.tiling import heat_map, tile_pyramid

        spark, tr = self.spark, self.tr
        res = self._decode(out)
        entities = spark.read.parquet(f"{out}/entities")
        nodes = entities.filter(F.col("kind") == 0).select("url", "id", "ilat", "ilon", "tags")
        ways = entities.filter(F.col("kind") == 1).select("id", "refs", "tags")
        outputs = (
            ("operators.joins", "resolve_ways", lambda: resolve_ways(ways, nodes.drop("url")),
             "ways_resolved"),
            ("operators.tiling", "tile_pyramid",
             lambda: tile_pyramid(nodes, max_z=self.max_zoom, min_z=0), "tiles"),
            ("operators.tiling", "heat_map", lambda: heat_map(nodes), "heat"),
            ("operators.joins", "join_pages_geo",
             lambda: join_pages_geo(spark.read.parquet(self.info["pages"]), nodes), "pages_geo"),
        )
        for layer, call, build, sink in outputs:
            with tr.span(layer, call):
                df = build()
                tr.plan(df)
                df.write.mode("overwrite").parquet(f"{out}/{sink}")
        return res

    def _check(self, out: str, res: dict) -> None:
        i, con = self.info, duckdb.connect()
        try:
            q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
            kinds = dict(q(f"SELECT kind, count(*) FROM read_parquet('{out}/entities/*/*.parquet') "
                           "GROUP BY kind"))
            _eq("decoded nodes", kinds.get(0), self._exp(i["n_nodes"]))
            _eq("decoded ways", kinds.get(1), i["n_ways"])
            zooms = q(f"SELECT z, sum(cnt) FROM read_parquet('{out}/tiles/*.parquet') "
                      "GROUP BY z ORDER BY z")
            _eq("pyramid zoom sums", zooms,
                [(z, i["n_nodes"]) for z in range(self.max_zoom + 1)])
            (resolved,), = q(f"SELECT sum(n_resolved) FROM read_parquet('{out}/ways_resolved/*.parquet')")
            _eq("sum(n_resolved)", resolved, i["n_refs"])
            (heat,), = q(f"SELECT sum(cnt) FROM read_parquet('{out}/heat/*.parquet')")
            _eq("heat map total", heat, i["n_nodes"])
            (n_geo, geo), = q(f"SELECT count(*), sum(n_geo) FROM read_parquet('{out}/pages_geo/*.parquet')")
            _eq("pages_geo rows / nodes", (n_geo, geo), (i["n_pages"], i["n_nodes"]))
            (n_tiles,), = q(f"SELECT count(*) FROM read_parquet('{out}/tiles/*.parquet')")
        finally:
            con.close()
        tr = self.tr
        tr.count("plans.checkpoint", "partitions_committed", res["committed"])
        tr.count("sources.pbf", "rows_out", sum(kinds.values()))
        tr.count("sources.pbf", "payload_mb_in", i["payload_bytes"] / 2**20)
        tr.count("sources.pbf", "bad_payloads", res["bad"])
        tr.count("operators.joins", "refs_resolved_frac", resolved / i["n_refs"])
        tr.count("operators.tiling", "tile_rows_out", n_tiles)
        tr.count("operators.tiling", "bytes_written",
                 gen._dir_bytes(f"{out}/tiles") + gen._dir_bytes(f"{out}/heat"))

    def setup_check(self, out: str) -> bool:
        """The second pass resumes the decode from the cold iteration's
        checkpoint, so it must commit no partition."""
        return super().setup_check(out) and self._checked(
            lambda: _eq("partitions committed on resume", self.last["committed"], 0))


# ---------------------------------------------------------------------------
# text_dedup: production near-duplicate path, no PBF decode
# ---------------------------------------------------------------------------

# (sink, columns) of every text_dedup output, in the order they are written
DEDUP_SINKS = (
    ("minhash", ("a", "b")),
    ("simhash", ("a", "b", "hamming")),
    ("labels", ("doc_id", "component")),
    ("survivors", ("component", "survivor_id", "n_docs")),
)


def _components(pairs: np.ndarray) -> dict[int, int]:
    """Union-find over (a, b) pairs: node -> minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


class TextDedup(Workload):
    name = "text_dedup"
    base_docs = 1000
    replicas = 4
    # Documents per replica that the DuckDB oracle replays. The SQL replay
    # takes about 45 ms per document on a 4-core host, so the whole corpus
    # (about 3 minutes) does not fit a run. Whether a pair is emitted depends only on
    # its two documents, so the pairs among the replayed documents must
    # equal the replay exactly.
    oracle_docs = 12

    def generate(self, d: str) -> dict:
        self.info = gen.write_documents(d, self.seed, self.base_docs, self.replicas)
        self.expected: dict = {}
        self.oracle = self._oracle_pairs()
        if not self.oracle:
            raise ValueError("the replayed documents must hold near-duplicate pairs")
        return self.info

    def _oracle_pairs(self) -> set[tuple[int, int]]:
        """DuckDB replay of the catalog's rolling-minhash oracle SQL on the
        first ``oracle_docs`` documents of every replica."""
        from osm_pbf_convert_spark.queries import _Q_MINHASH_ROLLING_ORACLE

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.info['documents']}/*.parquet') "
                f"WHERE doc_id % {gen.REPLICA_STRIDE} < {self.oracle_docs}")
            return {(int(a), int(b)) for a, b in con.execute(_Q_MINHASH_ROLLING_ORACLE).fetchall()}
        finally:
            con.close()

    def _stages(self, out: str) -> dict:
        from osm_pbf_convert_spark.operators.dedup import minhash_lsh_pairs, simhash_hamming_pairs
        from osm_pbf_convert_spark.operators.graph import dedup_survivors, near_dup_groups

        spark, tr = self.spark, self.tr
        docs = spark.read.parquet(self.info["documents"])
        stats: dict = {}
        outputs = (
            ("operators.dedup", "minhash_lsh_pairs",
             lambda: minhash_lsh_pairs(docs, num_hashes=32, bands=8, shingle_k=5)),
            ("operators.dedup", "simhash_hamming_pairs", lambda: simhash_hamming_pairs(docs)),
            ("operators.graph", "near_dup_groups",
             lambda: near_dup_groups(spark.read.parquet(f"{out}/minhash"), stats=stats)),
            ("operators.graph", "dedup_survivors",
             lambda: dedup_survivors(docs, spark.read.parquet(f"{out}/labels"))),
        )
        for (layer, call, build), (sink, _) in zip(outputs, DEDUP_SINKS):
            with tr.span(layer, call):
                df = build()
                tr.plan(df)
                df.write.mode("overwrite").parquet(f"{out}/{sink}")
        return stats

    def _replay(self, con) -> dict:
        """Expected checksums, from the cold iteration's pair set once the
        pairs among the replayed documents equal the oracle's: union-find
        components of the pairs and their longest-text survivors (DuckDB).
        simhash has no oracle; later iterations must repeat the first."""
        pairs = con.execute("SELECT a, b FROM minhash").fetchnumpy()
        a, b = pairs["a"], pairs["b"]
        k = self.oracle_docs
        among = ((a % gen.REPLICA_STRIDE) < k) & ((b % gen.REPLICA_STRIDE) < k)
        _eq("minhash pairs among the replayed documents",
            set(zip(a[among].tolist(), b[among].tolist())), self.oracle)
        comp = _components(np.stack([a, b], axis=1))
        con.register("labels_want", pa.table({
            "doc_id": pa.array(list(comp), pa.int64()),
            "component": pa.array(list(comp.values()), pa.int64()),
        }))
        con.execute("""CREATE VIEW survivors_want AS
            SELECT component, doc_id AS survivor_id, n_docs FROM (
              SELECT l.component, l.doc_id,
                     row_number() OVER (PARTITION BY l.component
                                        ORDER BY length(d.text) DESC, l.doc_id) AS rn,
                     count(*) OVER (PARTITION BY l.component) AS n_docs
              FROM labels_want l JOIN documents d USING (doc_id)) WHERE rn = 1""")
        return {
            "minhash": _checksum(con, "minhash", DEDUP_SINKS[0][1]),
            "simhash": _checksum(con, "simhash", DEDUP_SINKS[1][1]),
            "labels": _checksum(con, "labels_want", DEDUP_SINKS[2][1]),
            "survivors": _checksum(con, "survivors_want", DEDUP_SINKS[3][1]),
        }

    def _check(self, out: str, stats: dict) -> None:
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.info['documents']}/*.parquet')")
            for sink, _ in DEDUP_SINKS:
                con.execute(f"CREATE VIEW {sink} AS SELECT * FROM "
                            f"read_parquet('{out}/{sink}/*.parquet')")
            if not self.expected:
                self.expected = self._replay(con)
            got = {sink: _checksum(con, sink, cols) for sink, cols in DEDUP_SINKS}
        finally:
            con.close()
        for sink, _ in DEDUP_SINKS:
            want = self.expected[sink]
            if sink == "minhash":
                want = (self._exp(want[0]),) + want[1:]
            _eq(f"{sink} (rows, checksum)", got[sink], want)
        tr = self.tr
        tr.count("operators.dedup", "pairs_out", got["minhash"][0] + got["simhash"][0])
        tr.count("operators.graph", "rounds", stats["rounds"])
        tr.count("operators.graph", "final_edges", stats["final_edges"])


def _checksum(con, table: str, cols: tuple[str, ...]) -> tuple[int, int]:
    """(rows, order-independent sum of a polynomial over the columns)."""
    poly = " + ".join(f"{c}::HUGEINT * {1_000_003 ** k}" for k, c in enumerate(cols))
    n, s = con.execute(f"SELECT count(*), coalesce(sum({poly}), 0) FROM {table}").fetchone()
    return int(n), int(s)


WORKLOADS = {w.name: w for w in (PagesBatch, TextDedup)}
