"""10x scale rehearsal: flagship e2e + the dedup family on 16x-replicated
input, in REAL executor mode (local-cluster), recording per-operator wall
time, shuffle read/write bytes, peak single-stage shuffle, and spill --
the evidence that the bench-scale plans hold at an order of magnitude
more rows (no AQE surprises, no OOM, no cartesian sneaking in).

    python tools/scale_rehearsal.py [--executors 4] [--replicate 16]
    python tools/scale_rehearsal.py --assert               # gates on the full run
    python tools/scale_rehearsal.py --assert --plan-only   # seconds: per-round gate

``--assert`` turns the round-3 scale-bug class into mechanical gates
(exit 1 on failure): no cartesian/nested-loop join anywhere, no
BroadcastHashJoin inside the dedup family, disk spill bounded.
``--plan-only`` checks the plan gates without executing (also run by
pytest: tests/test_plan_quality.py::TestScaleGates).

Documents are replicated with a PER-REPLICA character translation
(vowels -> a rotated alphabet slice), so within-replica near-dup
structure is preserved exactly (both members of a planted pair transform
identically) while cross-replica similarity collapses below threshold --
the corpus grows 16x in docs AND in near-dup groups, not into one giant
duplicate cluster.

Appends a markdown section to BENCH/NOTES.md (folded into BASELINE.md
by tools/scaling.py on regeneration) and prints one JSON line.
NEVER run concurrently with other work (single-box timings).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rest(spark, path):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}", timeout=20) as r:
        return json.loads(r.read())


def _stage_snapshot(spark):
    """(totals dict, per-stage shuffle-write list) over COMPLETE stages."""
    stages = _rest(spark, "/stages?status=complete")
    tot = {"sw": 0, "sr": 0, "mem_spill": 0, "disk_spill": 0}
    per = {}
    for s in stages:
        key = (s["stageId"], s["attemptId"])
        per[key] = s.get("shuffleWriteBytes", 0) + s.get("shuffleReadBytes", 0)
        tot["sw"] += s.get("shuffleWriteBytes", 0)
        tot["sr"] += s.get("shuffleReadBytes", 0)
        tot["mem_spill"] += s.get("memoryBytesSpilled", 0)
        tot["disk_spill"] += s.get("diskBytesSpilled", 0)
    return tot, per


def _plan_flags(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "cartesian": "CartesianProduct" in plan or "BroadcastNestedLoop" in plan,
        "aqe": "AdaptiveSparkPlan" in plan,
        "bhj": plan.count("BroadcastHashJoin"),
    }


DEDUP_OPS = {"minhash_pairs_rolling", "simhash_rolling", "ngram_lsh_rolling",
             "exact_dedup"}


def check_gates(results: dict, max_disk_spill_mb: float) -> list[str]:
    """The round-3 scale-bug class, as mechanical gates: no cartesian or
    nested-loop join anywhere, no BroadcastHashJoin inside the dedup
    family (corpus-sized derived relations must never auto-broadcast --
    the exact exit-52 OOM found at 16x), and bounded disk spill."""
    failures = []
    for name, r in results.items():
        if r.get("cartesian"):
            failures.append(f"{name}: cartesian/nested-loop join in plan")
        if name in DEDUP_OPS and r.get("bhj", 0) > 0:
            failures.append(
                f"{name}: {r['bhj']} BroadcastHashJoin in a dedup plan "
                "(corpus-sized side auto-broadcast -- the 16x OOM class)"
            )
        if r.get("disk_spill_mb", 0) > max_disk_spill_mb:
            failures.append(
                f"{name}: disk spill {r['disk_spill_mb']} MB > {max_disk_spill_mb} MB"
            )
    return failures


def measured(spark, name, df, results, mode="noop"):
    """Force df and attribute wall + shuffle/spill deltas to `name`.
    ``df`` may be a callable returning the DataFrame -- for operators that
    run their own jobs during CONSTRUCTION (iterative algorithms like
    connected_components), so those jobs land inside the timed window."""
    t0, p0 = _stage_snapshot(spark)
    w0 = time.time()
    if callable(df):
        df = df()
    if mode == "noop":
        df.write.mode("overwrite").format("noop").save()
    else:
        df.write.mode("overwrite").parquet(mode)
    wall = time.time() - w0
    t1, p1 = _stage_snapshot(spark)
    new_stages = {k: v for k, v in p1.items() if k not in p0}
    results[name] = {
        "wall_s": round(wall, 2),
        "shuffle_write_mb": round((t1["sw"] - t0["sw"]) / 2**20, 1),
        "shuffle_read_mb": round((t1["sr"] - t0["sr"]) / 2**20, 1),
        "peak_stage_shuffle_mb": round(max(new_stages.values(), default=0) / 2**20, 1),
        "mem_spill_mb": round((t1["mem_spill"] - t0["mem_spill"]) / 2**20, 1),
        "disk_spill_mb": round((t1["disk_spill"] - t0["disk_spill"]) / 2**20, 1),
        **_plan_flags(df),
    }
    print(f"{name}: {results[name]}", flush=True)


def broom_graph(spark, chain_n: int, leaf_n: int, hub_every: int = 1000,
                hub_leaves: int = 50):
    """The adversarial CC input: ONE component engineered against both
    failure modes of alternating-star.

    - a CHAIN 0-1-2-...-chain_n (diameter = chain_n: naive label
      propagation would need chain_n rounds; alternating-star must
      collapse it in O(log^2));
    - leaf_n pendant LEAVES all attached to node 0 -- the hot MINIMUM:
      one groupBy key and one join key carry leaf_n rows (the skew the
      AQE skew-join conf must absorb);
    - mid-chain HUBS: every hub_every-th chain node gets hub_leaves
      pendant leaves -- the power-law middle of near-dup degree
      distributions.

    Built entirely from spark.range (no driver data); ids are arranged so
    the true component minimum is 0 and every label is provably 0."""
    from pyspark.sql import functions as F

    chain = spark.range(chain_n).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    leaf_base = chain_n + 1
    star = spark.range(leaf_n).select(
        F.lit(0).cast("long").alias("a"), (F.col("id") + leaf_base).alias("b")
    )
    hub_base = leaf_base + leaf_n
    n_hubs = chain_n // hub_every
    hubs = spark.range(n_hubs * hub_leaves).select(
        ((F.col("id") % n_hubs + 1) * hub_every).alias("a"),
        (F.col("id") + hub_base).alias("b"),
    )
    return chain.unionByName(star).unionByName(hubs)


def run_cc_adversarial(spark, results, chain_n, leaf_n, max_rounds):
    """Measured worst-case CC row + hard gates: converges, round count
    bounded, every label == 0 (single component, hot minimum correct)."""
    from osm_pbf_convert_spark.operators.graph import near_dup_groups
    from pyspark.sql import functions as F

    edges = broom_graph(spark, chain_n, leaf_n)
    n_edges = edges.count()
    print(f"cc_adversarial input: {n_edges} edges (chain {chain_n}, "
          f"hot-min leaves {leaf_n})", flush=True)
    stats: dict = {}
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/dev/shm/spark_graft")
    labels_path = os.path.join(scratch, "cc_adversarial_labels")
    # RELIABLE per-round checkpoints: at log2(diameter) rounds the local-
    # checkpoint path pins every round's edge set in executor storage and
    # evicts executors (measured: executor deaths at 20M edges x 23 rounds);
    # this is exactly the cluster deployment mode graph.py documents.
    spark.sparkContext.setCheckpointDir(os.path.join(scratch, "cc_ckpt"))
    measured(
        spark, "cc_adversarial",
        lambda: near_dup_groups(
            edges, stats=stats, use_local_checkpoint=False,
            max_iter=max_rounds + 3,
        ),
        results, mode=labels_path,
    )
    labels = spark.read.parquet(labels_path)
    n_nodes = n_edges + 1  # tree: |V| = |E| + 1
    bad = labels.filter(F.col("component") != 0).count()
    total = labels.count()
    r = results["cc_adversarial"]
    r["rounds"] = stats.get("rounds")
    # edge rows entering each fixpoint test: after the contraction, then
    # after each round
    r["edges_per_test"] = stats.get("edges")
    r["n_edges"] = n_edges
    failures = []
    if bad:
        failures.append(f"cc_adversarial: {bad} labels != component minimum 0")
    if total != n_nodes:
        failures.append(f"cc_adversarial: {total} labels for {n_nodes} nodes")
    if stats.get("rounds", 99) > max_rounds:
        failures.append(
            f"cc_adversarial: {stats['rounds']} star rounds > gate {max_rounds}"
        )
    print(f"cc_adversarial: rounds={stats.get('rounds')} labels={total} "
          f"(expected {n_nodes}) wrong={bad}", flush=True)
    return failures


def replicate_documents(spark, sf_dir, replicate):
    """16 textually-distinct replicas: per-replica translate() keeps
    within-replica pair structure, kills cross-replica similarity."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    parts = []
    for r in range(replicate):
        repl = "".join(alphabet[(i * 7 + r) % 26] for i in range(5))
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * 10_000_000)).alias("doc_id"),
                F.translate(F.col("text"), "aeiou", repl).alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--executors", type=int, default=4)
    ap.add_argument("--replicate", type=int, default=16)
    ap.add_argument("--no-append", action="store_true")
    ap.add_argument("--assert", dest="assert_gates", action="store_true",
                    help="fail (exit 1) on any scale gate: cartesian/NLJ "
                         "anywhere, BroadcastHashJoin in a dedup plan, disk "
                         "spill above --max-disk-spill-mb")
    ap.add_argument("--plan-only", action="store_true",
                    help="with --assert: check the plan gates WITHOUT "
                         "executing (plain local session, seconds not "
                         "minutes -- the per-round regression gate)")
    # volume-relative: spill scales with shuffle bytes per partition, so
    # the cap scales with --replicate. 64 MB/x == the round-3/4 manual
    # calibration (1024 MB at x16 = ~1.5x the known-good join_ways_nodes
    # disk spill of 626 MB); an explicit value overrides.
    ap.add_argument("--max-disk-spill-mb", type=float, default=None)
    ap.add_argument("--cc-adversarial", action="store_true",
                    help="run ONLY the worst-case connected-components "
                         "rehearsal (broom graph: long chain + hot-minimum "
                         "star + power-law hubs) with hard gates on round "
                         "count, label correctness, and plan shape")
    ap.add_argument("--chain-n", type=int, default=4_000_000)
    ap.add_argument("--leaf-n", type=int, default=16_000_000)
    # the star rounds collapse a path in ~log2(diameter) rounds (the
    # measured law: 17 rounds at chain 100k = ceil(log2), with the exact
    # fixpoint test and no confirming round; the per-partition contraction
    # hardly shortens a chain whose edges are hash-spread over partitions),
    # so the gate is diameter-relative; a fixed bound would either mask a
    # regression at small chains or false-fail at big ones
    ap.add_argument("--max-rounds", type=int, default=None,
                    help="default ceil(log2(chain_n)) + 3")
    args = ap.parse_args()
    if args.max_disk_spill_mb is None and args.cc_adversarial:
        # CC-shaped budget: disk spill here is BALANCED external-sort
        # spill (task histogram verified: ~90 MB per task, no straggler
        # -- AQE splits the hot-minimum join partition), proportional to
        # edges x rounds, not a plan bug. Measured 45.7 GB at the default
        # 20.2M-edge broom x 23 rounds on 4x8GB executors; the gate is
        # the linear formula at ~2x that, which still fails loudly on the
        # quadratic classes (a hot-bucket cartesian spills orders of
        # magnitude more).
        import math

        edges_est = args.chain_n + args.leaf_n + (args.chain_n // 1000) * 50
        rounds_gate = args.max_rounds or (math.ceil(math.log2(args.chain_n)) + 3)
        args.max_disk_spill_mb = 16.0 * edges_est / 2**20 * 8 * rounds_gate
    if args.max_disk_spill_mb is None:
        args.max_disk_spill_mb = 64.0 * args.replicate

    from osm_pbf_convert_spark.session import get_spark
    from osm_pbf_convert_spark.sources.pages import synth_pages
    from osm_pbf_convert_spark.sources.pbf import decode_entities
    from osm_pbf_convert_spark.operators.joins import resolve_ways
    from osm_pbf_convert_spark.operators.tiling import heat_map, tile_pyramid
    from osm_pbf_convert_spark.operators import dedup
    from pyspark.sql import functions as F

    if args.plan_only:
        # plan-shape gates only: no cluster, no execution, no replication
        # materialization -- the cheap mechanical re-run for every round
        spark = get_spark("rehearsal-plan-gate", cores=4)
        spark.sparkContext.setLogLevel("ERROR")
        docs = replicate_documents(spark, args.sf_dir, args.replicate)
        results = {}
        for name, df in [
            ("exact_dedup", dedup.exact_dedup(docs)),
            ("minhash_pairs_rolling", dedup.minhash_lsh_pairs(
                docs, num_hashes=32, bands=8, shingle_k=5)),
            ("simhash_rolling", dedup.simhash_hamming_pairs(docs, max_hamming=8)),
            ("ngram_lsh_rolling", dedup.ngram_jaccard_lsh_pairs(
                docs, shingle_k=6, threshold=0.6, num_hashes=64, bands=16,
                max_bucket_size=64, verify_on_hashes=True)),
        ]:
            results[name] = _plan_flags(df)
            print(f"{name}: {results[name]}", flush=True)
        failures = check_gates(results, args.max_disk_spill_mb)
        spark.stop()
        if failures:
            print("SCALE GATES FAILED:\n  " + "\n  ".join(failures))
            sys.exit(1)
        print("scale gates PASS (plan-only)")
        return

    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", "/dev/shm/spark_graft")
    os.makedirs(scratch, exist_ok=True)
    spark = get_spark(
        "scale-rehearsal",
        executors=args.executors,
        shuffle_partitions=32,
        extra_conf={
            # the UI REST API is the shuffle/spill metrics source here
            "spark.ui.enabled": "true",
            "spark.sql.files.maxPartitionBytes": str(16 << 20),
            "spark.hadoop.parquet.block.size": str(16 << 20),
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.local.dir": os.path.join(scratch, "local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    results: dict = {}

    if args.cc_adversarial:
        import math

        max_rounds = (
            args.max_rounds
            if args.max_rounds is not None
            else math.ceil(math.log2(args.chain_n)) + 3
        )
        cc_failures = run_cc_adversarial(
            spark, results, args.chain_n, args.leaf_n, max_rounds
        )
        cc_failures += check_gates(results, args.max_disk_spill_mb)
        r = results["cc_adversarial"]
        out = {
            "metric": "adversarial CC rehearsal (broom graph), executor mode",
            "chain_n": args.chain_n,
            "leaf_n": args.leaf_n,
            "executors": args.executors,
            **r,
        }
        print(json.dumps(out))
        if not args.no_append:
            with open(os.path.join(REPO, "BENCH", "NOTES.md"), "a") as f:
                f.write(
                    f"\n## Adversarial CC rehearsal: broom graph, "
                    f"{args.executors} executor JVMs\n\n"
                    f"Chain {args.chain_n:,} + hot-min star {args.leaf_n:,} "
                    f"leaves + power-law hubs = {r['n_edges']:,} edges, ONE "
                    f"component with minimum 0 and diameter {args.chain_n:,}. "
                    f"Converged in **{r['rounds']} star rounds** "
                    f"(gate <= {max_rounds} = ceil(log2(chain)) + 3; "
                    f"alternating-star round count follows log2(diameter)), "
                    f"wall {r['wall_s']} s, "
                    f"shuffle W/R {r['shuffle_write_mb']}/"
                    f"{r['shuffle_read_mb']} MB, spill "
                    f"{r['mem_spill_mb']}/{r['disk_spill_mb']} MB, "
                    f"cartesian={r['cartesian']}. Every label verified == 0 "
                    f"(the hot minimum), label count == node count.\n"
                )
        spark.stop()
        import shutil

        shutil.rmtree(os.path.join(scratch, "cc_ckpt"), ignore_errors=True)
        if cc_failures:
            print("CC ADVERSARIAL GATES FAILED:\n  " + "\n  ".join(cc_failures))
            sys.exit(1)
        print("cc adversarial gates PASS")
        return

    # ---- input: pages x16 (materialized once, fixed 128-file layout) ----
    pages_path = os.path.join(scratch, "pages", f"rehearsal_x{args.replicate}")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        synth_pages(spark, args.sf_dir, replicate=args.replicate).repartition(128).write.mode(
            "overwrite"
        ).parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    n_docs = pages.count()

    docs_path = os.path.join(scratch, "docs", f"rehearsal_x{args.replicate}")
    if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        replicate_documents(spark, args.sf_dir, args.replicate).write.mode(
            "overwrite"
        ).parquet(docs_path)
    docs = spark.read.parquet(docs_path)
    n_corpus = docs.count()
    print(f"input: {n_docs} pages, {n_corpus} docs, {args.executors} executors", flush=True)

    # ---- flagship e2e stages ----
    ent_path = os.path.join(scratch, "entities", f"rehearsal_x{args.replicate}")
    t0 = time.time()
    measured(
        spark, "decode",
        decode_entities(pages.coalesce(args.executors * 2)), results, mode=ent_path,
    )
    entities = spark.read.parquet(ent_path)
    nodes = entities.filter(F.col("kind") == 0).select("url", "id", "lat", "lon", "ilat", "ilon", "tags")
    ways = entities.filter(F.col("kind") == 1).select("url", "id", "refs", "tags")
    n_nodes = nodes.count()
    measured(spark, "join_ways_nodes", resolve_ways(ways.drop("url"), nodes.drop("url"), keep_tags=False), results)
    measured(spark, "tile_pyramid", tile_pyramid(nodes, max_z=12, min_z=4), results)
    measured(spark, "heat_map", heat_map(nodes), results)
    e2e = time.time() - t0

    # ---- dedup family at 16x docs (production rolling flavors) ----
    measured(spark, "exact_dedup", dedup.exact_dedup(docs), results)
    measured(spark, "minhash_pairs_rolling", dedup.minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, shingle_k=5), results)
    measured(spark, "simhash_rolling", dedup.simhash_hamming_pairs(
        docs, max_hamming=8), results)
    # max_bucket_size=64: the LSH-at-scale guard (boilerplate band
    # buckets grow pair counts quadratically with corpus size; measured
    # 9x wall at 4x volume without it, and ZERO verified pairs lost
    # with it at 64x -- see BENCH/NOTES.md). NOT a silent cap: the
    # parameter is part of the recorded scale recipe.
    print("ngram_lsh_rolling: max_bucket_size=64 + verify_on_hashes (scale recipe)", flush=True)
    measured(
        spark, "ngram_lsh_rolling",
        dedup.ngram_jaccard_lsh_pairs(docs, shingle_k=6, threshold=0.6, num_hashes=64, bands=16,
                                      max_bucket_size=64, verify_on_hashes=True),
        results,
    )

    # ---- pair graph -> groups: connected components at the same scale ----
    # pairs are MATERIALIZED first so this row isolates the grouping cost
    # (the pair-stream cost is the minhash_pairs_rolling row above); the
    # callable form puts the star rounds' own jobs inside the timed window
    from osm_pbf_convert_spark.operators.graph import near_dup_groups

    pairs_path = os.path.join(scratch, "pairs", f"rehearsal_x{args.replicate}")
    dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8, shingle_k=5).select(
        "a", "b"
    ).write.mode("overwrite").parquet(pairs_path)
    cc_pairs = spark.read.parquet(pairs_path)
    n_pairs = cc_pairs.count()
    print(f"dedup_groups input: {n_pairs} near-dup pairs", flush=True)
    measured(spark, "dedup_groups", lambda: near_dup_groups(cc_pairs), results)

    if args.assert_gates:
        failures = check_gates(results, args.max_disk_spill_mb)
        if failures:
            print("SCALE GATES FAILED:\n  " + "\n  ".join(failures))
            spark.stop()
            sys.exit(1)
        print("scale gates PASS (executed)")

    out = {
        "metric": f"{args.replicate}x scale rehearsal (e2e stages + dedup family), executor mode",
        "sf_dir": args.sf_dir,
        "replicate": args.replicate,
        "executors": args.executors,
        "n_docs": n_docs,
        "n_nodes": n_nodes,
        "n_corpus_docs": n_corpus,
        "e2e_s": round(e2e, 2),
        "ops": results,
    }
    print(json.dumps(out))

    if not args.no_append:
        lines = [
            "",
            f"## {args.replicate}x scale rehearsal: sf0.1 x{args.replicate}, "
            f"{args.executors} executor JVMs",
            "",
            f"Input: {n_docs:,} pages / {n_nodes:,} nodes decoded; dedup corpus "
            f"{n_corpus:,} docs (per-replica `translate()` keeps planted pair "
            "structure, kills cross-replica similarity). "
            "`local-cluster[4,2,8192]`, shuffle_partitions=32, 16 MB "
            "maxPartitionBytes/row-groups (the only conf change vs bench: "
            "bigger scan splits for 16x the bytes).",
            "",
            "| op | wall s | shuffle W MB | shuffle R MB | peak stage MB | spill MB (mem/disk) | cartesian |",
            "|---|---|---|---|---|---|---|",
        ]
        for name, r in results.items():
            lines.append(
                f"| {name} | {r['wall_s']} | {r['shuffle_write_mb']} | {r['shuffle_read_mb']} "
                f"| {r['peak_stage_shuffle_mb']} | {r['mem_spill_mb']}/{r['disk_spill_mb']} "
                f"| {r['cartesian']} |"
            )
        with open(os.path.join(REPO, "BENCH", "NOTES.md"), "a") as f:
            f.write("\n".join(lines) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
