"""Per-query measurement harness for optimization work (guide §1.4).

Replicates bench.py's session configuration EXACTLY (same master, same
shuffle partitions, same split sizing) but times individual catalog
queries in isolation via the noop sink, so a single query can be
iterated on without paying the full bench matrix. Optionally dumps
``.explain("formatted")`` per query (plans/r08 artifacts).

This file is NOT the driver's benchmark -- bench.py stays the frozen
measurement contract; numbers printed here are working evidence for
OPTIMIZATION_r08.md only.

Usage:
  python bench_extra.py --queries minhash_pairs_rolling,fingerprint_rolling --iters 3
  python bench_extra.py --queries BENCH --explain-dir plans/r08 --suffix before
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_SUBSET = [
    "pricing_summary", "ways_nodes_join", "way_bbox", "relation_members",
    "tile_counts_z8", "heat_map", "tile_pyramid", "knn", "embedding_topk",
    "exact_dedup", "token_counts", "point_in_polygon",
    "sessionization", "tag_stats_by_kind", "knn_multi_tile", "pip_rects",
    "simhash_hamming_pairs", "tag_dict_encode",
    "lang_id", "ivf_topk", "tile_windows",
    "pbf_file_nodes",
    "fingerprint_rolling", "minhash_pairs_rolling",
    "ngram_lsh_rolling", "simhash_rolling",
    "dedup_groups",
]


def _scratch(name: str) -> str:
    base = "/dev/shm/spark_graft" if os.access("/dev/shm", os.W_OK) else "/tmp/spark_graft"
    path = os.path.join(base, name)
    os.makedirs(path, exist_ok=True)
    return path


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default="BENCH")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="now", help="plan file suffix (before/after)")
    args = ap.parse_args()

    from osm_pbf_convert_spark.session import get_spark
    from osm_pbf_convert_spark import queries as Q

    # identical to bench.py main(): same split sizing, same scratch dirs
    extra_conf = {"spark.sql.files.maxPartitionBytes": str(1 << 20),
                  "spark.sql.files.openCostInBytes": str(1 << 20),
                  "spark.hadoop.parquet.block.size": str(16 << 20),
                  "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
                  "spark.local.dir": _scratch("local")}
    spark = get_spark(
        "bench_extra", cores=args.cores,
        shuffle_partitions=max(args.cores, 8), extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    sf = args.sf_dir

    names = BENCH_SUBSET if args.queries == "BENCH" else args.queries.split(",")
    Q._pages(spark, sf)  # pre-warm synth cache like bench.py does

    out = {}
    for name in names:
        fn = Q.QUERIES[name]
        if args.explain_dir:
            import contextlib
            import io

            os.makedirs(args.explain_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf).explain("formatted")
            with open(os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
        samples = []
        for it in range(args.warmup + args.iters):
            spark.sparkContext.setJobDescription(f"{name} iter{it}")
            t0 = time.time()
            force(fn(spark, sf))
            dt = time.time() - t0
            if it >= args.warmup:
                samples.append(round(dt, 3))
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"summary": {k: v["min"] for k, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
