"""Dump formatted physical plans for the headline operators -> PLANS.md.

Evidence artifact for plan-quality review: shows pushed filters, pruned
read schemas, broadcast vs sort-merge join choices, the single-Expand
pyramid, and the window top-k shapes.

Usage: python tools/plans.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")

HEADLINE = [
    "ways_nodes_join",
    "relation_members",
    "tile_pyramid",
    "heat_map",
    "knn",
    "embedding_topk",
    "minhash_pairs_rolling",
    "decode_nodes",
    "pages_geo",
    "pricing_summary",
    "ivf_topk",
    "ngram_jaccard",
    "tag_dict_encode",
    "point_in_polygon",
    "sessionization",
]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from osm_pbf_convert_spark import queries as Q
    from osm_pbf_convert_spark.session import get_spark

    spark = get_spark("plans", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — formatted physical plans of the headline operators",
           "", f"Generated from `{sf_dir}` (plan shapes are scale-invariant;",
           "AQE may further split/coalesce at runtime).", ""]
    for name in HEADLINE:
        df = Q.QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        text = buf.getvalue().strip()
        lines = [
            (l[:400] + f" ... [{len(l) - 400} chars truncated]") if len(l) > 400 else l
            for l in text.splitlines()
        ]
        if len(lines) > 160:  # keep the tree + key node details, not 100KB
            lines = lines[:160] + [f"... [{len(lines) - 160} detail lines truncated]"]
        out.append(f"## {name}\n\n```\n" + "\n".join(lines) + "\n```\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written:", sum(len(s) for s in out), "chars")
    spark.stop()


if __name__ == "__main__":
    main()
