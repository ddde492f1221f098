"""Seeded input generator for the benchmark workloads.

The program under test sees only what this module writes:

- a lineitem table (``l_orderkey``, ``l_linenumber``) from DuckDB's
  built-in TPC-H ``dbgen``, with ``l_orderkey`` shifted by a seed-derived
  multiple of 2^25 -- the disjoint offset ``synth_pages(replicate=)``
  uses -- so every seed gets new node ids and coordinates with the same
  shape;
- the pages table synthesized from it (``sources.pages.synth_pages``);
- a documents corpus: a fixed base corpus with planted near-duplicate
  families, replicated with a per-seed, per-replica letter permutation
  (the ``tools/make_big_sf.py`` scheme), so every seed hashes differently
  but keeps the same near-duplicate structure.

Standalone use (writes the inputs of one workload and prints their sizes)::

    python3 perfbench/gen.py --workload text_dedup --seed 3 --out .bench_work/in
"""

from __future__ import annotations

import argparse
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDERKEY_STRIDE = 1 << 25  # synth_pages(replicate=) uses the same disjoint offset
REPLICA_STRIDE = 1_000_000  # doc_id offset of each corpus replica


def seed_offset(seed: int) -> int:
    return (1 + seed % 1000) * ORDERKEY_STRIDE


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def write_lineitem(out_dir: str, sf: float, seed: int) -> dict:
    """``out_dir/lineitem.parquet`` and its node/way/ref counts."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "lineitem.parquet")
    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        con.execute(
            f"COPY (SELECT l_orderkey + {seed_offset(seed)} AS l_orderkey, l_linenumber "
            f"FROM lineitem ORDER BY 1, 2) TO '{path}' (FORMAT PARQUET)"
        )
        n_nodes, n_ways = con.execute(
            f"SELECT count(*), count(DISTINCT l_orderkey) FROM read_parquet('{path}')"
        ).fetchone()
    finally:
        con.close()
    return {"lineitem": path, "n_nodes": n_nodes, "n_ways": n_ways, "n_refs": n_nodes}


PAGES_FILES = 8  # a crawl table is many files; the decode reads them in parallel


def write_pages(spark, out_dir: str, sf: float, seed: int) -> dict:
    """Lineitem plus the pages table synthesized from it, in
    ``PAGES_FILES`` files."""
    from osm_pbf_convert_spark.sources.pages import synth_pages

    info = write_lineitem(out_dir, sf, seed)
    pages = os.path.join(out_dir, "pages")
    synth_pages(spark, out_dir).repartition(PAGES_FILES).write.parquet(pages)
    n_pages, html_bytes = duckdb.sql(
        f"SELECT count(*), sum(octet_length(html)) FROM read_parquet('{pages}/*.parquet')"
    ).fetchone()
    info.update(pages=pages, n_pages=n_pages, payload_bytes=int(html_bytes),
                input_rows=info["n_nodes"], input_bytes=_dir_bytes(pages))
    return info


# ---------------------------------------------------------------------------
# documents corpus
# ---------------------------------------------------------------------------

_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _base_corpus(n_docs: int) -> list[str]:
    """Fixed corpus (independent of the seed): pseudo-words from a
    syllable vocabulary; ~30% of originals get 1-3 near copies with a few
    word edits, so minhash/simhash find pairs and the components span
    several star rounds."""
    rng = np.random.default_rng(20240607)
    syl = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]
    vocab = np.array([
        "".join(rng.choice(syl, size=rng.integers(1, 4))) for _ in range(1500)
    ])
    docs: list[str] = []
    while len(docs) < n_docs:
        words = list(vocab[rng.integers(0, len(vocab), size=rng.integers(40, 110))])
        docs.append(" ".join(words))
        if rng.random() < 0.3:
            prev = words
            for _ in range(int(rng.integers(1, 4))):
                w = list(prev)
                for _ in range(int(rng.integers(1, 4))):
                    op, pos = rng.integers(0, 3), int(rng.integers(0, len(w)))
                    if op == 0:
                        w[pos] = str(vocab[rng.integers(0, len(vocab))])
                    elif op == 1 and len(w) > 10:
                        del w[pos]
                    else:
                        w.insert(pos, str(vocab[rng.integers(0, len(vocab))]))
                docs.append(" ".join(w))
                prev = w  # chains of edits: components deeper than stars
    return docs[:n_docs]


DOCUMENT_FILES = 8  # as for pages: the signature passes read files in parallel


def write_documents(out_dir: str, seed: int, n_base: int, replicas: int) -> dict:
    """``documents/`` (doc_id, text) in ``DOCUMENT_FILES`` files: the base
    corpus replicated ``replicas`` times, each replica under its own
    seeded letter permutation and doc_id offset."""
    os.makedirs(out_dir, exist_ok=True)
    base = _base_corpus(n_base)
    ids, texts = [], []
    for r in range(replicas):
        perm = np.random.default_rng([seed, r]).permutation(26)
        table = str.maketrans(_LETTERS, "".join(_LETTERS[i] for i in perm))
        ids.extend(r * REPLICA_STRIDE + i for i in range(len(base)))
        texts.extend(t.translate(table) for t in base)
    path = os.path.join(out_dir, "documents")
    os.makedirs(path)
    docs = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    step = -(-len(ids) // DOCUMENT_FILES)
    for k in range(DOCUMENT_FILES):
        pq.write_table(docs.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))
    return {"documents": path, "n_docs": len(ids), "input_rows": len(ids),
            "input_bytes": _dir_bytes(path)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pages_batch", "text_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, default=None)
    args = ap.parse_args()
    import workloads

    spec = workloads.WORKLOADS[args.workload]
    if args.workload == "text_dedup":
        info = write_documents(args.out, args.seed, spec.base_docs, spec.replicas)
    else:
        from osm_pbf_convert_spark.session import get_spark

        spark = get_spark("perfbench-gen", cores=4)
        try:
            info = write_pages(spark, args.out, args.sf or spec.sf, args.seed)
        finally:
            spark.stop()
    print(json.dumps(info))


if __name__ == "__main__":
    main()
