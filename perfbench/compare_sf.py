"""Compare the generated registry tables with a shipped testdata tier.

    python3 perfbench/compare_sf.py --shipped <dir with the ten .parquet files> --seed 1

Writes ``inputs.sf_tables(sf, seed)`` next to a copy of the shipped tier,
prints the statistics the registry queries are sensitive to (document
vocabulary and duplicate rates, embedding label geometry), then runs the
first ``--head`` registry queries on the shipped tier, its copy and the
generated tables in one session. Each query runs once to count its output
rows, then ``--reps`` times into the noop sink, rotating which directory
goes first; the median wall is printed. The copy holds the same bytes as
the shipped tier, so the shipped-vs-copy difference is the noise floor.
Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def table_stats(d: str) -> dict:
    texts = pq.read_table(f"{d}/documents.parquet", columns=["text"])["text"].to_pylist()
    have = set(texts)
    emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
    x = np.asarray(emb["embedding"], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    lab = np.asarray(emb["label"])
    sim = x @ x.T
    np.fill_diagonal(sim, -2.0)
    return {
        "docs": len(texts),
        "vocab": len({w for t in texts for w in t.split()}),
        "exact_dup_docs": sum(c - 1 for c in collections.Counter(texts).values()),
        "near_dup_docs": sum(t.endswith(" dup") and t[:-4] in have for t in texts),
        "nn_same_label": float((lab[sim.argmax(1)] == lab).mean()),
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--shipped", required=True)
    p.add_argument("--sf", type=float, default=0.01)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--head", type=int, default=15)
    p.add_argument("--reps", type=int, default=6)
    args = p.parse_args(argv)
    sys.path[0] = ROOT

    import __spark_entry__ as em
    from perfbench import harness, inputs

    base = os.path.join(harness.WORK, "compare_sf")
    dirs = {"shipped": args.shipped, "copy": os.path.join(base, "copy"),
            "generated": os.path.join(base, "generated")}
    shutil.copytree(args.shipped, dirs["copy"], dirs_exist_ok=True)
    inputs.write_sf_tables(dirs["generated"], args.sf, args.seed)
    for name, d in dirs.items():
        print(name, table_stats(d))

    spark = harness.start_session("compare-sf", harness.nproc())
    try:
        harness.warm_session(spark, harness.nproc())
        queries = em.queries()
        head = list(queries)[: args.head]
        rows = {(q, d): queries[q](spark, path).count()
                for q in head for d, path in dirs.items()}
        walls = collections.defaultdict(list)
        order = list(dirs.items())
        for rep in range(args.reps):
            for q in head:
                for d, path in order[rep % 3:] + order[: rep % 3]:
                    t0 = time.time()
                    queries[q](spark, path).write.format("noop").mode("overwrite").save()
                    walls[q, d].append(time.time() - t0)
                    spark.catalog.clearCache()
    finally:
        harness.stop_session(spark)
        shutil.rmtree(harness.WORK, ignore_errors=True)

    print("| query | " + " | ".join(dirs) + " |")
    print("|---|" + "---|" * len(dirs))
    for q in head:
        cells = [f"{statistics.median(walls[q, d]):.3f} s / {rows[q, d]}" for d in dirs]
        print(f"| `{q}` | " + " | ".join(cells) + " |")
    print("| total | " + " | ".join(
        f"{sum(statistics.median(walls[q, d]) for q in head):.2f} s" for d in dirs) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
