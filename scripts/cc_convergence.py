#!/usr/bin/env python
"""Fixpoint connected-components at 10x bench scale (VERDICT r4 task 5).

Runs ``star_components`` (large-star/small-star with per-round eager
checkpoints and the monotone-sum stop) over the qg11 edge construction
at N nodes (default 2,000,000 — the 2M-doc corpus) and reports rounds,
wall time, and the label histogram head. Usage:

    python scripts/cc_convergence.py [n_nodes]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pdf_spark.functions.graph import star_components  # noqa: E402
from pdf_spark.session import spark_session  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = spark_session()
    t_all = time.time()
    nodes = spark.range(n).select(F.col("id").alias("u"))
    edges = (
        nodes.select(
            "u", (F.col("u") % 3 + 1).cast("int").alias("d")
        )
        .select("u", F.explode(F.expr("sequence(1, d)")).alias("k"))
        .select("u", ((F.col("u") * 7 + F.col("k")) % n).alias("v"))
    )
    t0 = time.time()
    labels, rounds = star_components(edges)
    n_nodes = labels.count()
    n_comp = labels.select("label").distinct().count()
    wall = time.time() - t0
    print(
        f"n={n} nodes_labeled={n_nodes} components={n_comp} "
        f"rounds={rounds} wall={wall:.1f}s total={time.time() - t_all:.1f}s",
        flush=True,
    )


if __name__ == "__main__":
    main()
