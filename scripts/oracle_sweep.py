"""Full queries()-vs-DuckDB-oracle sweep at a given sf dir (what the
driver's per-round CORRECTNESS check does; also used for the 10x-scale
net that caught qg01's float-ROUND boundary).

Usage: python scripts/oracle_sweep.py [sf_dir] [name_prefix_filter]
(the filter may be a comma-separated list of prefixes — any match runs)

Set SWEEP_JSON_OUT=<path> to also write the machine-readable result
(per-query wall + status) — the per-round artifact the judge can check
without rerunning the sweep (VERDICT r3 "Next round" item 8).
Set CORRECTNESS_JSON_OUT=<path> to also write a builder-run correctness
file in the DRIVER'S exact per-query schema (rows_match/schema_match/
hash_match/spark_rows/oracle_rows/err), so builder-vs-driver results
diff mechanically on their overlap (VERDICT r4 task 4).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_spark.functions.oracle_harness import (  # noqa: E402
    compare,
    compare_detail,
)
from pdf_spark.functions.registry import all_oracles, all_queries  # noqa: E402
from pdf_spark.session import spark_session  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""
    queries, oracles = all_queries(), all_oracles()
    spark = spark_session()
    bad = {}
    t0 = time.time()
    prefixes = tuple(p for p in prefix.split(",") if p != "") or ("",)
    names = [n for n in sorted(queries) if n.startswith(prefixes)]
    per_query: dict = {}
    correctness: dict = {}
    corr_out = os.environ.get("CORRECTNESS_JSON_OUT")
    for i, name in enumerate(names):
        t = time.time()
        try:
            df = queries[name](spark, sf)
            if corr_out:
                rec = compare_detail(name, df, oracles.get(name), sf)
                correctness[name] = rec
                problems = (
                    []
                    if rec["err"] is None
                    and rec["rows_match"]
                    and rec.get("schema_match") is not False
                    and rec.get("hash_match") is not False
                    else [f"detail: {rec}"]
                )
            elif name in oracles:
                problems = compare(name, df, oracles[name], sf)
            else:
                problems = [] if df.count() >= 0 else ["count failed"]
        except Exception as exc:  # noqa: BLE001 — sweep must report, not die
            problems = [f"EXCEPTION: {exc!r}"]
        status = "ok" if not problems else "FAIL"
        per_query[name] = {"status": status, "sec": round(time.time() - t, 2)}
        print(
            f"[{i + 1}/{len(names)}] {name}: {status} ({time.time() - t:.1f}s)",
            flush=True,
        )
        if problems:
            bad[name] = [str(p)[:300] for p in problems]
    print(f"TOTAL {len(names) - len(bad)}/{len(names)} ok in "
          f"{time.time() - t0:.0f}s at {sf}")
    if corr_out:
        with open(corr_out, "w") as fh:
            json.dump(correctness, fh, indent=1)
    out_path = os.environ.get("SWEEP_JSON_OUT")
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf,
                    "total": len(names),
                    "ok": len(names) - len(bad),
                    "wall_sec": round(time.time() - t0, 1),
                    "failures": bad,
                    "queries": per_query,
                },
                fh,
                indent=1,
            )
    if bad:
        print(json.dumps(bad, indent=2))
        sys.exit(1)


if __name__ == "__main__":
    main()
