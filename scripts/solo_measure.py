"""Solo per-query measurement harness for optimization rounds.

Methodology matches bench.py's solo adjudication: ONE fresh session
(local[$SPARK_GRAFT_CPUS]) per invocation, per query one DISCARDED cold
warmup run, then median-of-N (default 5) warm runs, each run = build the
query (GOLDEN[name](spark, sf_dir)) + noop-sink write (guide §1.4). Prints
one JSON line per query plus a machine-speed topk probe so runs from
different windows can be calibrated against each other.

Usage: python scripts/solo_measure.py q1 [q2 ...] [--runs N] [--plans DIR]

--plans DIR additionally writes DIR/<name>.txt with the
explain("formatted") output of the query's frame (for eager-build rows
this is the post-pin frame — use the operator's pin=False variant for
join-shape receipts).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--plans", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from bookstore_aws_lakehouse_spark.registry import load_all
    from bookstore_aws_lakehouse_spark.session import get_spark

    GOLDEN, _ = load_all()
    unknown = [q for q in args.queries if q not in GOLDEN]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 8
    spark = get_spark(master=f"local[{cpus}]")
    sf_dir = args.sf_dir

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # session warmup + machine-speed probe (median-of-5 topk, like bench.py)
    noop(GOLDEN["topk_books"](spark, sf_dir))
    probes = []
    for _ in range(5):
        t0 = time.monotonic()
        noop(GOLDEN["topk_books"](spark, sf_dir))
        probes.append(time.monotonic() - t0)
    print(json.dumps({"probe_topk_p50": round(sorted(probes)[2], 3),
                      "cpus": int(cpus), "sf_dir": sf_dir}), flush=True)

    for name in args.queries:
        fn = GOLDEN[name]
        spark.sparkContext.setJobDescription(f"solo:{name}")
        t0 = time.monotonic()
        noop(fn(spark, sf_dir))
        cold = time.monotonic() - t0
        runs = []
        for _ in range(args.runs):
            t0 = time.monotonic()
            noop(fn(spark, sf_dir))
            runs.append(time.monotonic() - t0)
        spark.sparkContext.setJobDescription(None)
        med = sorted(runs)[len(runs) // 2]
        print(json.dumps({"query": name, "solo_p50": round(med, 3),
                          "cold": round(cold, 3),
                          "runs": [round(r, 3) for r in runs]}), flush=True)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = fn(spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(txt)

    spark.stop()


if __name__ == "__main__":
    main()
