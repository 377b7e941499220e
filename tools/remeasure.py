"""Isolated fresh-session re-measure of individual headline queries.

Used to adjudicate suspected pressure-contaminated entries in a committed
multiscale sweep (VERDICT r7 item 1): runs ONLY the named queries, in a
fresh Spark session, on a quiet box, with per-query loadavg stamps so the
artifact itself records the measurement conditions.

Usage: python tools/remeasure.py [--runs N] [--no-machinery-warm]
       <sf_dir> <query> [query ...]
Prints one JSON doc to stdout with {query: {spark, duckdb, ratio,
loadavg_before, loadavg_after}}.

Protocol (v2, r10): a fresh JVM is the point (zero old-gen history — the
contamination mode isolation exists to remove), but a COLD JVM is a
systematic bias: measured at sf10, a 3.2 s steady-state shuffle query
(mart_shipping_priority) runs ~4.8-5 s in a fresh JVM even after NINE
consecutive runs of itself, while ten *diverse* cheap queries first bring
it to 3.19 s within three runs — Spark's shared scan/shuffle/agg
machinery needs varied work to reach C2 steady state, and one repeated
query never gets it there. So: (1) a standardized MACHINERY WARM-UP of
six diverse cheap queries (scan+agg, broadcast star join, window top-k,
shuffle join, sessionization, distinct — negligible heap history),
(2) two warm runs of the target, (3) median of the timed runs (default
2; the multiscale isolated-median pass uses --runs 3). 'Isolated'
therefore means: standardized warmth, zero history, own loadavg stamps.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

#: the standardized machinery warm-up (docstring rationale): six diverse
#: cheap shapes that force C2 compilation of the shared scan / hash-agg /
#: broadcast-join / window / shuffle-join / distinct paths. ~15-25 s at
#: sf10, negligible old-gen residue (each returns a handful of rows).
MACHINERY_WARM = [
    "dq_row_count",
    "mart_pricing_summary",
    "mart_region_revenue",
    "mart_topk_customers",
    "mart_custdist",
    "events_tumbling_hourly",
]


def timed(run, runs: int = 2, warm_runs: int = 1) -> tuple[float, list[float], float]:
    la0 = os.getloadavg()[0]
    for _ in range(warm_runs):
        run()
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        run()
        samples.append(round(time.perf_counter() - t0, 4))
    return round(statistics.median(samples), 4), samples, round(os.getloadavg()[0], 2), la0


def main() -> None:
    argv = sys.argv[1:]
    runs = 2
    machinery_warm = True
    if argv and argv[0] == "--runs":
        runs = int(argv[1])
        argv = argv[2:]
    if argv and argv[0] == "--no-machinery-warm":
        machinery_warm = False
        argv = argv[1:]
    sf_dir, names = argv[0], argv[1:]

    from enterprise_data_quality_platform_spark.queries import query_fns
    from enterprise_data_quality_platform_spark.queries.registry import (
        oracle_connection,
        oracle_sqls,
    )
    from enterprise_data_quality_platform_spark.session import get_spark

    spark = get_spark("edqp-remeasure")
    # rebind {SF_PARQUET_DIR} file-path oracles to THIS sf_dir (same as
    # tools/multiscale.py — the default binding points at the driver tier)
    fns, oracles = query_fns(), oracle_sqls(sf_dir)

    con = oracle_connection(sf_dir)

    out: dict = {"sf_dir": sf_dir, "launch_loadavg": os.getloadavg()}
    out["runs"] = runs
    out["machinery_warm"] = machinery_warm
    if machinery_warm:
        t0 = time.perf_counter()
        for w in MACHINERY_WARM:
            if w in fns:
                fns[w](spark, sf_dir).collect()
        out["machinery_warm_sec"] = round(time.perf_counter() - t0, 2)
    for name in names:
        s_med, s_samples, s_la_after, s_la_before = timed(
            lambda: fns[name](spark, sf_dir).collect(), runs, warm_runs=2
        )
        out[name] = {
            "spark": s_med,
            "spark_samples": s_samples,
            "loadavg": {
                "spark_before": round(s_la_before, 2),
                "spark_after": s_la_after,
            },
        }
        if name in oracles:
            spark.sparkContext._jvm.System.gc()
            time.sleep(1)
            d_med, d_samples, d_la_after, d_la_before = timed(
                lambda: con.execute(oracles[name]).fetchall(), runs
            )
            out[name].update(
                duckdb=d_med,
                duckdb_samples=d_samples,
                ratio=round(s_med / d_med, 2) if d_med > 0 else None,
            )
            out[name]["loadavg"].update(
                duckdb_before=round(d_la_before, 2), duckdb_after=d_la_after
            )
            print(
                f"  {name}: spark {s_med}s duckdb {d_med}s",
                file=sys.stderr, flush=True,
            )
        else:
            # rows-only query (no oracle): Spark side only — the bench
            # isolated-median pass needs this for dedup_minhash_docs /
            # embed_ann_lsh and friends
            print(f"  {name}: spark {s_med}s (no oracle)", file=sys.stderr, flush=True)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
