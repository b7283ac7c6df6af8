"""Second-order scale gate: the worst sf1 scalers plus the dedup/ANN
family heads at sf10 (100x sf0.1 data) — VERDICT r09 item 5, widened
per VERDICT r10 item 6.

BENCH_sf1 gives one order-of-magnitude data point; this adds a second
so the 100 TB extrapolation rests on interpolation for exactly the
queries whose sf1 ratios were the worst (q_chunk_documents 4.57x,
q_dedup_ngram 4.42x, q_pdf_extract 3.58x, plus q_dedup_embed and
q_html_extract from the same cohort). Writes BENCH_sf10_r{N}.json
with per-query seconds and the ratio vs this round's sf0.1 archive;
FAILs any query whose cost exceeds DATA_RATIO x SCALE_SLACK of its
sf0.1 time (sublinear scaling passes with room; superlinear blowups
do not).

Run: python scripts/bench_sf10.py   (generates fixtures if absent)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import reference_archive  # noqa: E402
from pyanamo_spark.registry import QUERIES, load_all  # noqa: E402
from pyanamo_spark.session import get_spark  # noqa: E402

#: the worst sf1 scalers (BENCH_sf1_r09 ratio_vs_sf0.1 tail)
HOT_QUERIES = [
    "q_chunk_documents",
    "q_dedup_ngram",
    "q_pdf_extract",
    "q_dedup_embed",
    "q_html_extract",
    # r11 (VERDICT r10 item 6): the dedup/ANN family heads the 100 TB
    # claims lean hardest on — previously sf1-only evidence
    "q_dedup_near",
    "q_dedup_simhash",
    "q_dedup_clusters",
    "q_contrastive_pairs",
    # r12 (VERDICT r11 item 7): the most expensive sf1 queries that
    # previously had no second scale point
    "q_basket_rules",
    "q_pmi",
]

DATA_RATIO = 100.0  # sf10 / sf0.1


def main() -> int:
    sf10 = Path(os.environ.get("SF10_DIR", REPO / ".fixtures" / "sf10"))
    if not (sf10 / "documents.parquet").exists():
        print("generating sf10 fixtures...")
        subprocess.run(
            [
                sys.executable,
                str(REPO / "scripts" / "make_sf10.py"),
                str(sf10),
            ],
            check=True,
        )
    slack = float(os.environ.get("SCALE_SLACK", "3.0"))
    load_all()
    spark = get_spark("pyanamo-spark-bench-sf10")
    QUERIES["q_state_counts"](spark, str(sf10)).collect()  # warm JVM

    # reference sf0.1 seconds: the newest archive at this core count
    rnd, ref_path = reference_archive(REPO, spark.sparkContext.defaultParallelism)
    ref = json.loads(ref_path.read_text())["queries"]

    timings: dict[str, float] = {}
    failures: list[str] = []
    rep_errors: dict[str, int] = {}
    for name in HOT_QUERIES:
        best = None
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, str(sf10)).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as exc:  # noqa: BLE001 — a rep may hit a
                # transient executor fault (e.g. the Spark 4.1.2
                # "SparkPlan.session() is null" NPE seen once on a
                # cached-plan re-execution); the other rep still
                # counts, and the query only records a failure when
                # EVERY rep raised — but every per-rep fault is counted
                # in the artifact so a fails-cold/succeeds-warm query
                # cannot record a silently clean timing (ADVICE r10)
                print(f"[ERR ] {name}: {type(exc).__name__}: {exc}")
                rep_errors[name] = rep_errors.get(name, 0) + 1
                continue
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        if best is None:  # every rep raised
            failures.append(name)
            continue
        timings[name] = round(best, 3)
        base = ref.get(name)
        ratio = best / base if base else None
        limit = DATA_RATIO * slack
        flag = ratio is not None and ratio > limit
        if flag:
            failures.append(name)
        print(
            f"[{'FAIL' if flag else 'OK  '}] {name:22s} {best:7.2f}s"
            + (
                f"  ({ratio:5.1f}x of sf0.1 {base:.2f}s, limit {limit:.0f}x)"
                if ratio is not None
                else "  (no sf0.1 reference)"
            )
        )
    spark.stop()

    out = {
        "metric": "worst_scalers_sf10_wall_clock",
        "unit": "sec",
        "sf": 10.0,
        "data_ratio_vs_sf0.1": DATA_RATIO,
        "scale_slack": slack,
        "value": round(sum(timings.values()), 2),
        "queries": timings,
        "ratio_vs_sf0.1": {
            q: round(t / ref[q], 2) for q, t in timings.items() if ref.get(q)
        },
        "failures": failures,
        "rep_errors": rep_errors,
    }
    (REPO / f"BENCH_sf10_r{rnd:02d}.json").write_text(
        json.dumps(out, indent=1)
    )
    print(json.dumps({k: out[k] for k in ("value", "failures")}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
