"""One-off scale-proof bench: the hot LLM-path queries at sf1.

sf0.1 verifies correctness and relative cost; this run checks the
bounded-memory / bucketed-candidate claims empirically at 10× the
bench scale — a query whose cost curve is secretly quadratic (or
whose state is secretly corpus-sized) shows up here long before a
cluster does. Writes BENCH_sf1_r{N}.json with per-query seconds and
the scaling ratio vs the same round's sf0.1 archive; flags any query
slower than SCALE_SLACK× the linear expectation (10× data ⇒ 10× time,
with slack for fixed overheads and superlinear-but-sane stages like
sort's log factor).

Run: python scripts/bench_sf1.py   (generates fixtures if absent)
Env: SPARK_GRAFT_CPUS (default 32), SF1_DIR, SCALE_SLACK (default 3).
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

from bench import reference_archive
from pyanamo_spark.registry import QUERIES, load_all
from pyanamo_spark.session import get_spark

#: the hot LLM-pipeline paths the 100 TB design leans on
HOT_QUERIES = [
    # dedup suite
    "q_dedup_exact", "q_dedup_stats", "q_dedup_lines", "q_dedup_near",
    "q_dedup_simhash", "q_dedup_ngram", "q_dedup_contain", "q_dedup_embed",
    "q_dedup_incremental", "q_dedup_clusters", "q_dup_spans",
    "q_dup_passages", "q_source_overlap",
    # similarity / ANN
    "q_knn_topk", "q_knn_ivf", "q_knn_lsh", "q_knn_quantized",
    # exact bounded-memory percentiles family
    "q_percentiles", "q_equidepth", "q_outliers",
    # curation + text scoring
    "q_curation_funnel", "q_hash_split", "q_chunk_documents",
    "q_tfidf", "q_lm_score",
    # retrieval
    "q_bm25", "q_hybrid_search",
    # iterative graph + incremental maintenance + global-rank folds
    "q_pagerank", "q_mv_refresh", "q_curriculum", "q_gini",
    # within-basket self-join, token-stream window, grid calibration
    "q_basket_rules", "q_bigram_entropy", "q_score_calibrate",
    "q_token_budget",
    # web-ingest chain (r06): expression dedup/extraction + the two
    # bytes-local mapInPandas parser stacks
    "q_dedup_url", "q_html_extract", "q_warc_ingest", "q_pdf_extract",
    # r10 additions — remaining expensive paths whose input tables
    # scale at sf1 (lineitem/documents/embeddings; q_table_stats &c
    # read verbatim-copied dims and would ratio trivially):
    # two-pass sufficient-stats CV, doc-word PMI pairing, vocabulary
    # rank fit, triplet mining + audit, and the stored-index
    # lifecycle certification at 10x corpus
    "q_crossval", "q_pmi", "q_zipf", "q_contrastive_pairs",
    "q_index_lifecycle",
]

DATA_RATIO = 10.0  # sf1 / sf0.1


def main() -> int:
    sf1 = Path(os.environ.get("SF1_DIR", REPO / ".fixtures" / "sf1"))
    if not (sf1 / "lineitem.parquet").exists():
        print("generating sf1 fixtures...")
        subprocess.run(
            [sys.executable, str(REPO / "scripts" / "make_sf1.py"), str(sf1)],
            check=True,
        )
    slack = float(os.environ.get("SCALE_SLACK", "3.0"))
    load_all()
    spark = get_spark("pyanamo-spark-bench-sf1")
    QUERIES["q_state_counts"](spark, str(sf1)).collect()  # warm JVM

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
                QUERIES[name](spark, str(sf1)).write.format("noop").mode(
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
        "metric": "hot_llm_path_sf1_wall_clock",
        "unit": "sec",
        "sf": 1.0,
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
    (REPO / f"BENCH_sf1_r{rnd:02d}.json").write_text(
        json.dumps(out, indent=1)
    )
    print(json.dumps({k: out[k] for k in ("value", "failures")}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
