"""IVF (inverted-file) approximate nearest neighbor search — the
second scale path for X3 alongside sign-LSH (similarity/knn.py).

Structure (FAISS IVF-flat shape, composed from DataFrame ops only):
  1. coarse quantizer: 16 centroids — deterministic seeds (the 16
     lowest vec_ids) refined by one Lloyd iteration, computed with
     posexplode → per-(cluster, dim) means → re-assembled arrays.
     No MLlib model artifact: the centroid table IS the index.
  2. assignment: every vector joins its nearest centroid (broadcast
     16-row centroid table; argmin via min-of-struct, no window).
  3. search: a query probes its ``NPROBE`` nearest centroids and ranks
     only vectors in those inverted lists.

At 100 TB the assignment column is the partition key of the stored
table: a probe reads nprobe/C of the data (2/16 here), and the
centroid refinement is a one-pass aggregation per iteration. Rows-only
(argmin tie-breaks and centroid arithmetic are not worth mirroring in
the oracle); recall and self-match are asserted in
tests/test_similarity.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyanamo_spark.functions.vectors import dot
from pyanamo_spark.registry import register

N_CENTROIDS = 16
NPROBE = 2
K = 5
N_QUERIES = 3


def _nearest(df: DataFrame, centroids: DataFrame, n: int = 1) -> DataFrame:
    """Attach each row's n nearest centroid ids by cosine.

    The centroid model is tiny by construction (N_CENTROIDS rows), so
    it rides into every task as a closure-captured numpy matrix and the
    scoring is one BLAS matmul per Arrow batch inside ``mapInPandas`` —
    no cross join, no per-(vector, centroid) row blowup, no argmin
    shuffle. The earlier DataFrame form (broadcast cross join +
    max-of-struct groupBy) shuffled |corpus| × |centroids| scored rows
    to reduce them straight back down; this emits exactly n rows per
    vector map-side. Ties break toward the lower centroid id (argmax on
    a stable sort), matching the struct-ordering tie-break it replaces."""
    rows = sorted(
        centroids.collect(), key=lambda r: r.centroid_id
    )
    if not rows:
        raise ValueError(
            "IVF needs a non-empty centroid model — the corpus has no "
            "embeddings to seed from"
        )
    c_ids = np.array([r.centroid_id for r in rows], dtype=np.int64)
    c_mat = np.stack([np.asarray(r.c_emb, dtype=np.float64) for r in rows])
    c_unit = c_mat / np.linalg.norm(c_mat, axis=1, keepdims=True)
    take = min(n, len(c_ids))

    def assign(batches):
        for pdf in batches:
            pdf = pdf[pdf["embedding"].notna()]  # unassignable rows
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            nrm = np.linalg.norm(mat, axis=1)
            nrm[nrm == 0.0] = 1.0
            sims = (mat / nrm[:, None]) @ c_unit.T
            # n is 1 or 2 here; argsort on N_CENTROIDS cols is cheap
            order = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(), take
                    ),
                    "centroid_id": c_ids[order].ravel(),
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, centroid_id bigint"
    )


def _lloyd_step(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd iteration: assign, then a per-cluster vectorized mean
    — one shuffle of (centroid_id, embedding) and a numpy column mean
    per group. The earlier posexplode → per-(cluster, dim) aggregation
    form shuffled |corpus| × dim scalar rows for the same result."""
    assign = _nearest(emb, centroids, 1)

    def mean_centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        m = (
            np.stack(pdf["embedding"].to_numpy())
            .astype(np.float64)
            .mean(axis=0)
        )
        return pd.DataFrame(
            {
                "centroid_id": [int(pdf["centroid_id"].iloc[0])],
                "c_emb": [m.tolist()],
                "c_nrm": [float(np.linalg.norm(m))],
            }
        )

    return (
        emb.join(assign, "vec_id")
        .select("centroid_id", "embedding")
        .groupBy("centroid_id")
        .applyInPandas(
            mean_centroid,
            "centroid_id bigint, c_emb array<double>, c_nrm double",
        )
    )


def build_index(
    spark: SparkSession, iters: int = 1
) -> tuple[DataFrame, DataFrame]:
    """Returns (assignments, centroids): the inverted lists and the
    coarse quantizer after ``iters`` Lloyd refinements of the seed
    centroids. Each iteration is one pass over the data. Lineage stays
    flat across iterations because ``_nearest`` collects the incoming
    16-row centroid model to the driver — the small-model-to-driver
    move every k-means implementation makes; without it iteration N
    re-derives every previous iteration."""
    return _build_from(spark.table("embeddings"), iters)


def _build_from(
    corpus: DataFrame, iters: int = 1
) -> tuple[DataFrame, DataFrame]:
    """build_index over an explicit (vec_id, embedding, ...) corpus —
    rebuild_index trains on the stored lists themselves, not the
    session's embeddings view. Seeds are the N_CENTROIDS lowest
    vec_ids present (deterministic for any corpus, including one
    whose low ids were deleted). ``iters=0`` skips Lloyd refinement
    and lists against the raw seed centroids — a valid (if unrefined)
    quantizer for callers certifying index MECHANICS rather than
    recall (q_index_lifecycle); production callers keep >= 1."""
    emb = corpus.withColumn(
        "nrm", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    )
    # orderBy+limit plans as TakeOrderedAndProject — per-partition
    # top-16 then a driver merge, never a full sort (identical to the
    # old vec_id < N_CENTROIDS filter when ids 0..15 exist)
    seeds = (
        emb.filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding", "nrm")
        .orderBy("vec_id")
        .limit(N_CENTROIDS)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )
    centroids = seeds
    for _ in range(max(0, iters)):
        centroids = _lloyd_step(emb, centroids)
    if iters > 0:
        # lazy persist of the refined model (r13): each consumer
        # (_nearest's eager collect for assignment, probe selection,
        # the centroids write) otherwise re-runs the whole Lloyd
        # aggregation — ivf_topk paid it twice. The first collect
        # materializes the 16-row cache; later ones read it. sf0.1
        # in-process A/B: q_knn_ivf 2.07 → 1.65 s. Seed-only builds
        # (iters=0) skip the persist — caching a TakeOrdered costs
        # more than it saves (measured on q_index_lifecycle). A
        # collect-to-local-relation variant was tried first and
        # measured SLOWER on both (the createDataFrame plan swap cost
        # more than the saved recompute); the persist keeps the plan
        # identical.
        centroids = centroids.persist()
    assignments = _nearest(emb, centroids, 1)
    return assignments, centroids


def resolve_index_dir(index_dir: str) -> str:
    """Concrete directory holding the CURRENT ``lists``/``centroids``
    pair. Stored indexes are versioned with the snapshot-commit
    pointer protocol (sources/snapshots.py): ``index_dir/_CURRENT``
    names the committed ``v=NNNNNNNN`` directory, and rebuilds publish
    a whole new version before atomically swinging the pointer —
    readers resolve once per call and never observe a half-swapped
    index. A directory without a pointer is a legacy flat store and
    resolves to itself."""
    from pyanamo_spark.sources.snapshots import current_version, version_dir

    v = current_version(index_dir)
    return index_dir if v is None else version_dir(index_dir, v)


def _commit_version(index_dir: str, writer) -> int:
    """Publish ``writer``'s output as the next index version via the
    shared snapshot-commit protocol (sources/snapshots.py) — one
    implementation of the tmp-file/fsync/os.replace publish and of
    crash-retry orphan clearing, not two that can drift. Index
    MUTATIONS (write/append/rebuild) are single-writer by that
    module's contract: production fences them with a lease; readers
    need no coordination."""
    from pyanamo_spark.sources.snapshots import commit_version

    return commit_version(index_dir, writer)


def write_index(
    spark: SparkSession,
    index_dir: str,
    iters: int = 2,
    corpus: DataFrame | None = None,
) -> None:
    """Persist the IVF index: inverted lists as parquet PARTITIONED BY
    centroid_id (the probe unit), centroids as a side table — written
    as snapshot version 1 under the pointer protocol (see
    resolve_index_dir).

    This is the production shape the inline q_knn_ivf only simulates:
    build once, then every search is a partition-pruned read of
    nprobe/N_CENTROIDS of the corpus — the scan never touches
    unprobed lists. Re-partitioning by centroid_id also co-locates
    each list into its own files, so a probe is sequential I/O.

    ``corpus`` overrides the session ``embeddings`` view — a caller
    indexing a subset (or a lifecycle certification running on a
    deterministic sample) passes it explicitly; the schema contract is
    the lists' base columns (vec_id, embedding, label)."""
    source = corpus if corpus is not None else spark.table("embeddings")
    assignments, centroids = _build_from(source, iters)
    emb = source.withColumn(
        "nrm", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    )

    def writer(vdir: str) -> None:
        (
            emb.join(assignments, "vec_id")
            .repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .parquet(f"{vdir}/lists")
        )
        centroids.write.parquet(f"{vdir}/centroids")

    try:
        _commit_version(index_dir, writer)
    finally:
        centroids.unpersist()  # _build_from's model cache


def vacuum_index(index_dir: str, keep: int = 2) -> int:
    """Prune old index versions (and crash orphans) beyond the last
    ``keep`` — rebuilds create a full copy per version, so an index
    that re-trains on a cadence grows without this. Same retention
    contract as the snapshots module: readers must not hold a search
    plan across more than ``keep`` rebuilds. Returns directories
    removed; a legacy flat store has no versions to prune."""
    from pyanamo_spark.sources.snapshots import vacuum

    return vacuum(index_dir, keep=keep)


#: rebuild when the largest inverted list exceeds this multiple of the
#: mean list size — frozen-centroid appends degrade probes by
#: imbalance first (append_to_index docstring), so imbalance IS the
#: rebuild signal
REBUILD_IMBALANCE = 3.0


def rebuild_index(
    spark: SparkSession,
    index_dir: str,
    imbalance_threshold: float = REBUILD_IMBALANCE,
    iters: int = 2,
) -> int | None:
    """Consume the growth signal ``append_to_index`` documents: when
    the largest inverted list exceeds ``imbalance_threshold`` x the
    mean list size, re-train the coarse quantizer ON THE STORED
    VECTORS (the lists are the corpus of record — the embeddings view
    may have moved on), write the re-listed index as a NEW snapshot
    version, and atomically swing the pointer. Readers holding a
    DataFrame from before the swap keep their version (snapshot_read
    semantics); new ``search_index`` calls resolve the rebuilt one —
    never a mix. Returns the committed version, or None when balance
    is within bounds and no rebuild was needed."""
    vdir_now = resolve_index_dir(index_dir)
    lists = spark.read.parquet(f"{vdir_now}/lists")
    sizes = [
        r.n
        for r in lists.groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    if not sizes or max(sizes) <= imbalance_threshold * (
        sum(sizes) / len(sizes)
    ):
        return None
    corpus = lists.drop("centroid_id", "nrm")
    assignments, centroids = _build_from(corpus, iters)
    relisted = corpus.withColumn(
        "nrm", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    ).join(assignments, "vec_id")

    def writer(vdir: str) -> None:
        (
            relisted.repartition("centroid_id")
            .write.partitionBy("centroid_id")
            .parquet(f"{vdir}/lists")
        )
        centroids.write.parquet(f"{vdir}/centroids")

    try:
        return _commit_version(index_dir, writer)
    finally:
        centroids.unpersist()  # _build_from's model cache


def append_to_index(
    spark: SparkSession, index_dir: str, vectors: DataFrame
) -> dict[int, int]:
    """Incrementally add vectors to a stored IVF index WITHOUT a
    rebuild: assign against the FROZEN stored centroids, append into
    the centroid-partitioned lists. New vectors are visible to the
    next ``search_index`` call (partition pruning is unchanged — the
    appended files land inside existing centroid_id partitions, or
    create new ones only if a list was previously empty).

    ``vectors`` must carry the lists' base columns (vec_id, embedding,
    label) so appended parquet files share the schema.

    Returns {centroid_id: n_appended} — the rebuild signal:
    because centroids are frozen, a drifting corpus degrades recall by
    IMBALANCE first (hot lists grow, probes scan more than
    1/N_CENTROIDS of the corpus). ``rebuild_index`` consumes the
    signal: it measures the stored list sizes and re-trains + swaps
    atomically once the largest list passes REBUILD_IMBALANCE x the
    mean. This is the FAISS/IVF operational contract: cheap adds
    between periodic re-trains. Appends land INSIDE the current
    snapshot version (they extend it, which is the point — new
    vectors become searchable without a commit).

    Single-writer contract (sources/snapshots.py): appends and
    rebuilds must be serialized by the caller (production holds a
    lease across mutations). An append racing a rebuild would write
    into the version the rebuild is about to orphan — its vectors
    would survive only in the old directory and vanish from new
    searches once the pointer swings."""
    vdir = resolve_index_dir(index_dir)
    centroids = spark.read.parquet(f"{vdir}/centroids")
    v = vectors.withColumn(
        "nrm", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    )
    # lazy persist: the assignment plan (the caller's vectors pipeline
    # + the mapInPandas scorer) has two consumers — the append write
    # and the returned per-list stats — and re-ran whole for each
    # (r13). The write materializes the cache; the stats aggregate
    # reads it. Batch-sized, released right after the stats collect.
    assignments = _nearest(v, centroids, 1).persist()
    appended = v.join(assignments, "vec_id")
    (
        appended.repartition("centroid_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{vdir}/lists")
    )
    stats = {
        r.centroid_id: r.n
        for r in assignments.groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assignments.unpersist()
    return stats


def search_index(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = K,
    nprobe: int = NPROBE,
) -> DataFrame:
    """Search a stored IVF index: probe selection against the tiny
    centroid table, then a partition-pruned scan of only the probed
    inverted lists.

    The probed centroid ids are collected (≤ nprobe × n_queries
    values) and pushed as a literal IN filter on the partition column —
    static partition pruning the scan planner honors unconditionally
    (the broadcast-join-driven alternative relies on runtime dynamic
    partition pruning; the literal form is guaranteed and testable).

    ``queries`` needs (vec_id, embedding) columns. The snapshot
    pointer is resolved ONCE here: the returned plan is bound to one
    immutable index version even if a rebuild commits mid-flight."""
    vdir = resolve_index_dir(index_dir)
    centroids = spark.read.parquet(f"{vdir}/centroids")
    lists = spark.read.parquet(f"{vdir}/lists")
    q = queries.select(
        "vec_id",
        "embedding",
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    probes = _nearest(q, centroids, nprobe).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    probe_ids = sorted(
        {r.centroid_id for r in probes.select("centroid_id").collect()}
    )
    q_side = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    ).join(probes, "query_id")
    scored = (
        lists.filter(F.col("centroid_id").isin(probe_ids))
        .join(F.broadcast(q_side), "centroid_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


@register(
    "q_knn_ivf",
    oracle=f"""
SELECT vec_id AS query_id,
       CAST(LEAST({K}, (SELECT COUNT(*) FROM embeddings)) AS BIGINT)
         AS n_exact,
       CAST(1 AS INTEGER) AS self_ok,
       CAST(1 AS INTEGER) AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 IVF search, audited: probe the 2 nearest refined centroids,
    rank only those inverted lists, then certify the result in-engine
    against the exact brute-force ranking (knn.ann_audit) — self at
    rank 1 with cosine 1.0, recall@k ≥ IVF_RECALL_FLOOR (measured
    0.8-1.0 across sf0.001-0.1 probing 2/16 lists), exact top-k
    counts. The raw neighbor rows stay available as ``ivf_topk``;
    the DECLARED output is the audit because probe membership follows
    the seeded k-means partition DuckDB cannot replay."""
    from pyanamo_spark.similarity.knn import (
        IVF_RECALL_FLOOR,
        ann_audit,
    )

    return ann_audit(spark, ivf_topk(spark, sf_dir), IVF_RECALL_FLOOR)


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw IVF top-k (library form): queries (vec_id < 3) probe their
    2 nearest refined centroids and rank only those inverted lists."""
    emb = spark.table("embeddings").withColumn(
        "nrm", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    )
    assignments, centroids = build_index(spark)
    listed = emb.join(assignments, "vec_id")

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    probes = _nearest(queries, centroids, NPROBE).select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    q_side = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    ).join(probes, "query_id")

    scored = listed.join(
        F.broadcast(q_side), "centroid_id"
    ).select(
        "query_id",
        "vec_id",
        F.round(
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm")),
            6,
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= K)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


@register(
    "q_index_lifecycle",
    oracle="""
SELECT * FROM (VALUES
  ('v1_committed', 1),
  ('noop_rebuild_within_threshold', 1),
  ('append_visible_without_commit', 1),
  ('rebuild_commits_v2', 1),
  ('reader_isolated_across_rebuild', 1),
  ('vacuum_retention', 1)
) AS t(check_name, ok)
""",
)
def q_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored-IVF index lifecycle, certified in-engine (VERDICT r09
    item 6 — ``rebuild_index``/``vacuum_index`` were test-only): one
    flag row per contract over a scratch index built from the
    ``embeddings`` table, with the oracle pinning that every flag
    must read 1 (the r09 audit-conversion recipe — the lifecycle's
    concrete states are filesystem-specific, so DuckDB certifies the
    flags, and the flags are computed from real engine actions):

    - ``v1_committed``: ``write_index`` publishes snapshot version 1
      behind the ``_CURRENT`` pointer.
    - ``noop_rebuild_within_threshold``: ``rebuild_index`` returns
      None (no new version) while list imbalance is inside the
      threshold.
    - ``append_visible_without_commit``: ``append_to_index`` lands a
      deterministic skewed batch (35% of the corpus, all copies of
      the lowest-id vector, ids offset +10M) INSIDE the current
      version — searchable immediately, pointer unmoved.
    - ``rebuild_commits_v2``: the skew pushes the largest list past
      REBUILD_IMBALANCE x the mean, so ``rebuild_index`` re-trains on
      the stored lists and commits version 2 with the full corpus
      re-listed.
    - ``reader_isolated_across_rebuild``: a reader resolved at v1
      still reads its complete v1 rows after the pointer swings, and
      the fresh resolve points at a different directory.
    - ``vacuum_retention``: ``vacuum_index(keep=1)`` prunes exactly
      the superseded version; the current one still resolves and
      reads in full.
    """
    import math
    import shutil
    import tempfile

    from pyanamo_spark.sources.snapshots import current_version

    index_dir = tempfile.mkdtemp(prefix="ivf_lifecycle_")
    # every Spark action in this query runs INSIDE the function body
    # (the returned frame is a local relation of computed flags), so a
    # scoped shuffle width is safe — and right: the scratch corpus is
    # a deliberate ~5% sample, and at the session's 32-wide default
    # each of the ~15 jobs here fans tiny shuffles into 32 near-empty
    # tasks (AQE's parallelismFirst keeps them un-coalesced). Sizing
    # the width to the data is the same rule the 100 TB design applies
    # in the other direction.
    # SINGLE-THREADED-SESSION ASSUMPTION (ADVICE r11): the conf is
    # session-global, so a concurrent query on this SparkSession (or a
    # frame captured mid-window and actioned later) would plan width-1.
    # The suite runs queries serially and this body actions everything
    # it builds, so that cannot happen here; a concurrent deployment
    # should scope this via spark.newSession() instead.
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        # seed-only quantizer per (re)build, over a DETERMINISTIC SAMPLE of
        # the corpus (vec_id % 20 — VERDICT r10 item 2): the lifecycle
        # certifies the version/pointer/retention protocol, not
        # quantizer quality (q_knn_ivf owns the recall certification),
        # so training and re-listing the full embeddings table here
        # only made this the most expensive seat in the suite. Every
        # protocol check below derives its expectations from the
        # sampled index's own measured counts, so the flags are
        # sample-size-independent.
        emb = (
            spark.table("embeddings")
            .filter(F.col("embedding").isNotNull())
            .filter(F.col("vec_id") % 20 == 0)
        )
        # iters=0: the seed-centroid quantizer is all the protocol
        # needs — each Lloyd pass costs a full corpus job per build
        write_index(spark, index_dir, iters=0, corpus=emb)
        v1 = current_version(index_dir)
        v1dir = resolve_index_dir(index_dir)
        n1 = spark.read.parquet(f"{v1dir}/lists").count()
        noop = rebuild_index(spark, index_dir, imbalance_threshold=1e9)
        target = (
            emb.orderBy("vec_id")
            .limit(1)
            .select(F.col("embedding").alias("t_emb"))
        )
        # 35% of the corpus into ONE list: list >= 0.35*n vs
        # 3 x mean = 3*(1.35n/16) ~ 0.25*n — guaranteed trigger
        a = max(1, math.ceil(0.35 * n1))
        adds = (
            emb.orderBy("vec_id")
            .limit(a)
            .crossJoin(F.broadcast(target))
            .select(
                (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
                F.col("t_emb").alias("embedding"),
                "label",
            )
        )
        stats = append_to_index(spark, index_dir, adds)
        fresh_n = spark.read.parquet(
            f"{resolve_index_dir(index_dir)}/lists"
        ).count()
        append_ok = (
            current_version(index_dir) == v1
            and fresh_n == n1 + a
            and sum(stats.values()) == a
        )
        v2 = rebuild_index(spark, index_dir, iters=0)
        old_reader_n = spark.read.parquet(f"{v1dir}/lists").count()
        v2dir = resolve_index_dir(index_dir)
        n2 = spark.read.parquet(f"{v2dir}/lists").count()
        removed = vacuum_index(index_dir, keep=1)
        post_n = spark.read.parquet(
            f"{resolve_index_dir(index_dir)}/lists"
        ).count()
        rows = [
            ("v1_committed", int(v1 == 1)),
            ("noop_rebuild_within_threshold", int(noop is None)),
            ("append_visible_without_commit", int(append_ok)),
            (
                "rebuild_commits_v2",
                int(v2 == (v1 or 0) + 1 and n2 == n1 + a),
            ),
            (
                "reader_isolated_across_rebuild",
                int(v2dir != v1dir and old_reader_n == n1 + a),
            ),
            (
                "vacuum_retention",
                int(
                    removed == 1
                    and current_version(index_dir) == v2
                    and post_n == n1 + a
                ),
            ),
        ]
        return spark.createDataFrame(
            rows, "check_name string, ok int"
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_width)
        shutil.rmtree(index_dir, ignore_errors=True)
