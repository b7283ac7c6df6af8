"""The two benchmark workloads: their op sequences and output checks.

An op is one public call into the package. ``control_plane`` is the
operator's view of the task table: the task-table queries, with an
``engine.run_engine`` pass over a task slice after every seven of them.
``curation_batch`` is the LLM-data team's view of a corpus: a fixed
curation pass of dedup and tokenizer stages, then one
``similarity.ivf.search_index`` call over an index built during set-up.

Every check runs outside the timed region. A query is checked against
its DuckDB oracle on its first execution in a run; an engine op against
the invariants of ``tests/test_engine.py``; a search batch by recall@k
against an exact top-k computed here in numpy.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from functools import cached_property
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

from pyanamo_spark import semantics
from pyanamo_spark.catalog import TABLES
from pyanamo_spark.engine import run_engine
from pyanamo_spark.registry import ORACLES
from pyanamo_spark.similarity import ivf

CONTROL_QUERIES = (
    "q_point_lookup", "q_state_counts", "q_progress_histogram",
    "q_filter_project", "q_nest_filter", "q_done_nests", "q_item_finalize",
    "q_map_update", "q_item_reset", "q_state_join", "q_lock_protocol",
    "q_log_route", "q_threshold_counts", "q_limit",
)
#: one curation pass, in pipeline order
CURATION_STAGES = (
    "q_dedup_exact", "q_dedup_near", "q_dedup_ngram", "q_dedup_contain",
    "q_bpe_encode",
)
#: control_plane queries between two engine runs
ROUND = 7
#: engine slices are drawn from those within this share of the median size
SLICE_SPREAD = 0.05
ANN_K = 10
#: lowest recall@k a search batch may have before it counts as failed
RECALL_FLOOR = 0.8


@dataclass
class Op:
    kind: str  # "query" | "engine" | "search"
    name: str  # query id, "run_engine" or "search_index"
    arg: int | None = None  # the engine's task slice
    units: int = 1  # documents, nests or query vectors handled


def canon_hash(pdf) -> str:
    """Order-insensitive value hash of a result frame: columns in name
    order, every cell as ``astype(str)``, rows sorted."""
    cells = [pdf[c].astype(str) for c in sorted(pdf.columns)]
    rows = cells[0].str.cat(cells[1:], sep="|").tolist() if cells else []
    return hashlib.sha256("\n".join(sorted(rows)).encode()).hexdigest()[:16]


class Workload:
    """Shared parts: the DuckDB connection over the generated tables and
    the oracle-parity check of query ops."""

    name = ""
    has_index = False
    #: seconds one timed pass takes on the reference 4-core host. A run
    #: times ceil(--seconds / pass_s) passes, so that it does the same
    #: work however fast the host is at the moment: a count taken from
    #: the live clock mixes runs of one and two passes, whose per-op
    #: costs differ, when the host's speed drifts.
    pass_s: float

    def __init__(self, data_dir: Path, work_dir: Path, seed: int, cpus: int):
        self.data = str(data_dir)
        self.work = work_dir
        self.seed = seed
        self.cpus = cpus

    @cached_property
    def duck(self) -> duckdb.DuckDBPyConnection:
        """DuckDB over the generated tables, opened when a check needs it."""
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data}/{t}.parquet')"
            )
        return con

    def close(self) -> None:
        """Close DuckDB and free its memory; the next check reopens it."""
        if "duck" in self.__dict__:
            self.__dict__.pop("duck").close()

    def build_index(self, spark) -> None:
        """One-time build the workload's ops read, counted in ``setup_s``."""

    def check_query(self, name: str, pdf) -> str | None:
        """None when ``pdf`` matches the oracle in columns, rows and
        values; otherwise what differs."""
        want = self.duck.execute(ORACLES[name]).fetchdf()
        if sorted(pdf.columns) != sorted(want.columns):
            return f"columns {sorted(pdf.columns)} != {sorted(want.columns)}"
        if len(pdf) != len(want):
            return f"rows {len(pdf)} != {len(want)}"
        if canon_hash(pdf) != canon_hash(want):
            return "value hash differs"
        return None


class ControlPlane(Workload):
    name = "control_plane"
    pass_s = 8.0

    def __init__(self, *args):
        super().__init__(*args)
        self.rng = np.random.default_rng([self.seed, 7])

    @cached_property
    def slice_nests(self) -> dict[int, int]:
        """Work the engine must run per slice ``taskID = 'task_<t>'``: the
        todo nests of todo nested items plus one per todo single item."""
        sql = semantics.oracle_with_views(
            "SELECT taskID, count(*) FROM (SELECT taskID FROM nests "
            "WHERE ItemState = 'todo' AND status = 'todo' UNION ALL "
            "SELECT taskID FROM tasks WHERE ItemState = 'todo' "
            "AND NOT is_nested) GROUP BY taskID",
            ("tasks", "nests"),
        )
        return {
            int(t.removeprefix("task_")): n
            for t, n in self.duck.execute(sql).fetchall()
        }

    def _slice_sql(self, task: int, body: str):
        sql = semantics.oracle_with_views(
            f"WITH s AS (SELECT * FROM tasks WHERE taskID = 'task_{task}') "
            f"{body}",
            ("tasks", "nests"),
        )
        return self.duck.execute(sql).fetchone()

    @cached_property
    def typical_slices(self) -> list[int]:
        """Slices within SLICE_SPREAD of the median slice's nest count, so
        the seed changes which items run but hardly how many."""
        mid = float(np.median(list(self.slice_nests.values())))
        return sorted(
            t for t, n in self.slice_nests.items()
            if abs(n - mid) <= SLICE_SPREAD * mid
        )

    def engine_op(self) -> Op:
        task = int(self.rng.choice(self.typical_slices))
        return Op("engine", "run_engine", task, self.slice_nests[task])

    def verify_ops(self) -> list[Op]:
        return [Op("query", q) for q in CONTROL_QUERIES] + [self.engine_op()]

    def passes(self):
        """Every query once in a seeded order, with an engine run on a
        seeded slice after every ROUND queries."""
        while True:
            order = self.rng.permutation(len(CONTROL_QUERIES))
            ops = []
            for start in range(0, len(order), ROUND):
                ops += [Op("query", CONTROL_QUERIES[i]) for i in order[start:start + ROUND]]
                ops.append(self.engine_op())
            yield ops

    def run_engine(self, spark, op: Op, op_id: int) -> Path:
        out = self.work / "engine" / f"op{op_id}"
        run_engine(
            spark,
            self.data,
            str(out),
            item_filter=f"taskID = 'task_{op.arg}'",
            parallelism=self.cpus,
        )
        return out

    def check_engine(self, op: Op, out: Path) -> str | None:
        """The invariants of tests/test_engine.py, on the written output:
        every nest ran and exited 0, no todo item is left in the slice,
        done = todo-before + done-before, locked items pass through, and
        each finalized item's Log_Length matches ``results``."""
        todo, done, locked = self._slice_sql(
            op.arg,
            "SELECT count(*) FILTER (ItemState = 'todo'), "
            "count(*) FILTER (ItemState = 'done'), "
            "count(*) FILTER (ItemState = 'locked') FROM s",
        )
        res = f"read_parquet('{out}/results/*.parquet')"
        post = (
            f"read_parquet('{out}/post_tasks/*/*.parquet', hive_partitioning=true)"
        )
        n_res, n_bad = self.duck.execute(
            f"SELECT count(*), count(*) FILTER (exit_code <> 0) FROM {res}"
        ).fetchone()
        if n_res != op.units or n_bad:
            return f"results {n_res} rows ({n_bad} failed), want {op.units}"
        p_todo, p_done, p_locked = self.duck.execute(
            "SELECT count(*) FILTER (ItemState = 'todo'), "
            "count(*) FILTER (ItemState = 'done'), "
            f"count(*) FILTER (ItemState = 'locked') FROM {post}"
        ).fetchone()
        if (p_todo, p_done, p_locked) != (0, todo + done, locked):
            return (
                f"post todo/done/locked {p_todo}/{p_done}/{p_locked}, want "
                f"0/{todo + done}/{locked}"
            )
        (mismatch,) = self.duck.execute(
            f"WITH r AS (SELECT itemID, sum(n_lines) AS lines FROM {res} "
            f"GROUP BY itemID) SELECT count(*) FROM {post} p JOIN r USING "
            "(itemID) WHERE p.Log_Length <> CASE WHEN p.is_nested "
            "THEN p.Nested_Tasks ELSE r.lines END"
        ).fetchone()
        if mismatch:
            return f"{mismatch} items with Log_Length inconsistent with results"
        return None


class CurationBatch(Workload):
    name = "curation_batch"
    has_index = True
    pass_s = 12.0

    def __init__(self, *args):
        super().__init__(*args)
        self.n_docs = pq.ParquetFile(f"{self.data}/documents.parquet").metadata.num_rows
        q = pq.read_table(f"{self.data}/ann_queries.parquet")
        self.queries = np.stack(q["embedding"].to_numpy(zero_copy_only=False))
        self.query_ids = q["vec_id"].to_numpy()
        self.index_dir: str | None = None
        self.recall = 0.0

    @cached_property
    def corpus(self) -> tuple[np.ndarray, np.ndarray]:
        """(ids, unit vectors) of the ANN corpus, for exact top-k."""
        c = pq.read_table(f"{self.data}/ann_corpus.parquet")
        vecs = np.stack(c["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        return c["vec_id"].to_numpy(), vecs / np.linalg.norm(vecs, axis=1, keepdims=True)

    def build_index(self, spark) -> None:
        """Build the IVF index over the ANN corpus."""
        self.index_dir = str(self.work / "ivf_index")
        corpus = spark.read.parquet(f"{self.data}/ann_corpus.parquet")
        ivf.write_index(spark, self.index_dir, corpus=corpus)

    def stage_op(self, name: str) -> Op:
        return Op("query", name, units=self.n_docs)

    def search_op(self) -> Op:
        return Op("search", "search_index", units=len(self.queries))

    def verify_ops(self) -> list[Op]:
        return [self.stage_op(s) for s in CURATION_STAGES] + [self.search_op()]

    def passes(self):
        """The stages in pipeline order, then one index search. None
        starts each pass: the cache is cleared between passes (the first
        one included, after the checking pass), never between stages."""
        while True:
            yield [None] + [self.stage_op(s) for s in CURATION_STAGES] + [self.search_op()]

    def search(self, spark, op: Op):
        rows = [(int(i), v.tolist()) for i, v in zip(self.query_ids, self.queries)]
        q = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        return ivf.search_index(spark, self.index_dir, q, k=ANN_K)

    def check_search(self, op: Op, pdf) -> str | None:
        """recall@k of the returned neighbours against the exact cosine
        top-k (same 6-digit rounding and id tie-break as the index);
        below RECALL_FLOOR counts as a wrong answer."""
        q = self.queries.astype(np.float64)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        ids, unit = self.corpus
        sims = np.round(q @ unit.T, 6)
        got = pdf.groupby("query_id")["vec_id"].apply(set).to_dict()
        hits = [
            len(set(ids[np.lexsort((ids, -sims[row]))[:ANN_K]].tolist()) & got.get(int(qid), set()))
            for row, qid in enumerate(self.query_ids)
        ]
        self.recall = sum(hits) / (ANN_K * len(hits))
        if self.recall < RECALL_FLOOR:
            return f"recall@{ANN_K} {self.recall:.3f} < {RECALL_FLOOR}"
        return None


WORKLOADS = {w.name: w for w in (ControlPlane, CurationBatch)}
