"""The three benchmark workloads: seeded input generators, the timed job,
the oracle each job's output is checked against, and the traced iteration
that breaks one job down by layer.

Every workload follows the same life cycle, driven by ``run.py``:
``generate()`` draws the inputs from the seed (numpy, in this process),
``load(spark)`` hands them to a fresh session (parquet files or an
in-memory DataFrame), ``job()`` is the timed call chain into the engine's
public layer functions, ``check(result)`` compares the output with an
independent oracle outside the timer, and ``traced(tracer)`` runs the
per-layer probes plus one instrumented job.
"""

from __future__ import annotations

import heapq
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from firebird_mapreduce_spark import mapreduce, sources
from firebird_mapreduce_spark.operators import dedup, graph


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([salt, seed])


def _noop(df) -> None:
    """Run ``df`` to completion without collecting or writing it."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )


# --------------------------------------------------------------------------
# number_count: the reference's histogram program on the Firebird API


def count_map(chunk: pd.DataFrame):
    """User map: emit ``(value, 1)`` for every input row."""
    for value in chunk["value"]:
        yield {"value": value, "one": 1}


def count_reduce(key: tuple, group: pd.DataFrame):
    """User reduce: count the group's rows."""
    yield {"value": key[0], "cnt": len(group)}


class NumberCount:
    name = "number_count"
    # ints drawn uniformly from [0, KEYS)
    ROWS = 300_000
    KEYS = 100
    # The 10 M-int input of the full-size program is planned as 3 map tasks
    # on 4 cores.  One small file would give 1 task, so the scaled-down
    # input is written as 3 files to keep that plan.
    FILES = 3

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.path = os.path.join(workdir, "numbers")
        self.sizes = {"rows": self.ROWS, "keys": self.KEYS, "files": self.FILES}
        self.input_rows = self.ROWS

    def generate(self) -> None:
        self.values = _rng(self.seed, 1).integers(0, self.KEYS, self.ROWS, dtype=np.int64)

    def load(self, spark) -> None:
        self.spark = spark
        os.makedirs(self.path, exist_ok=True)
        for i, part in enumerate(np.array_split(self.values, self.FILES)):
            pq.write_table(pa.table({"value": part}), os.path.join(self.path, f"part-{i}.parquet"))

    def expected(self) -> dict[int, int]:
        counts = np.bincount(self.values, minlength=self.KEYS)
        return {k: int(c) for k, c in enumerate(counts) if c}

    def _read(self):
        return sources.read_parquet(self.spark, self.path)

    def job(self):
        return mapreduce.map_reduce(
            self._read(), count_map, "value long, one int", ["value"],
            count_reduce, "value long, cnt long",
        ).toPandas()

    def check(self, out: pd.DataFrame) -> bool:
        got = dict(zip(out["value"].tolist(), out["cnt"].tolist()))
        return len(got) == len(out) and got == self.expected()

    def traced(self, tr, cores: int):
        _, read_s, read_c = tr.call("sources.read_parquet", lambda: _noop(self._read()))
        _, map_s, map_c = tr.call(
            "mapreduce.map_only",
            lambda: _noop(mapreduce.map_only(self._read(), count_map, "value long, one int")),
        )
        out, job_s, job_c = tr.call("mapreduce.map_reduce", self.job)
        metrics = {
            "sources.read_s": read_s,
            "sources.read_rows_per_s": self.ROWS / read_s,
            "sources.failed_tasks": read_c.get("failed_tasks", 0),
            "sources.gc_s": read_c.get("gc_s", 0.0),
            "mapreduce.map_s": map_s,
            "mapreduce.job_s": job_s,
            "mapreduce.shuffle_reduce_s": job_s - map_s,
            "mapreduce.emitted_rows": job_c.get("shuffle_write_rows", 0),
            "mapreduce.shuffle_write_bytes": job_c.get("shuffle_write_bytes", 0),
            "mapreduce.tasks": job_c.get("tasks", 0),
            "mapreduce.core_busy_share": job_c.get("task_s", 0.0) / (job_s * cores),
            "mapreduce.failed_tasks": map_c.get("failed_tasks", 0) + job_c.get("failed_tasks", 0),
            "mapreduce.gc_s": map_c.get("gc_s", 0.0) + job_c.get("gc_s", 0.0),
        }
        return metrics, out, job_s


# --------------------------------------------------------------------------
# shortest_path: iterative SSSP, bound by per-round scheduling


def dijkstra(n: int, src, dst, weight, source: int) -> dict[int, float]:
    """Serial Dijkstra over the undirected graph (the oracle)."""
    adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for s, d, w in zip(src.tolist(), dst.tolist(), weight.tolist()):
        adj[s].append((d, w))
        adj[d].append((s, w))
    dist = {source: 0.0}
    heap = [(0.0, source)]
    while heap:
        du, u = heapq.heappop(heap)
        if du > dist[u]:
            continue
        for v, w in adj[u]:
            dv = du + w
            if dv < dist.get(v, float("inf")):
                dist[v] = dv
                heapq.heappush(heap, (dv, v))
    return dist


class ShortestPath:
    name = "shortest_path"
    # A random multigraph, mirrored by graph.undirected.  Degree and weight
    # range are chosen so that frontier relaxation from node 0 converges in
    # 4 rounds on every seed tried (syn.graph's shape needs 24-28 rounds,
    # which do not fit the benchmark's run time; see README.md).
    NODES = 500
    EDGES = 10_000
    MAX_WEIGHT = 3
    SOURCE = 0

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.sizes = {
            "nodes": self.NODES, "edges": self.EDGES,
            "directed_edge_rows": 2 * self.EDGES, "max_weight": self.MAX_WEIGHT,
        }
        self.input_rows = 2 * self.EDGES
        self._expected = None

    def generate(self) -> None:
        rng = _rng(self.seed, 2)
        self.src = rng.integers(0, self.NODES, self.EDGES, dtype=np.int64)
        self.dst = rng.integers(0, self.NODES, self.EDGES, dtype=np.int64)
        self.weight = rng.integers(1, self.MAX_WEIGHT + 1, self.EDGES).astype(np.float64)

    def load(self, spark) -> None:
        self.spark = spark
        pdf = pd.DataFrame({"src": self.src, "dst": self.dst, "weight": self.weight})
        self.edges = graph.undirected(spark.createDataFrame(pdf))

    def expected(self) -> dict[int, float]:
        if self._expected is None:
            self._expected = dijkstra(self.NODES, self.src, self.dst, self.weight, self.SOURCE)
        return self._expected

    def job(self, trace: list | None = None):
        return graph.sssp(self.spark, self.edges, self.SOURCE, trace=trace).toPandas()

    def check(self, out: pd.DataFrame) -> bool:
        got = dict(zip(out["node"].tolist(), out["dist"].tolist()))
        return len(got) == len(out) and got == self.expected()

    def traced(self, tr, cores: int):
        rounds_trace: list = []
        out, sssp_s, c = tr.call("graph.sssp", lambda: self.job(trace=rounds_trace))
        rounds = rounds_trace[-1][0] + 1
        jobs = c.get("jobs", 0)
        metrics = {
            "graph.sssp_s": sssp_s,
            "graph.rounds": rounds,
            "graph.round_s": sssp_s / rounds,
            "graph.spark_jobs": jobs,
            "graph.jobs_per_round": jobs / rounds,
            "graph.shuffle_write_bytes": c.get("shuffle_write_bytes", 0),
            "graph.reached_nodes": len(out),
            "graph.failed_tasks": c.get("failed_tasks", 0),
            "graph.gc_s": c.get("gc_s", 0.0),
        }
        return metrics, out, sssp_s


# --------------------------------------------------------------------------
# near_dedup: MinHash-LSH candidate self-join, then write the survivors


class NearDedup:
    name = "near_dedup"
    BASE_DOCS = 1_500
    TOKENS = 120
    VOCAB = 50_000
    # shares of base documents that get a planted near copy (last 3 tokens
    # dropped) and a planted exact copy; drawn independently
    NEAR_SHARE = 0.10
    EXACT_SHARE = 0.10

    def __init__(self, seed: int, workdir: str):
        self.seed = seed
        self.path = os.path.join(workdir, "docs.parquet")
        self.out = os.path.join(workdir, "survivors.parquet")
        self.probe_out = os.path.join(workdir, "write_probe.parquet")
        n_near = int(self.BASE_DOCS * self.NEAR_SHARE)
        n_exact = int(self.BASE_DOCS * self.EXACT_SHARE)
        self.sizes = {
            "base_docs": self.BASE_DOCS, "near_copies": n_near,
            "exact_copies": n_exact, "tokens_per_doc": self.TOKENS,
            "vocabulary": self.VOCAB,
        }
        self.input_rows = self.BASE_DOCS + n_near + n_exact

    def generate(self) -> None:
        rng = _rng(self.seed, 3)
        b = self.BASE_DOCS
        zipf = np.cumsum(1.0 / np.arange(1, self.VOCAB + 1))
        toks = np.searchsorted(zipf / zipf[-1], rng.random((b, self.TOKENS)))
        texts = [" ".join(f"t{t}" for t in row) for row in toks.tolist()]
        near = rng.choice(b, self.sizes["near_copies"], replace=False)
        exact = rng.choice(b, self.sizes["exact_copies"], replace=False)
        ids = np.arange(self.input_rows, dtype=np.int64)
        near_ids = ids[b : b + len(near)]
        exact_ids = ids[b + len(near) :]
        texts += [texts[i].rsplit(" ", 3)[0] for i in near.tolist()]
        texts += [texts[i] for i in exact.tolist()]
        self.docs = pd.DataFrame({"doc_id": ids, "text": texts})
        # the planted duplicate groups: every pair inside one group
        groups: dict[int, list[int]] = {}
        for base, copy in zip(np.concatenate([near, exact]).tolist(),
                              np.concatenate([near_ids, exact_ids]).tolist()):
            groups.setdefault(base, [base]).append(copy)
        self.planted = {
            (a, c) for g in groups.values() for i, a in enumerate(g) for c in g[i + 1 :]
        }
        self.planted_near = set(zip(near.tolist(), near_ids.tolist()))
        self.planted_exact = set(zip(exact.tolist(), exact_ids.tolist()))

    def load(self, spark) -> None:
        self.spark = spark
        pq.write_table(pa.Table.from_pandas(self.docs, preserve_index=False), self.path)

    def _read(self):
        return sources.read_parquet(self.spark, self.path)

    def job(self) -> pd.DataFrame:
        """Mine the candidate pairs, write the survivors; returns the pairs."""
        docs = self._read()
        pairs = dedup.minhash_pairs(docs).toPandas()
        dropped = self.spark.createDataFrame(
            pd.DataFrame({"doc_id": pairs["b_id"].unique().astype(np.int64)}), "doc_id long"
        )
        sources.write_parquet(docs.join(dropped, "doc_id", "left_anti"), self.out)
        return pairs

    def check(self, pairs: pd.DataFrame) -> bool:
        cand = set(map(tuple, pairs[["a_id", "b_id"]].itertuples(index=False)))
        survived = set(pq.read_table(self.out, columns=["doc_id"])["doc_id"].to_pylist())
        dropped = {b for _, b in cand}
        return (
            self.planted_exact <= cand
            and survived == set(self.docs["doc_id"].tolist()) - dropped
        )

    def traced(self, tr, cores: int):
        _, read_s, read_c = tr.call("sources.read_parquet", lambda: _noop(self._read()))
        _, sig_s, sig_c = tr.call(
            "dedup.minhash_signatures",
            lambda: _noop(dedup.minhash_signatures(self._read())),
        )
        pdf, pairs_s, pairs_c = tr.call(
            "dedup.minhash_pairs", lambda: dedup.minhash_pairs(self._read()).toPandas()
        )
        cand = set(map(tuple, pdf[["a_id", "b_id"]].itertuples(index=False)))
        dropped = set(pdf["b_id"].tolist())
        kept = self.docs[~self.docs["doc_id"].isin(dropped)]
        survivors = self.spark.createDataFrame(kept)
        _, write_s, write_c = tr.call(
            "sources.write_parquet",
            lambda: sources.write_parquet(survivors, self.probe_out),
        )
        out, job_s, job_c = tr.call("near_dedup.job", self.job)
        metrics = {
            "sources.read_s": read_s,
            "sources.read_rows_per_s": self.input_rows / read_s,
            "sources.write_s": write_s,
            "sources.write_bytes_per_input_byte": _dir_bytes(self.probe_out)
            / _dir_bytes(self.path),
            "sources.failed_tasks": read_c.get("failed_tasks", 0) + write_c.get("failed_tasks", 0),
            "sources.gc_s": read_c.get("gc_s", 0.0) + write_c.get("gc_s", 0.0),
            "dedup.signatures_s": sig_s,
            "dedup.pairs_s": pairs_s,
            "dedup.join_s": pairs_s - sig_s,
            "dedup.candidate_pairs": len(cand),
            "dedup.lsh_precision": len(cand & self.planted) / max(len(cand), 1),
            "dedup.near_recall": len(cand & self.planted_near) / len(self.planted_near),
            "dedup.failed_tasks": sum(c.get("failed_tasks", 0) for c in (sig_c, pairs_c, job_c)),
            "dedup.gc_s": sum(c.get("gc_s", 0.0) for c in (sig_c, pairs_c, job_c)),
        }
        return metrics, out, job_s


WORKLOADS = {w.name: w for w in (NumberCount, ShortestPath, NearDedup)}
