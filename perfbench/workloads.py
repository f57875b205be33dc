"""The two workloads: curate and index_serve.

Each workload is a class with the same shape:

- ``SIZE`` / ``TINY``: input sizes for a benchmark run and for the smoke
  tests;
- ``warm(spark)``: the warm-up job of a set-up;
- ``round(spark, trace)``: one unit of work, timed by the caller; it returns
  a result that ``check`` verifies outside the timed region;
- ``items``: work items one round completes (documents or vectors);
- ``layer_counters(spark)``: the workload's extra per-layer counters, read
  after the rounds of a traced run.

Only public functions of ``parquetaivectorsearch_spark`` are called, and the
engine sees nothing but the generated parquet. In a traced round each layer's
output is forced at its span boundary (``localCheckpoint`` or an action), so
the span measures that layer; untraced rounds leave Spark's lazy plan alone.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from pyspark.sql import functions as F

from parquetaivectorsearch_spark.functions.bpe import bpe_token_count, train_merges
from parquetaivectorsearch_spark.operators import ann, dedup, hnsw, knn
from parquetaivectorsearch_spark.sources.parquet import scan_parquet_dir

from perfbench import gen
from perfbench.gen import K, TextSize, VectorSize

QUERY_SCHEMA = "query_id BIGINT, query_vec ARRAY<FLOAT>"
ENGINE_MODULES = ("parquetaivectorsearch_spark.functions.bpe",
                  "parquetaivectorsearch_spark.operators.ann",
                  "parquetaivectorsearch_spark.operators.dedup",
                  "parquetaivectorsearch_spark.operators.hnsw",
                  "parquetaivectorsearch_spark.operators.knn")


class CheckFailed(Exception):
    """A round's output did not match the benchmark's truth."""


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _force(df, trace):
    """Materialize ``df`` at a span boundary in traced rounds only."""
    return df.localCheckpoint(eager=True) if trace.enabled else df


def _queries_df(spark, q: np.ndarray, ids) -> "DataFrame":
    return spark.createDataFrame(
        [(int(i), q[i].tolist()) for i in ids], QUERY_SCHEMA)


def _recall(found: dict[int, list[int]], truth_ids: np.ndarray, ids) -> float:
    hit = sum(len(set(found.get(int(i), [])) & set(truth_ids[i].tolist()))
              for i in ids)
    return hit / (K * len(ids))


def _check_topk(rows_by_q: dict[int, list[tuple[int, float]]], ids) -> None:
    """k rows per query, ascending distances."""
    for i in ids:
        got = rows_by_q.get(int(i), [])
        _require(len(got) == K, f"query {i}: {len(got)} rows, want {K}")
        d = [r[1] for r in got]
        _require(all(a <= b for a, b in zip(d, d[1:])),
                 f"query {i}: distances not ascending")


def _group(rows) -> dict[int, list[tuple[int, float]]]:
    """query_id -> [(vec_id, distance)] in (distance, id) order."""
    out: dict[int, list[tuple[int, float]]] = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.distance, r.vec_id)):
        out.setdefault(int(r.query_id), []).append((int(r.vec_id), float(r.distance)))
    return out


class Workload:
    name = ""
    SIZE = None
    TINY = None

    def __init__(self, inputs: dict, work: str, size):
        self.inputs = inputs
        self.work = work
        self.size = size
        self.quality = 1.0

    def warm(self, spark) -> None:
        """The set-up's warm-up job: the corpus through a pandas UDF that
        starts a Python worker per core and imports the engine's modules in
        it, so the first timed round pays no per-context start-up cost."""
        @F.pandas_udf("long")
        def width(s):
            import importlib

            for m in ENGINE_MODULES:
                importlib.import_module(m)
            return s.map(len)

        col = "text" if isinstance(self.size, TextSize) else "embedding"
        scan_parquet_dir(spark, self.inputs["corpus"]) \
            .select(F.sum(width(col))).collect()


# ---------------------------------------------------------------------------
# curate: ingest + BPE token counts + MinHash near-duplicate removal
# ---------------------------------------------------------------------------

class Curate(Workload):
    """Heavy on sources, functions.bpe and operators.dedup (a shuffle
    self-join); the vector layers do nothing."""

    name = "curate"
    SIZE = TextSize(docs=1000, files=16, vocab=1500, words=(60, 140),
                    clusters=150, dim=1536)
    TINY = TextSize(docs=200, files=4, vocab=300, words=(30, 60),
                    clusters=10, dim=8)
    N_MERGES = 100

    def __init__(self, inputs, work, size):
        super().__init__(inputs, work, size)
        self.pairs = set(gen.load_pairs(inputs["dir"]))
        self.n_docs = None
        self.found = 0
        self.token_totals: list[int] = []

    @property
    def items(self):
        return self.n_docs

    def _docs(self, spark):
        return scan_parquet_dir(
            spark, self.inputs["corpus"], columns=["doc_id", "title", "text"],
        ).select("doc_id", F.concat_ws(" ", "title", "text").alias("text"))

    def round(self, spark, trace):
        out_dir = os.path.join(self.work, "curated")
        with trace.span("curate.round", new_trace=True):
            with trace.span("sources.scan"):
                docs = _force(self._docs(spark), trace)
            with trace.span("bpe.train_merges"):
                merges = train_merges(docs, n_merges=self.N_MERGES)
            with trace.span("bpe.token_count"):
                counted = _force(
                    docs.withColumn("tokens", bpe_token_count("text", merges)),
                    trace)
            with trace.span("dedup.minhash_dedup"):
                found = [(int(r.doc_a), int(r.doc_b), float(r.jaccard))
                         for r in dedup.minhash_dedup(docs).collect()]
            removed = _components_removed(found)
            with trace.span("curate.write"):
                drop = spark.createDataFrame(
                    [(i,) for i in sorted(removed)] or [(-1,)], "doc_id BIGINT")
                counted.join(F.broadcast(drop), "doc_id", "left_anti") \
                    .write.mode("overwrite").parquet(out_dir)
        return {"found": found, "removed": removed, "out": out_dir}

    def layer_counters(self, spark) -> dict[str, float]:
        """LSH candidate pairs at minhash_dedup's default banding, and the
        share of them that verification kept."""
        cands = dedup.minhash_candidates(
            dedup.minhash_signatures(self._docs(spark))).count()
        return {"dedup.candidate_pairs": float(cands),
                "dedup.verify_yield": self.found / cands if cands else 0.0}

    def check(self, spark, res) -> None:
        out = spark.read.parquet(res["out"])
        stats = out.agg(F.count("*").alias("n"), F.sum("tokens").alias("t")).first()
        n_in = scan_parquet_dir(spark, self.inputs["corpus"]).count()
        self.n_docs = n_in
        _require(stats["n"] + len(res["removed"]) == n_in,
                 f"{stats['n']} survivors + {len(res['removed'])} removed != {n_in}")
        texts = {int(r.doc_id): f"{r.title} {r.text}" for r in
                 scan_parquet_dir(spark, self.inputs["corpus"],
                                  columns=["doc_id", "title", "text"]).collect()} \
            if res["found"] else {}
        for a, b, _ in res["found"]:
            j = gen.jaccard(texts[a], texts[b])
            _require(j >= gen.DUP_THRESHOLD - 0.02,
                     f"pair ({a}, {b}) has jaccard {j:.3f}")
        self.token_totals.append(int(stats["t"]))
        _require(len(set(self.token_totals)) == 1,
                 f"token totals differ across rounds: {sorted(set(self.token_totals))}")
        found = {(a, b) for a, b, _ in res["found"]}
        self.found = len(found)
        self.quality = len(found & self.pairs) / max(1, len(self.pairs))


def _components_removed(pairs) -> set[int]:
    """Union-find over found pairs; every member but the smallest id of a
    component is removed."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if find(x) != x}


# ---------------------------------------------------------------------------
# index_serve: IVF + HNSW build and persist, reload, bulk and single queries
# ---------------------------------------------------------------------------

class IndexServe(Workload):
    """The reference's phases 2 and 3 on one planted-cluster corpus:
    write-heavy index builds (operators.ann, operators.hnsw), a bulk query
    batch, then one exact (operators.knn) and one IVF single query whose cost
    is mostly per-query fixed cost. No text layer runs."""

    name = "index_serve"
    SIZE = VectorSize(n=4000, dim=96, clusters=32, noise=0.05, queries=16,
                      files=8, subset=400)
    TINY = VectorSize(n=1200, dim=16, clusters=8, noise=0.06, queries=8,
                      files=2, subset=300)
    NPROBE = 4
    HNSW_PARTS = 4
    MIN_RECALL = 0.9
    CHECKSUM_TOL = 1e-6

    def __init__(self, inputs, work, size):
        super().__init__(inputs, work, size)
        self.q, self.truth, self.truth_d = gen.load_queries(inputs["dir"])
        self.truth_sub = np.load(os.path.join(inputs["dir"], "truth_sub_ids.npy"))
        self.nlist = size.clusters  # one inverted list per planted cluster
        self.ivf_dir = os.path.join(work, "ivf")
        self.hnsw_dir = os.path.join(work, "hnsw")
        self.index = None
        self.next_q = 0
        self.recalls: dict[str, list[float]] = {"ivf_bulk": [], "hnsw": [],
                                                "ivf_single": []}

    @property
    def items(self):
        """Vectors indexed per round (IVF corpus plus HNSW subset)."""
        return self.size.n + self.size.subset

    def round(self, spark, trace):
        for d in (self.ivf_dir, self.hnsw_dir):
            shutil.rmtree(d, ignore_errors=True)
        with trace.span("index_serve.build", new_trace=True):
            with trace.span("sources.scan"):
                vecs = _force(scan_parquet_dir(spark, self.inputs["corpus"]),
                              trace)
            with trace.span("ann.train_centroids"):
                index = ann.IVFIndex.build(vecs, self.nlist)
            with trace.span("ann.save"):
                index.save(spark, self.ivf_dir)
            with trace.span("hnsw.build_write"):
                subset = vecs.filter(F.col("vec_id") < self.size.subset)
                hnsw.write_hnsw(hnsw.build_hnsw(subset,
                                                n_partitions=self.HNSW_PARTS),
                                self.hnsw_dir)
            with trace.span("ann.load"):
                self.index = ann.IVFIndex.load(spark, self.ivf_dir)
            queries = _queries_df(spark, self.q, range(len(self.q)))
            with trace.span("ann.ivf_search_bulk"):
                ivf_rows = ann.ivf_search_bulk(self.index, queries, k=K,
                                               nprobe=self.NPROBE).collect()
            with trace.span("hnsw.hnsw_search"):
                hnsw_rows = hnsw.hnsw_search(
                    hnsw.read_hnsw(spark, self.hnsw_dir), queries, k=K).collect()
        i = self.next_q % len(self.q)
        self.next_q += 1
        query = _queries_df(spark, self.q, [i])
        corpus = scan_parquet_dir(spark, self.inputs["corpus"])
        with trace.span("index_serve.exact", new_trace=True):
            with trace.span("knn.knn_topk"):
                exact = knn.knn_topk(corpus, query, k=K).collect()
        with trace.span("index_serve.ann", new_trace=True):
            with trace.span("ann.ivf_search"):
                single = ann.ivf_search(self.index, query, k=K,
                                        nprobe=self.NPROBE).collect()
        return {"ivf": _group(ivf_rows), "hnsw": _group(hnsw_rows), "i": i,
                "exact": _group(exact), "single": _group(single)}

    def layer_counters(self, spark) -> dict[str, float]:
        """Mean share of corpus rows in the lists a query probes, and bytes
        of the persisted IVF artifact per vector."""
        sizes = {int(r.list_id): int(r["count"])
                 for r in self.index.lists.groupBy("list_id").count().collect()}
        probes = ann.probe_lists(_queries_df(spark, self.q, range(len(self.q))),
                                 self.index, self.NPROBE).collect()
        probed = sum(sizes.get(int(r.list_id), 0) for r in probes)
        nbytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(self.ivf_dir) for f in fs)
        n = sum(sizes.values())
        return {"ann.probed_frac": probed / (n * len(self.q)),
                "ann.bytes_per_vec": nbytes / n}

    def check(self, spark, res) -> None:
        ids = range(len(self.q))
        i = res["i"]
        for key, qs in (("ivf", ids), ("hnsw", ids), ("exact", [i]),
                        ("single", [i])):
            _check_topk(res[key], qs)
        self._check_exact(i, res["exact"][i])
        self.recalls["ivf_bulk"].append(_recall(
            {q: [v for v, _ in r] for q, r in res["ivf"].items()}, self.truth, ids))
        self.recalls["hnsw"].append(_recall(
            {q: [v for v, _ in r] for q, r in res["hnsw"].items()},
            self.truth_sub, ids))
        self.recalls["ivf_single"].append(_recall(
            {i: [v for v, _ in res["single"][i]]}, self.truth, [i]))
        self.quality = min(float(np.mean(r)) for r in self.recalls.values())
        for path in ("ivf_bulk", "hnsw"):
            r = self.recalls[path][-1]
            _require(r >= self.MIN_RECALL, f"{path} recall@{K} {r:.3f}")

    def _check_exact(self, i: int, got: list[tuple[int, float]]) -> None:
        """Exact ids equal the numpy truth up to ties at the k-th distance,
        and the distance sum (Program.cs:224-227) matches."""
        truth_d = self.truth_d[i]
        truth = set(self.truth[i].tolist())
        boundary = truth_d[-1]
        must = {int(v) for v, d in zip(self.truth[i], truth_d)
                if d < boundary - 1e-9}
        ids = {v for v, _ in got}
        _require(must <= ids, f"exact query {i}: id set differs from truth")
        _require(all(abs(d - boundary) <= 1e-9 for v, d in got if v not in truth),
                 f"exact query {i}: extra ids are not boundary ties")
        checksum = sum(d for _, d in got)
        _require(abs(checksum - float(truth_d.sum())) <= self.CHECKSUM_TOL,
                 f"exact query {i}: checksum {checksum} vs {truth_d.sum()}")


WORKLOADS = {w.name: w for w in (Curate, IndexServe)}
