"""The benchmark's workloads: seeded input generation, the timed call into
the library's public entry points, the traced variant and the output check.

Every check is computed here, outside the library, from the generated
inputs: truth comes from the uid-embedded entity ordinal and from exact
q-gram Jaccard, never from the code under test.
"""

from __future__ import annotations

import hashlib
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from bench import bench_config

# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    layer: str
    start_ms: float
    end_ms: float
    rows: int | None = None


class Tracer:
    """Tags the jobs of each layer with a job group (``r<rep>/<layer>``) and
    records the layer's wall window; also usable as the ``runner`` of
    ``run_dedup_pipeline``, where each stage becomes a persist + count
    barrier."""

    #: pipeline stage name -> layer (module) name
    STAGE_LAYER = {
        "exact_collapse": "pipeline.collapse",
        "encode": "encoding",
        "block": "blocking.hlsh",
        "candidates": "blocking.fps",
        "match": "matching",
        "cluster": "clustering",
        "cluster_expand": "pipeline.expand",
    }

    def __init__(self, spark, rep: int):
        self.sc = spark.sparkContext
        self.rep = rep
        self.spans: list[Span] = []
        self.frames: dict = {}
        self._persisted: list = []

    def group(self, layer: str) -> str:
        return f"r{self.rep}/{layer}"

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(self.group(layer), layer)
        s = Span(layer, time.time() * 1e3, 0.0)
        try:
            yield s
        finally:
            s.end_ms = time.time() * 1e3
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def barrier(self, layer: str, build):
        with self.span(layer) as s:
            df = build().persist()
            self._persisted.append(df)
            s.rows = df.count()
        return df

    def run(self, name: str, build):
        """``StageRunner.run`` protocol: one pipeline stage = one layer."""
        df = self.barrier(self.STAGE_LAYER[name], build)
        self.frames[name] = df
        return df

    def release(self) -> None:
        while self._persisted:
            self._persisted.pop().unpersist()

    def rows(self, layer: str) -> int | None:
        vals = [s.rows for s in self.spans if s.layer == layer and s.rows is not None]
        return vals[-1] if vals else None


# ---------------------------------------------------------------- metrics

#: traced layers, named after the library's modules
ALL_LAYERS = (
    "sources", "pipeline.collapse", "encoding", "blocking.hlsh", "blocking.fps",
    "matching", "clustering", "pipeline.expand", "ops.dedup",
)
#: layers that run a Python (pandas/Arrow) UDF
PYTHON_LAYERS = ("encoding", "blocking.hlsh", "matching")

_LAYER_UNITS = {
    "wall_s": "s", "jobs": "count", "driver_gap_s": "s", "task_s": "s",
    "task_cpu_s": "s", "fetch_wait_s": "s", "shuffle_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio", "rows_out": "rows",
}
_PYTHON_UNITS = {"python_s": "s", "python_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name the traced run reports, with its unit."""
    out = {}
    for layer in ALL_LAYERS:
        units = dict(_LAYER_UNITS)
        if layer in PYTHON_LAYERS:
            units.update(_PYTHON_UNITS)
        out.update({f"{layer}.{k}": u for k, u in units.items()})
    out.update({
        "blocking.fps.match_yield": "ratio",
        "host.probe_s": "s",
        "host.peak_rss_mb": "MB",
        "trace.wall_s": "s",
        "trace.coverage": "ratio",
        "trace.overhead": "ratio",
    })
    return out


# ---------------------------------------------------------------- helpers


def digest_lines(lines) -> str:
    """Order-independent digest: sha256 over the sorted lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class UnionFind:
    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def _pairs2(sizes: np.ndarray) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def pairwise_f1(pred: list, truth: list) -> float:
    """Pairwise F1 of two partitions of the same items, given as aligned
    label lists, from the contingency table (no pair enumeration)."""
    p = np.unique(np.asarray(pred), return_inverse=True)[1]
    t = np.unique(np.asarray(truth), return_inverse=True)[1]
    cells = np.unique(p * (int(t.max()) + 1) + t, return_counts=True)[1]
    tp = _pairs2(cells)
    n_pred, n_truth = _pairs2(np.bincount(p)), _pairs2(np.bincount(t))
    return 2 * tp / (n_pred + n_truth) if n_pred + n_truth else 1.0


def qgram_jaccard(texts: list[str], q: int) -> tuple[np.ndarray, list[set]]:
    """-> (exact Jaccard of the distinct character q-gram sets of every pair
    of texts, as a matrix; each text's q-gram set)."""
    grams = [{s[i:i + q] for i in range(len(s) - q + 1)} for s in texts]
    index = {g: j for j, g in enumerate(sorted(set().union(*grams)))}
    x = np.zeros((len(grams), len(index)), dtype=np.float32)
    for i, gs in enumerate(grams):
        x[i, [index[g] for g in gs]] = 1.0
    inter = (x @ x.T).astype(np.int64)   # exact: counts << 2**24
    sizes = np.diag(inter)
    union = sizes[:, None] + sizes[None, :] - inter
    return np.divide(inter, union, out=np.zeros(inter.shape), where=union > 0), grams


class CheckFailed(Exception):
    pass


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def compare_expected(observed: dict, expected: dict | None) -> None:
    """Exact match of every recorded value (seeds that have a record)."""
    for key, want in (expected or {}).items():
        if key in observed:
            _expect(observed[key] == want,
                    f"{key}: got {observed[key]!r}, recorded {want!r}")


# ---------------------------------------------------------------- workloads


@dataclass
class Workload:
    name: str
    size: int          # entities or documents in the timed and warm-up inputs
    #: untimed runs before timing: the JIT keeps speeding the minhash plan
    #: up over its first runs, the dedup plan mostly after one
    warmup_runs: int
    #: typical seconds of one warm repetition on 4 cores; ``--seconds``
    #: divided by it gives the repetition count, the same in every run so
    #: that no run's median mixes in more or fewer early repetitions
    rep_s: float

    def reps(self, seconds: float) -> int:
        return max(1, round(seconds / self.rep_s))


_ENTITY = re.compile(r"src/e(\d+)_")


class DedupRepos(Workload):
    """Self-dedup of the synthetic repos table through every PPRL layer:
    collapse -> encode -> HLSH -> FPS candidates -> match -> cluster."""

    F1_FLOOR = 0.99

    def generate(self, spark, seed: int, out: Path, size: int) -> None:
        from pprl_scaling_framework_spark.sources import repos

        repos.with_uid_and_sha(
            repos.synth_repos(spark, n_entities=size, seed=seed, skew_every=50)
        ).write.mode("overwrite").parquet(str(out))

    def run(self, spark, path: Path):
        from pprl_scaling_framework_spark.ops.bucket_join import release_persists
        from pprl_scaling_framework_spark.pipeline.linkage import run_dedup_pipeline

        res = run_dedup_pipeline(spark, spark.read.parquet(str(path)), bench_config())
        table = res.clusters.toArrow()
        return table, lambda: (res.release(), release_persists())

    def run_traced(self, spark, path: Path, tracer: Tracer):
        from pprl_scaling_framework_spark.ops.bucket_join import release_persists
        from pprl_scaling_framework_spark.pipeline.linkage import run_dedup_pipeline

        records = tracer.barrier("sources", lambda: spark.read.parquet(str(path)))
        res = run_dedup_pipeline(spark, records, bench_config(), runner=tracer)
        with tracer.span("pipeline.expand") as s:
            table = res.clusters.toArrow()
            s.rows = table.num_rows
        return table, lambda: (tracer.release(), release_persists())

    # -- checks (outside the timed region)

    def truth(self, path: Path) -> dict:
        t = pq.read_table(str(path), columns=["uid", "content"]).to_pydict()
        uf = UnionFind()
        for uid, content in zip(t["uid"], t["content"]):
            m = _ENTITY.search(uid)
            _expect(m is not None, f"uid without entity ordinal: {uid}")
            uf.union(("uid", uid), ("entity", int(m.group(1))))
            uf.union(("uid", uid), ("content", content))
        roots: dict = {}
        return {uid: roots.setdefault(uf.find(("uid", uid)), len(roots))
                for uid in t["uid"]}

    def check(self, table, truth: dict, expected: dict | None,
              tracer: Tracer | None = None) -> tuple[float, dict]:
        clusters = table.to_pydict()
        uids, labels = clusters["uid"], clusters["entity_id"]
        _expect(len(uids) == len(set(uids)), "a uid is in more than one cluster")
        _expect(set(uids) == set(truth), "clusters do not cover the input uids")
        observed = {
            "clusters": len(set(labels)),
            "clusters_digest": digest_lines(f"{u}\t{e}" for u, e in zip(uids, labels)),
        }
        if tracer is not None:
            observed.update(self._check_traced(tracer, dict(zip(uids, labels))))
        compare_expected(observed, expected)
        f1 = pairwise_f1(labels, [truth[u] for u in uids])
        _expect(f1 >= self.F1_FLOOR, f"pairwise F1 {f1:.4f} below {self.F1_FLOOR}")
        return f1, observed

    def _check_traced(self, tracer: Tracer, label: dict) -> dict:
        """Clusters must be exactly the components of matched pairs plus
        the exact-duplicate links; returns the per-layer counts."""
        matches = tracer.frames["match"].select("id_a", "id_b").toArrow().to_pydict()
        reps = tracer.frames["exact_collapse"].toArrow().to_pydict()
        uf = UnionFind()
        for a, b in zip(matches["id_a"], matches["id_b"]):
            uf.union(a, b)
        for u, r in zip(reps["uid"], reps["rep_uid"]):
            uf.union(u, r)
        # union() keeps the smaller root, so find() is the component's
        # minimum uid: the entity id the pipeline must assign
        for u, e in label.items():
            _expect(e == uf.find(u), f"cluster of {u} is not its matched component")
        return {
            "records": tracer.rows("sources"),
            "candidates": tracer.rows("blocking.fps"),
            "matches": tracer.rows("matching"),
            "matches_digest": digest_lines(
                f"{min(a, b)}\t{max(a, b)}"
                for a, b in zip(matches["id_a"], matches["id_b"])),
        }


#: the registry corpus's vocabulary: every sf0.1 document is drawn from
#: these 30 words, uniformly, plus the near-duplicate marker "dup"
_DOC_VOCAB = [
    "a", "the", "data", "spark", "query", "table", "row", "column", "key",
    "value", "hash", "sort", "scan", "join", "group", "agg", "filter",
    "order", "window", "stream", "batch", "part", "line", "merge", "vector",
    "fast", "slow", "big", "small", "customer",
]


class DocsMinhash(Workload):
    """MinHash-LSH near-duplicate pairs over documents with the shape of
    the registry's sf0.1 corpus (see the README for the fitted numbers):
    a large share of all pairs passes, so the output is many times the
    input, and there is no Python UDF."""

    Q, NUM_HASHES, BANDS, THRESHOLD, SEED = 3, 16, 4, 0.5, 7
    #: one document in this many copies another one and appends " dup"
    NEAR_DUP_EVERY = 20

    def generate(self, spark, seed: int, out: Path, size: int) -> None:
        from pyspark.sql import functions as F

        vocab = F.array(*[F.lit(w) for w in _DOC_VOCAB])
        doc = F.col("doc_id")
        near_dup = F.pmod(doc, F.lit(self.NEAR_DUP_EVERY)) == self.NEAR_DUP_EVERY - 1
        # the document whose words this one has: itself, or a seeded other
        src = F.when(near_dup, F.pmod(F.xxhash64(doc, F.lit(seed)), F.lit(size))
                     ).otherwise(doc)
        # 10..99 words, spread evenly by id whatever the seed: the pair count
        # grows with the number of long documents, so a seeded length would
        # make the work differ from seed to seed
        n_words = (F.pmod(src * 37, F.lit(90)) + 10).cast("int")
        words = F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(vocab, (F.pmod(
                F.xxhash64(src, F.lit(seed), i),
                F.lit(len(_DOC_VOCAB))) + 1).cast("int")),
        )
        text = F.concat_ws(" ", words)
        (spark.range(0, size, 1, spark.sparkContext.defaultParallelism)
         .withColumnRenamed("id", "doc_id")
         .select("doc_id", F.when(near_dup, F.concat(text, F.lit(" dup")))
                 .otherwise(text).alias("text"))
         .write.mode("overwrite").parquet(str(out)))

    def _pairs(self, docs):
        from pprl_scaling_framework_spark.ops.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            docs, "doc_id", "text", q=self.Q, num_hashes=self.NUM_HASHES,
            bands=self.BANDS, threshold=self.THRESHOLD, seed=self.SEED)

    def run(self, spark, path: Path):
        from pprl_scaling_framework_spark.ops.bucket_join import release_persists

        table = self._pairs(spark.read.parquet(str(path))).toArrow()
        return table, release_persists

    def run_traced(self, spark, path: Path, tracer: Tracer):
        from pprl_scaling_framework_spark.ops.bucket_join import release_persists

        docs = tracer.barrier("sources", lambda: spark.read.parquet(str(path)))
        with tracer.span("ops.dedup") as s:
            table = self._pairs(docs).toArrow()
            s.rows = table.num_rows
        return table, lambda: (tracer.release(), release_persists())

    # -- checks (outside the timed region)

    def truth(self, path: Path) -> dict:
        """Exact Jaccard of distinct character q-grams for every doc pair."""
        t = pq.read_table(str(path), columns=["doc_id", "text"]).to_pydict()
        jac, _ = qgram_jaccard(t["text"], self.Q)
        ids = np.asarray(t["doc_id"], dtype=np.int64)
        pos = np.full(int(ids.max()) + 1, -1, dtype=np.int64)
        pos[ids] = np.arange(len(ids))
        ia, ib = np.nonzero(np.triu(jac >= self.THRESHOLD, k=1))
        a, b = np.minimum(ids[ia], ids[ib]), np.maximum(ids[ia], ids[ib])
        return {"pos": pos, "jac": jac, "pair_keys": a * len(pos) + b}

    def check(self, table, truth: dict, expected: dict | None,
              tracer: Tracer | None = None) -> tuple[float, dict]:
        pos, jac = truth["pos"], truth["jac"]
        a = table.column("id_a").to_numpy()
        b = table.column("id_b").to_numpy()
        reported = table.column("jaccard").to_numpy()
        _expect(bool(np.all(a < b)), "a pair is not canonical (id_a < id_b)")
        _expect(bool(np.all((a >= 0) & (b < len(pos))))
                and bool(np.all((pos[a] >= 0) & (pos[b] >= 0))),
                "a pair names an unknown document")
        exact = jac[pos[a], pos[b]]
        _expect(bool(np.all(exact >= self.THRESHOLD)), "a pair is below the threshold")
        # the output is rounded to 6 decimals (half-up in Spark)
        _expect(bool(np.all(np.abs(exact - reported) <= 5e-7 + 1e-12)),
                "a reported Jaccard differs from the exact value")
        keys = np.unique(a * len(pos) + b)
        _expect(len(keys) == len(a), "duplicate pairs in the output")
        observed = {
            "pairs": int(len(keys)),
            "pairs_digest": hashlib.sha256(keys.tobytes()).hexdigest()[:16],
        }
        compare_expected(observed, expected)
        tp = int(np.isin(keys, truth["pair_keys"]).sum())
        return 2 * tp / (len(keys) + len(truth["pair_keys"])), observed


def make(name: str, smoke: bool = False) -> Workload:
    """Workload by name; ``smoke`` shrinks it to a toy input."""
    if name == "dedup_repos_small":
        return DedupRepos(name, 300 if smoke else 10_000, warmup_runs=1, rep_s=12.0)
    if name == "docs_minhash":
        return DocsMinhash(name, 200 if smoke else 1_000, warmup_runs=2, rep_s=3.5)
    raise KeyError(name)


WORKLOADS = ("dedup_repos_small", "docs_minhash")
