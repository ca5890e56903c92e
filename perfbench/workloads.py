"""The workloads. Each one prepares its cached inputs, sets up (input
load, reference outputs, warm-up), runs one closed-loop operation at a
time and checks every operation's output.

batch_skewed: one full `run_pipeline` over a corpus with templated
  caption families, `verified` and `clusters` forced by an
  order-independent (count, xor-of-row-hashes) aggregate, which must
  equal the set-up operation's. The set-up operation's outputs are
  checked against oracles that do not depend on the program
  (`check_pipeline`). A traced run also times the delta layer:
  `ingest_batch` of a hash-split batch into a copy of a state built
  from the rest of the corpus, then `state_clusters`, whose partition
  must equal the set-up run's over the whole corpus.
query_mix: one round of 12 aux queries from `__spark_entry__.queries()`,
  each output compared with its `oracle_sql()` DuckDB twin; the two
  approximate top-k lanes are checked against exact cosines
  (`check_topk`) and must repeat the set-up round's output.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import inputs

MIN_RECALL = 0.99  # BASELINE.json dup-pair recall floor
# A caption pair the program verified must have an exact shingle
# Jaccard within four KMV standard errors (k=256 at J=0.72) of the
# verify threshold; below that it is a false pair, not estimator noise.
CAPTION_JACCARD_FLOOR = 0.72 - 4 * (0.72 * 0.28 / 256) ** 0.5
TOPK = 5  # neighbours per vector of the two approximate top-k queries

# The aux queries of the mix and the module that implements each.
QUERIES = (
    ("dedup_relational", "exact_dedup_groups"),
    ("dedup_relational", "ngram_jaccard_pairs"),
    ("dedup_text", "simhash_dup_docs"),
    ("dedup_text", "substring_dup_pairs"),
    ("similarity", "embedding_topk_lsh"),
    ("similarity", "embedding_topk_ivf"),
    ("similarity", "embedding_cosine_dup_pairs"),
    ("filters", "bloom_customer_orders"),
    ("filters", "countmin_tokens"),
    ("sketch_udfs", "kmv_distinct_by_source"),
    ("hll_interop", "hll_interop_audit"),
    ("partitioner", "partition_boundaries_orders"),
)
BATCH_LAYERS = ("signatures", "lsh", "verify", "cluster", "boundary")
# run_pipeline's stage names and the layer (operator module) of each
STAGE_LAYERS = {"signatures": "signatures", "candidates": "lsh",
                "verified": "verify", "clusters": "cluster"}


class Context:
    """Paths shared by a run's workload."""

    def __init__(self, root: str, seed: int, trace: bool):
        self.root = root
        self.seed = seed
        self.trace = trace
        self.run_dir = os.path.join(root, ".perfbench")
        self.cache = os.path.join(self.run_dir, "inputs")
        self.work = os.path.join(self.run_dir, "work", str(os.getpid()))
        os.makedirs(self.cache, exist_ok=True)
        os.makedirs(self.work, exist_ok=True)


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def fingerprint(df) -> list:
    """(rows, xor of per-row xxhash64 over every column): equal for
    equal row multisets in any order, and forces every column."""
    from pyspark.sql import functions as F

    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).first()
    return [int(row[0]), int(row[1] or 0)]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """tools/gate_check.py's canonical form: columns by name, values
    stringified (floats to 9 significant digits), rows sorted."""
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        out[c] = out[c].map(lambda v: f"{v:.9g}" if isinstance(v, float) else str(v))
    return out.sort_values(cols).reset_index(drop=True)


def components(vertices, edges) -> dict:
    """Connected components by union-find: vertex -> (smallest vertex
    of its component, component size)."""
    parent = {v: v for v in vertices}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict = {}
    for v in parent:
        members.setdefault(find(v), []).append(v)
    return {v: (min(m), len(m)) for m in members.values() for v in m}


def collect_outputs(res) -> tuple[pd.DataFrame, pd.DataFrame]:
    """A pipeline result's `verified` (id_a, id_b, match_caption) and
    `clusters`, collected for `check_pipeline`."""
    return (res.verified.select("id_a", "id_b", "match_caption").toPandas(),
            res.clusters.toPandas())


def check_pipeline(verified: pd.DataFrame, clusters: pd.DataFrame,
                   corpus_path: str, planted_path: str) -> tuple[list[str], float]:
    """Problems of one pipeline output, and the planted-pair recall.

    `verified` (id_a, id_b, match_caption) must hold distinct id_a < id_b
    pairs of corpus rows, every caption pair at exact shingle Jaccard >=
    CAPTION_JACCARD_FLOOR; `clusters` (image_id, cluster_id,
    cluster_size) must be exactly the connected components of those
    pairs over the corpus, each named by its smallest image_id; the
    caption pairs must cover MIN_RECALL of the planted pairs."""
    corpus = pq.read_table(corpus_path, columns=["image_id", "caption"]).to_pandas()
    ids = corpus["image_id"].tolist()
    sets = dict(zip(ids, inputs.caption_sets(corpus["caption"])))
    bad = []
    pairs = list(zip(verified["id_a"], verified["id_b"]))
    if len(set(pairs)) != len(pairs):
        bad.append("verified holds duplicate pairs")
    if any(a >= b or a not in sets or b not in sets for a, b in pairs):
        bad.append("verified holds a pair that is not (id_a < id_b) of corpus rows")
        return bad, 0.0
    caption = verified[verified["match_caption"]]
    low = [(a, b) for a, b in zip(caption["id_a"], caption["id_b"])
           if inputs.jaccard(sets[a], sets[b]) < CAPTION_JACCARD_FLOOR]
    if low:
        bad.append(f"{len(low)} caption pairs below exact Jaccard "
                   f"{CAPTION_JACCARD_FLOOR:.3f}, e.g. {low[0]}")
    expect = components(ids, pairs)
    got = dict(zip(clusters["image_id"],
                   zip(clusters["cluster_id"], clusters["cluster_size"].astype(int))))
    if len(got) != len(clusters) or got.keys() != expect.keys():
        bad.append(f"clusters cover {len(clusters)} rows, not the {len(ids)} corpus rows once")
    else:
        wrong = sum(got[v] != e for v, e in expect.items())
        if wrong:
            bad.append(f"{wrong} rows not labelled by the components of the verified pairs")
    planted = pq.read_table(planted_path).to_pandas()
    found = set(zip(caption["id_a"], caption["id_b"]))
    hit = sum(p in found for p in zip(planted["id_a"], planted["id_b"]))
    recall = hit / len(planted) if len(planted) else 1.0
    if recall < MIN_RECALL:
        bad.append(f"dup_recall {recall:.4f} < {MIN_RECALL}")
    return bad, recall


def check_topk(out: pd.DataFrame, embeddings_path: str) -> tuple[list[str], float]:
    """Problems of one approximate top-k output (vec_id, neighbor_id,
    cosine, rank), and its recall of the exact top-k pairs (reported,
    not checked: it is a property of the index configuration).

    Every row must pair two distinct known vectors with their exact
    cosine; each vector's rows must be ranked 1..m (m <= TOPK) by
    (cosine desc, neighbor_id asc)."""
    table = pq.read_table(embeddings_path).to_pandas()
    vid = table["vec_id"].to_numpy()
    mat = np.stack(table["embedding"].to_numpy()).astype(np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sim = mat @ mat.T
    pos = {v: i for i, v in enumerate(vid)}
    bad = []
    known = out["vec_id"].isin(pos) & out["neighbor_id"].isin(pos)
    if not known.all() or (out["vec_id"] == out["neighbor_id"]).any():
        return ["a row pairs an unknown vector or a vector with itself"], 0.0
    if out.duplicated(["vec_id", "neighbor_id"]).any():
        bad.append("duplicate (vec_id, neighbor_id) rows")
    a = out["vec_id"].map(pos).to_numpy()
    b = out["neighbor_id"].map(pos).to_numpy()
    err = np.abs(out["cosine"].to_numpy() - sim[a, b])
    if len(err) and err.max() > 1e-5:
        bad.append(f"{int((err > 1e-5).sum())} cosines differ from the exact value")
    order = out.sort_values(["vec_id", "cosine", "neighbor_id"],
                            ascending=[True, False, True])
    want_rank = order.groupby("vec_id").cumcount() + 1
    if (order["rank"].to_numpy() != want_rank.to_numpy()).any() or want_rank.max() > TOPK:
        bad.append(f"ranks are not 1..m<={TOPK} by (cosine desc, neighbor_id)")
    np.fill_diagonal(sim, -np.inf)
    exact = set()
    for i in range(len(vid)):
        top = np.lexsort((vid, -sim[i]))[:TOPK]
        exact.update((vid[i], vid[j]) for j in top)
    recall = len(exact & set(zip(out["vec_id"], out["neighbor_id"]))) / len(exact)
    return bad, recall


class Workload:
    name = ""
    unit_rows = 0      # input rows one operation processes
    min_ops = 1        # timed operations per run, whatever --seconds says

    def prepare(self, ctx: Context) -> None:
        """Generate or find the cached inputs (no Spark, untimed)."""

    def setup(self, spark, ctx: Context) -> list:
        """Load inputs, run the set-up operations that establish the
        reference outputs and warm the session (timed as set-up).
        Returns one check per set-up operation: a callable that needs
        no Spark and returns the operation's problems. The checks run
        after the timed operations, so that their Python work does not
        sit between the warm-up and the first timed operation."""
        return []

    def op(self, spark, ctx: Context):
        """One operation; returns its output summary. Timed."""
        raise NotImplementedError

    def problems(self, out) -> list[str]:
        """Why `out` is wrong; empty when it is correct."""
        raise NotImplementedError

    def traced_op(self, spark, ctx: Context, tracer, run: int) -> tuple:
        """One operation with spans; returns (its problems, rows out by
        span name, wall of the span that matches the timed operation)."""
        raise NotImplementedError

    def layer_metrics(self, tracer, spans: list[dict]) -> dict:
        raise NotImplementedError

    def headline(self, op_s: float, cpu_s: float) -> list[tuple]:
        """(name, value, unit) of this workload's figures under the
        names the roadmap uses for them."""
        raise NotImplementedError


# ---------------------------------------------------------------- batch


class Batch(Workload):
    name = "batch_skewed"
    min_ops = 2

    def __init__(self, rows: int, families: int, family_size: int, batch_mod: int):
        self.unit_rows, self.batch_mod = rows, batch_mod
        self.families, self.family_size = families, family_size

    def prepare(self, ctx):
        self.dir = inputs.corpus(ctx.cache, self.unit_rows, ctx.seed,
                                 self.families, self.family_size)
        self.path = os.path.join(self.dir, "corpus.parquet")

    def setup(self, spark, ctx):
        # The first pipeline run of a session is the warm-up: it costs
        # about three warm ones, mostly fixed (code generation, JIT,
        # Python workers). It also gives the reference output.
        self.ref, res = self._run(spark)
        verified, clusters = collect_outputs(res)
        self.recall = 0.0

        def check():
            bad, self.recall = check_pipeline(
                verified, clusters, self.path, os.path.join(self.dir, "planted.parquet"))
            return bad
        checks = [check]
        if ctx.trace:
            checks.append(self._setup_delta(spark, ctx))
        return checks

    def _run(self, spark):
        from datasketches_java_spark.plans.pipeline import run_pipeline

        spark.catalog.clearCache()
        res = run_pipeline(spark, spark.read.parquet(self.path))
        return [fingerprint(res.verified), fingerprint(res.clusters)], res

    def op(self, spark, ctx):
        return self._run(spark)[0]

    def problems(self, out):
        return [] if out == self.ref else [f"output {out} != set-up output {self.ref}"]

    def headline(self, op_s, cpu_s):
        return [("img_per_s", self.unit_rows / op_s, "img/s"),
                ("cpu_s_per_kimg", cpu_s / (self.unit_rows / 1000), "core-s/kimg"),
                ("dup_recall", self.recall, "ratio")]

    # The delta layer, timed in traced runs only: the corpus split by
    # pmod(xxhash64(image_id), batch_mod) into a base, ingested into an
    # empty state in set-up, and a batch that each traced operation
    # ingests into a fresh copy of that state. The partition after the
    # ingest must equal the set-up run's over the whole corpus.

    def _setup_delta(self, spark, ctx):
        from datasketches_java_spark.plans.delta import ingest_batch

        split = inputs.delta_split(spark, ctx.cache, self.path, self.batch_mod)
        base = spark.read.parquet(os.path.join(split, "base.parquet"))
        self.batch = spark.read.parquet(os.path.join(split, "batch.parquet"))
        self.base_state = os.path.join(ctx.work, "base-state")
        ingest_batch(spark, self.base_state, base, compute_clusters=False)
        # warm-up of the traced path: an ingest into a non-empty state
        warm = self._ingest(spark, ctx, None, 0)
        return lambda: self._delta_problems(warm)

    def _ingest(self, spark, ctx, tracer, run: int) -> list:
        """Ingest the batch into a fresh copy of the base state and
        force the partition; with spans when `tracer` is given."""
        from contextlib import nullcontext

        from datasketches_java_spark.plans.delta import ingest_batch, state_clusters

        span = tracer.span if tracer else lambda name, run: nullcontext()
        state = os.path.join(ctx.work, "state")
        shutil.rmtree(state, ignore_errors=True)
        shutil.copytree(self.base_state, state)
        with span("delta", run):
            with span("delta.ingest", run):
                ingest_batch(spark, state, self.batch, compute_clusters=False)
            with span("delta.clusters", run):
                return fingerprint(state_clusters(spark, state))

    def _delta_problems(self, out) -> list[str]:
        return [] if out == self.ref[1] else [
            f"partition after ingest {out} != set-up partition {self.ref[1]}"]

    def traced_op(self, spark, ctx, tracer, run):
        """The timed operation with spans, then a traced delta ingest.
        `run_pipeline` runs as it does untraced, while its stage runner
        (`plans.pipeline._stage`) is wrapped so that each stage's build
        and count is a span named after its layer. What run_pipeline
        and the two sinks compute outside those stages is `boundary`."""
        from datasketches_java_spark.plans import pipeline

        stage, rows = pipeline._stage, {}

        def traced_stage(spark_, root, name, build, metrics, *args, **kwargs):
            layer = STAGE_LAYERS.get(name.rsplit("__", 1)[-1], name)
            with tracer.span(layer, run):
                df = stage(spark_, root, name, build, metrics, *args, **kwargs)
            rows[layer] = metrics.get(f"{name}_rows", 0)
            return df

        spark.catalog.clearCache()
        with tracer.span("pipeline", run) as top:
            with tracer.span("corpus.scan", run):
                corpus = spark.read.parquet(self.path)
            with tracer.span("boundary", run):
                pipeline._stage = traced_stage
                try:
                    res = pipeline.run_pipeline(spark, corpus)
                finally:
                    pipeline._stage = stage
                out = [fingerprint(res.verified), fingerprint(res.clusters)]
                rows["boundary"] = out[0][0] + out[1][0]
        wall = top["end"] - top["start"]
        spark.catalog.clearCache()
        delta_out = self._ingest(spark, ctx, tracer, run)
        return self.problems(out) + self._delta_problems(delta_out), rows, wall

    def layer_metrics(self, tracer, spans):
        by_name = {s["name"]: s for s in spans}
        m = {"corpus.scan_s": tracer.self_time(by_name["corpus.scan"])}
        for layer in BATCH_LAYERS:
            s = by_name.get(layer)
            if s is None:
                log(f"perfbench: run_pipeline ran no {layer} stage through _stage; "
                    f"its work counts in boundary")
                continue
            m.update({
                f"{layer}.wall_s": tracer.self_time(s),
                f"{layer}.rows_out": s["rows_out"],
                f"{layer}.jobs": len(s["job_ids"]),
                f"{layer}.task_s": s["task_s"],
                f"{layer}.task_skew": s["task_skew"],
                f"{layer}.shuffle_write_bytes": s["shuffle_write_bytes"],
                f"{layer}.spill_bytes": s["spill_bytes"],
                f"{layer}.arrow_sent_bytes": s["python_sent_bytes"],
                f"{layer}.arrow_recv_bytes": s["python_recv_bytes"],
                f"{layer}.python_s": s["python_s"],
            })
        if "lsh" in by_name:
            m["lsh.band_rows"] = by_name["lsh"]["python_rows_in"]
        if "lsh" in by_name and "verify" in by_name and by_name["lsh"]["rows_out"]:
            m["verify.yield"] = by_name["verify"]["rows_out"] / by_name["lsh"]["rows_out"]
        ing, cl = by_name["delta.ingest"], by_name["delta.clusters"]
        m.update({
            "delta.ingest.wall_s": tracer.self_time(ing),
            "delta.ingest.jobs": len(ing["job_ids"]),
            "delta.ingest.task_s": ing["task_s"],
            "delta.ingest.shuffle_write_bytes": ing["shuffle_write_bytes"],
            "delta.ingest.bytes_written": ing["bytes_written"],
            "delta.clusters.wall_s": tracer.self_time(cl),
            "delta.clusters.jobs": len(cl["job_ids"]),
            "delta.clusters.task_s": cl["task_s"],
        })
        return m


# ------------------------------------------------------------ query mix


class QueryMix(Workload):
    name = "query_mix"
    NO_TWIN = ("embedding_topk_lsh", "embedding_topk_ivf")

    def __init__(self, sizes: dict):
        self.sizes = sizes

    def prepare(self, ctx):
        import __spark_entry__ as em

        self.tables = inputs.query_tables(ctx.cache, ctx.seed, **self.sizes)
        sql = em.oracle_sql()
        twins = {q: sql[q] for _, q in QUERIES if q not in self.NO_TWIN}
        digest = hashlib.sha256(json.dumps(twins, sort_keys=True).encode()).hexdigest()[:12]

        def build(tmp):
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads=4")
            for f in sorted(os.listdir(self.tables)):
                if f.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(self.tables, f)}')")
            for q, text in twins.items():
                pq.write_table(pa.Table.from_pandas(canon(con.execute(text).fetchdf())),
                               os.path.join(tmp, f"{q}.parquet"))
            con.close()

        self.twin_dir = inputs.cached(
            ctx.cache, f"twins-{os.path.basename(self.tables)}-q{digest}", build)

    def setup(self, spark, ctx):
        import __spark_entry__ as em

        registry = em.queries()
        self.fns = [(mod, q, registry[q]) for mod, q in QUERIES]
        self.expect = {
            q: pq.read_table(os.path.join(self.twin_dir, f"{q}.parquet")).to_pandas()
            for _, q in QUERIES if q not in self.NO_TWIN}
        first = self._round(spark)
        for q in self.NO_TWIN:
            self.expect[q] = canon(first[q])
        self.recall = {}

        def check():
            bad = []
            for q in self.NO_TWIN:
                problems, self.recall[q] = check_topk(
                    first[q], os.path.join(self.tables, "embeddings.parquet"))
                bad += [f"{q}: {p}" for p in problems]
            return bad + self.problems(first)
        return [check]

    def _round(self, spark):
        return {q: fn(spark, self.tables).toPandas() for _, q, fn in self.fns}

    def op(self, spark, ctx):
        return self._round(spark)

    def problems(self, out):
        return [f"{q} differs from its twin or the set-up round" for _, q in QUERIES
                if q not in self.expect or not canon(out[q]).equals(self.expect[q])]

    def headline(self, op_s, cpu_s):
        return [("query_mix_s", op_s, "s")] + [
            (f"{q}_recall", r, "ratio") for q, r in self.recall.items()]

    def traced_op(self, spark, ctx, tracer, run):
        out = {}
        with tracer.span("query_mix", run) as top:
            for mod, q, fn in self.fns:
                with tracer.span(f"{mod}.{q}", run):
                    out[q] = fn(spark, self.tables).toPandas()
        return self.problems(out), {}, top["end"] - top["start"]

    def layer_metrics(self, tracer, spans):
        m = {}
        for s in spans:
            if s["parent"] is not None:
                m[f"{s['name']}.wall_s"] = tracer.self_time(s)
                m[f"{s['name']}.jobs"] = len(s["job_ids"])
        return m


WORKLOADS = {
    w.name: w for w in (
        Batch(rows=6_000, families=3, family_size=250, batch_mod=8),
        QueryMix({"docs": 600, "vectors": 500, "events": 10_000,
                  "customers": 1000, "orders": 10_000}),
    )
}


def layer_names() -> list[str]:
    """Every per-layer metric name, in report order (a workload reports
    0 for the layers it does not run)."""
    names = ["corpus.scan_s"]
    for layer in BATCH_LAYERS:
        names += [f"{layer}.{k}" for k in (
            "wall_s", "rows_out", "jobs", "task_s", "task_skew",
            "shuffle_write_bytes", "spill_bytes", "arrow_sent_bytes",
            "arrow_recv_bytes", "python_s")]
    names += ["lsh.band_rows", "verify.yield"]
    names += [f"delta.ingest.{k}" for k in
              ("wall_s", "jobs", "task_s", "shuffle_write_bytes", "bytes_written")]
    names += [f"delta.clusters.{k}" for k in ("wall_s", "jobs", "task_s")]
    for mod, q in QUERIES:
        names += [f"{mod}.{q}.wall_s", f"{mod}.{q}.jobs"]
    names.append("trace.overhead_s")
    return names
