"""Seeded workload inputs, cached per (kind, size, seed) under the run
directory so that generation stays outside the timed set-up.

Every input is a pure function of its arguments: the image+caption
corpora come from the package's own generator (`plan_corpus` +
`write_corpus`, rendered once and shared by all seeds), the caption
families and the query tables from NumPy generators seeded here. A
cache entry is written to a temporary directory and renamed into place
only when complete.
"""

from __future__ import annotations

import os
import shutil
from itertools import combinations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever a generator below changes what it writes.
INPUT_VERSION = 1
POOL_SEED = 0  # plan_corpus seed of the rendered rows every corpus shares


def cached(cache_root: str, tag: str, build) -> str:
    """Directory holding the entry `tag`; `build(tmp_dir)` fills it on a miss."""
    final = os.path.join(cache_root, f"{tag}-v{INPUT_VERSION}")
    if os.path.exists(os.path.join(final, "_SUCCESS")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


# ------------------------------------------------------------ corpora


def _inject_families(plan: pd.DataFrame, seed: int, families: int,
                     family_size: int) -> pd.DataFrame:
    """Turn `families * family_size` single rows into templated caption
    families: one 40-token template per family, each member the
    template with one token replaced. Members keep their own images."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(sorted({t for c in plan["caption"] for t in c.split()}))
    singles = np.flatnonzero(plan["group_id"].to_numpy() == -1)
    chosen = rng.choice(singles, families * family_size, replace=False)
    captions = plan["caption"].to_numpy(dtype=object).copy()
    group_ids = plan["group_id"].to_numpy().copy()
    next_gid = int(group_ids.max()) + 1
    for f in range(families):
        template = rng.choice(vocab, 40)
        for row in chosen[f * family_size:(f + 1) * family_size]:
            toks = template.copy()
            toks[rng.integers(0, len(toks))] = vocab[rng.integers(0, len(vocab))]
            captions[row] = " ".join(toks)
            group_ids[row] = next_gid + f
    return plan.assign(caption=captions, group_id=group_ids)


def caption_sets(captions) -> list[frozenset]:
    """Each caption's set of char-k shingle hashes at the frozen config
    (the sets whose exact Jaccard the KMV sketches estimate)."""
    from datasketches_java_spark.config import FROZEN
    from datasketches_java_spark.kernels.shingle import (
        char_shingle_hashes, normalize_captions,
    )

    captions = pd.Series(list(captions), dtype=object)
    hashes, rows = char_shingle_hashes(
        normalize_captions(captions), k=FROZEN.shingle_k, seed=FROZEN.seed)
    bounds = np.searchsorted(rows, np.arange(len(captions) + 1))
    return [frozenset(hashes[bounds[i]:bounds[i + 1]].tolist())
            for i in range(len(captions))]


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def planted_pairs(plan: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """(id_a < id_b) pairs of rows that share a planted group id and
    whose exact caption shingle Jaccard is >= threshold."""
    grouped = plan[plan["group_id"] >= 0]
    sets = caption_sets(grouped["caption"])
    ids = grouped["image_id"].to_numpy()
    pos = pd.Series(np.arange(len(grouped)), index=grouped.index)
    out_a, out_b = [], []
    for _, members in grouped.groupby("group_id").groups.items():
        for i, j in combinations(pos[members].to_numpy(), 2):
            a, b = sets[i], sets[j]
            inter = len(a & b)
            if inter >= threshold * (len(a) + len(b) - inter):
                lo, hi = sorted((ids[i], ids[j]))
                out_a.append(lo)
                out_b.append(hi)
    return pd.DataFrame({"id_a": out_a, "id_b": out_b})


def _write_planted(plan: pd.DataFrame, path: str) -> None:
    from datasketches_java_spark.config import FROZEN

    pairs = planted_pairs(plan, FROZEN.jaccard_golden)
    pq.write_table(pa.Table.from_pandas(pairs, preserve_index=False), path)


def pool(cache_root: str, rows: int) -> str:
    """Cached `corpus.parquet` of `plan_corpus(rows, POOL_SEED)`, rendered
    once: rendering the images is most of a corpus's generation time."""
    from datasketches_java_spark.corpus.generate import plan_corpus, write_corpus

    def build(tmp: str) -> None:
        write_corpus(plan_corpus(rows, POOL_SEED), os.path.join(tmp, "corpus.parquet"),
                     workers=min(4, os.cpu_count() or 1))

    return cached(cache_root, f"pool-n{rows}-s{POOL_SEED}", build)


def corpus(cache_root: str, rows: int, seed: int, families: int,
           family_size: int) -> str:
    """Cached corpus directory: `corpus.parquet` (the package's input
    schema) and `planted.parquet` (the planted near-dup pairs). The
    rows are the pool's; `seed` chooses the rows that become members of
    the caption families and the families' templates. Captions do not
    enter the rendered images, so only the caption column is rewritten."""
    from datasketches_java_spark.corpus.generate import plan_corpus

    def build(tmp: str) -> None:
        src = os.path.join(pool(cache_root, rows), "corpus.parquet")
        plan = _inject_families(plan_corpus(rows, POOL_SEED), seed, families, family_size)
        table = pq.read_table(src)
        if table.column("image_id").to_pylist() != plan["image_id"].tolist():
            raise RuntimeError(f"{src} does not match its plan")
        table = table.set_column(table.schema.get_field_index("caption"),
                                 "caption", pa.array(plan["caption"]))
        pq.write_table(table, os.path.join(tmp, "corpus.parquet"))
        _write_planted(plan, os.path.join(tmp, "planted.parquet"))

    return cached(cache_root, f"corpus-n{rows}-f{families}x{family_size}-s{seed}", build)


def delta_split(spark, cache_root: str, corpus_path: str, batch_mod: int) -> str:
    """Cached `base.parquet` / `batch.parquet`: the batch is the rows
    with pmod(xxhash64(image_id), batch_mod) == 0."""
    from pyspark.sql import functions as F

    def build(tmp: str) -> None:
        df = spark.read.parquet(corpus_path)
        in_batch = F.pmod(F.xxhash64("image_id"), F.lit(batch_mod)) == 0
        df.filter(~in_batch).write.parquet(os.path.join(tmp, "base.parquet"))
        df.filter(in_batch).write.parquet(os.path.join(tmp, "batch.parquet"))

    tag = f"delta-{os.path.basename(os.path.dirname(corpus_path))}-m{batch_mod}"
    return cached(cache_root, tag, build)


# ------------------------------------------------------- query tables

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big "
    "stream filter group the a of and to in is it for on with as at by "
    "plan shuffle cache index tree node page block file disk memory"
).split()
_EVENT_TYPES = ("click", "view", "error", "purchase", "search")


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Token texts with planted exact copies, token-edited copies and
    shared boilerplate spans, so every text-dedup query finds work."""
    w = 1.0 / np.arange(1, len(_WORDS) + 1) ** 0.8
    w /= w.sum()
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(toks))
        else:
            toks = list(rng.choice(_WORDS, int(rng.integers(8, 90)), p=w))
            if r > 0.9:
                toks[:0] = "terms of service apply to every page of this site".split()
            texts.append(" ".join(toks))
    langs = rng.choice(np.array(["en", "es", "de", "fr", "zh"]), n,
                       p=[0.44, 0.14, 0.14, 0.13, 0.15])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors around 8 label centroids, some near-copies."""
    centers = rng.normal(size=(8, dim))
    labels = rng.integers(0, 8, n).astype(np.int32)
    vec = centers[labels] * 0.35 + rng.normal(size=(n, dim))
    copies = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    vec[copies] = vec[src[copies]] + 0.05 * rng.normal(size=(copies.sum(), dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def _events(rng: np.random.Generator, n: int, users: int) -> pd.DataFrame:
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.cumsum(rng.integers(1, 400_000_000, n)), unit="us")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": rng.choice(np.array(_EVENT_TYPES), n),
        "value": np.round(rng.gamma(2.0, 5.0, n), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
    })


def _customers_orders(rng: np.random.Generator, n_cust: int,
                      n_orders: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    cust = pd.DataFrame({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_cust),
    })
    # two thirds of customers ever order, as in TPC-H
    buyers = cust["c_custkey"].to_numpy()[rng.random(n_cust) < 2 / 3]
    orders = pd.DataFrame({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": rng.choice(buyers, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_orders),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n_orders), 2),
        "o_orderdate": (pd.Timestamp("1992-01-01") + pd.to_timedelta(
            rng.integers(0, 2400, n_orders), unit="D")).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_orders),
    })
    return cust, orders


def query_tables(cache_root: str, seed: int, docs: int, vectors: int,
                 events: int, customers: int, orders: int) -> str:
    """Cached directory of the parquet tables the query mix reads, in
    the schemas of TESTDATA.md's fixture tables (`<table>.parquet`)."""

    def build(tmp: str) -> None:
        rng = np.random.default_rng([seed, 2])
        cust, ords = _customers_orders(rng, customers, orders)
        frames = {
            "documents": _documents(rng, docs),
            "events": _events(rng, events, users=max(10, events // 60)),
            "customer": cust,
            "orders": ords,
        }
        for name, df in frames.items():
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           os.path.join(tmp, f"{name}.parquet"))
        pq.write_table(_embeddings(rng, vectors),
                       os.path.join(tmp, "embeddings.parquet"))

    tag = f"tables-d{docs}-v{vectors}-e{events}-c{customers}-o{orders}-s{seed}"
    return cached(cache_root, tag, build)
