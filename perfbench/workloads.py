"""The benchmark's workloads: what each one runs and how its outputs are checked.

A workload has query ops (registered catalog queries, checked against
their DuckDB oracles) and, for ``curation``, maintenance steps (operator
calls on one arriving batch that write the updated state with real parquet
sinks, checked by rebuilding the final state from scratch).
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa

import datagen

# Queries of the fixed-cost workload, from the four families they stand
# for: the reference pipeline, TPC-H shapes, windows over events, sketches.
WAREHOUSE = [
    "damped_part_popularity", "ranking_metrics_popularity",
    "pricing_summary", "nation_trade_flows", "user_sessions",
    "heavy_hitter_parts_cms", "orders_price_histogram", "quantile_sketch_shard_merge",
]
# Two scale-killers, the Python-worker (Arrow) path and the one
# streaming entry.
CURATION = [
    "customer_part_twins", "dedup_ngram_jaccard_pairs",
    "multimodal_jpeg_features", "streaming_upsert_snapshot",
]
STEPS = ["dfreq_delta", "ivfpq_append", "merge_snapshot"]
# the IVF-PQ index of the embeddings, as embedding_ivfpq_incremental builds it
IVFPQ = dict(dim=64, m=16, k_codes=32, n_centroids=16)

N_PARTS = 20          # hash buckets of the corpus split
N_INITIAL = 11        # buckets 0..10 are the initial corpus
N_BATCHES = N_PARTS - N_INITIAL


@dataclass
class Workload:
    name: str
    scale: float
    factor: int
    queries: list[str]
    steps: list[str] = field(default_factory=list)
    # timed passes a run makes at least; per-operation latency is the
    # median over them. With one pass, warehouse's wall_s spread twice as
    # wide, and its resident memory (how much heap the JVM has touched)
    # spread 0.18 of the median against 0.02.
    passes: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        Workload("warehouse", scale=0.002, factor=1, queries=WAREHOUSE, passes=2),
        Workload("curation", scale=0.002, factor=5, queries=CURATION, steps=STEPS),
    )
}


def op_order(wl: Workload) -> list[tuple[str, str]]:
    """(kind, name) of one pass. The order is fixed: an operation's first
    execution pays for the shared code paths no earlier operation used, so
    a seeded order moved single operations by up to 2x."""
    return [("query", q) for q in wl.queries] + [("step", s) for s in wl.steps]


def make_fixture(path: str, seed: int, scale: float, factor: int) -> str:
    """Generate the tables for ``seed`` and return their digest."""
    tables = datagen.make_tables(seed, scale)
    if factor > 1:
        tables = datagen.replicate(tables, factor)
    datagen.write_tables(tables, path)
    h = hashlib.sha1(f"{seed}:{scale}:{factor}".encode())
    for name in sorted(tables):
        with open(os.path.join(path, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- oracles

def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the ten tables as views. A table Spark wrote
    is a directory of part files, so directories are globbed."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for name in datagen.TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def oracle_answer(cache_dir: str, query: str, sql: str, sf_dir: str,
                  digest: str, seed: int) -> pd.DataFrame:
    """The oracle's answer, cached per (query, fixture digest, seed)."""
    path = os.path.join(cache_dir, f"{query}-{seed}-{digest}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb_views(sf_dir)
    try:
        ans = con.sql(sql).df()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(ans, f)
    os.replace(path + ".tmp", path)
    return ans


# -------------------------------------------------------------- maintenance

class Maintenance:
    """Persisted state of the curation corpus and the per-batch steps that
    maintain it through O(batch) paths. The seed hashes document and
    vector ids into an initial corpus and ``N_BATCHES`` arriving batches,
    and draws one customer changelog per batch."""

    def __init__(self, spark, fixture: str, root: str, seed: int):
        from pyspark.sql import functions as F

        from bigdata_capstone_spark.sources.tables import load_table

        self.spark, self.seed = spark, seed
        # the persisted state alone; the changelogs are inputs
        self.state = os.path.join(root, "state")
        self.changelog_dir = os.path.join(root, "changelog")
        self.customer_file = os.path.join(fixture, "customer.parquet")

        def split(df, key):
            return df.withColumn(
                "part", F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(N_PARTS)))

        self.docs = split(load_table(spark, fixture, "documents").select("doc_id", "text"),
                          "doc_id")
        self.vecs = split(load_table(spark, fixture, "embeddings").select("vec_id", "embedding"),
                          "vec_id")
        self.customer = load_table(spark, fixture, "customer")
        self.versions: dict[str, int] = {}
        self.applied: list[int] = []

    # layout: <state>/<relation>/v<k>; only the newest version is kept
    def path(self, rel: str, version: int | None = None) -> str:
        v = self.versions[rel] if version is None else version
        return os.path.join(self.state, rel, f"v{v}")

    def path_ivfpq(self) -> str:
        """The IVF-PQ rows: one relation that each batch appends to."""
        return os.path.join(self.state, "ivfpq")

    def read(self, rel: str):
        return self.spark.read.parquet(self.path(rel))

    def write(self, rel: str, df) -> str | None:
        """Write ``df`` as the next version of ``rel``; returns the path of
        the version it replaces, which the caller deletes."""
        from bigdata_capstone_spark.sources import sinks

        old = self.versions.get(rel)
        nxt = 0 if old is None else old + 1
        sinks.write_parquet(df, self.path(rel, nxt))
        self.versions[rel] = nxt
        return None if old is None else self.path(rel, old)

    def part_docs(self, parts):
        from pyspark.sql import functions as F

        return self.docs.filter(F.col("part").isin(list(parts))).drop("part")

    def part_vecs(self, parts):
        from pyspark.sql import functions as F

        return self.vecs.filter(F.col("part").isin(list(parts))).drop("part")

    def ivfpq_codes(self, parts):
        """IVF-PQ rows of the vectors in ``parts``, with both quantizers
        frozen on the initial corpus."""
        from bigdata_capstone_spark.operators import simsearch

        return simsearch.ivfpq_encode_prf(
            self.part_vecs(parts), train_on=self.part_vecs(range(N_INITIAL)), **IVFPQ)

    def build_initial(self) -> None:
        """Build and persist the initial state (untimed set-up)."""
        from bigdata_capstone_spark.operators import retrieval

        self.write("dfreq", retrieval.dfreq_table(self.part_docs(range(N_INITIAL))))
        # The IVF-PQ relation starts empty; the first append creates it.
        # The append step never reads it, and encoding the initial corpus
        # would add 7 s to set-up.
        os.makedirs(self.path("customers", 0))
        shutil.copy(self.customer_file, self.path("customers", 0))
        self.versions["customers"] = 0
        self._write_changelogs()

    def _write_changelogs(self) -> None:
        """One changelog per batch: balance updates for about 5% of the
        customers plus five new customers."""
        import numpy as np
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed + 7)
        base = pd.read_parquet(self.customer_file)
        schema = pa.schema([
            ("c_custkey", pa.int64()), ("c_name", pa.string()),
            ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
            ("c_mktsegment", pa.string()),
        ])
        os.makedirs(self.changelog_dir, exist_ok=True)
        for b in range(N_BATCHES):
            upd = base.sample(frac=0.05, random_state=int(rng.integers(1 << 30))).copy()
            # the batch-specific offset makes every update a real change,
            # also for a customer an earlier batch already updated
            bump = 1000 * (b + 1) + rng.integers(1, 100, len(upd))
            upd["c_acctbal"] = (upd["c_acctbal"] + bump).round(2)
            new = pd.DataFrame({
                "c_custkey": [10**9 + b * 100 + i for i in range(5)],
                "c_name": [f"Customer#new{b}-{i}" for i in range(5)],
                "c_nationkey": np.arange(5, dtype=np.int32),
                "c_acctbal": [100.0 * i for i in range(5)],
                "c_mktsegment": ["BUILDING"] * 5,
            })
            tbl = pa.Table.from_pandas(pd.concat([upd, new]), preserve_index=False)
            pq.write_table(tbl.cast(schema), os.path.join(self.changelog_dir, f"b{b}.parquet"))

    def batches_left(self) -> int:
        return N_BATCHES - len(self.applied)

    def next_batch(self) -> int:
        return len(self.applied)

    def run_step(self, step: str, b: int) -> dict | None:
        """Apply ``step`` for batch ``b``; returns a check record or None."""
        from bigdata_capstone_spark.operators import merge, reconcile, retrieval
        from bigdata_capstone_spark.sources import sinks

        if step == "ivfpq_append":
            sinks.write_parquet(self.ivfpq_codes([N_INITIAL + b]), self.path_ivfpq(),
                                mode="append")
            return None
        if step == "dfreq_delta":
            empty = self.spark.createDataFrame([], "doc_id long, text string")
            old = self.write("dfreq", retrieval.apply_dfreq_delta(
                self.read("dfreq"), retrieval.dfreq_table(empty),
                retrieval.dfreq_table(self.part_docs([N_INITIAL + b]))))
            shutil.rmtree(old)
            return None
        if step == "merge_snapshot":
            target = self.read("customers")
            upd = self.spark.read.parquet(os.path.join(self.changelog_dir, f"b{b}.parquet"))
            old = self.write("customers", merge.merge_upsert(target, upd, on=["c_custkey"]))
            summary = reconcile.snapshot_diff_summary(
                target, self.read("customers"), on=["c_custkey"]).collect()
            shutil.rmtree(old)
            got = {r["status"]: r["n_rows"] for r in summary}
            n_new = sum(1 for k in upd.select("c_custkey").toPandas()["c_custkey"] if k >= 10**9)
            n_upd = upd.count() - n_new
            return {"added": got.get("added", 0) == n_new,
                    "changed": got.get("changed", 0) == n_upd}
        raise KeyError(step)

    def finish_batch(self, b: int) -> None:
        self.applied.append(b)

    def verify(self) -> dict[str, list[str]]:
        """Each maintained relation must equal a rebuild from scratch of the
        final corpus: document frequencies from the final documents, the
        IVF-PQ rows by encoding all arrived vectors in one call, the
        snapshot from a pandas replay of the applied changelogs. Rows are
        compared exactly and in any order."""
        from bigdata_capstone_spark.operators import retrieval
        from bigdata_capstone_spark.testing import compare_frames

        parts = list(range(N_INITIAL)) + [N_INITIAL + b for b in self.applied]
        arrived = [N_INITIAL + b for b in self.applied]
        ivfpq = self.ivfpq_codes(arrived)
        if os.path.isdir(self.path_ivfpq()):
            got_ivfpq = self.spark.read.parquet(self.path_ivfpq())
        else:  # no batch arrived
            got_ivfpq = ivfpq.limit(0)
        return {
            step: compare_frames(got.toPandas(), want.toPandas())
            for step, got, want in (
                ("dfreq_delta", self.read("dfreq"),
                 retrieval.dfreq_table(self.part_docs(parts))),
                ("ivfpq_append", got_ivfpq, ivfpq),
                ("merge_snapshot", self.read("customers"), self._replayed_snapshot()),
            )
        }

    def _replayed_snapshot(self):
        snap = pd.read_parquet(self.customer_file).set_index("c_custkey")
        for b in self.applied:
            upd = pd.read_parquet(os.path.join(self.changelog_dir, f"b{b}.parquet"))
            upd = upd.set_index("c_custkey")
            snap = pd.concat([snap.drop(index=upd.index, errors="ignore"), upd])
        return self.spark.createDataFrame(snap.reset_index(), schema=self.customer.schema)
