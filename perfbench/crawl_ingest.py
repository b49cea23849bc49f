"""Workload ``crawl_ingest``: the composed crawl pipeline at sf0.1.

Set-up copies a pristine, pre-accumulated state (near-dup band state plus
a batched IVF-PQ index, built once per code version by ``prepare.py``)
into a fresh directory. The run then pushes seeded micro-batches through
``streaming.crawl_pipeline.process_crawl_batch`` one after another, which
is what ``foreachBatch`` does. Arrivals carry new, increasing doc ids; a
fixed share of them are exact or few-word-edited copies of documents the
state has already seen, so the gate drops them.

Correctness after the window: every arrival has exactly one decision, the
curated sink and the index grew by exactly the kept count, and the drop
set equals the arrival rule recomputed in DuckDB with the same MinHash
LSH CTE that ``crawl_pipeline_parity``'s oracle uses.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

import datagen
from common import Recorder

# Batch cost is mostly fixed per batch (~44 jobs; on a 4-core host 3.5 s at
# 40 docs and 4 s at 100 once warm). The first batch of a session takes
# 17-19 s while the JVM compiles, the next ones ~6, 5-6 and 5-5.8 s, and
# the curve is flat (~4.5 s) from the fifth or sixth on. Three warm-up
# batches take the cold ones out of the window, which then holds three
# or four batches at the usual run length.
BATCH_DOCS = 40
WARMUP_BATCHES = 3
MAX_BATCHES = 40
FIRST_ARRIVAL_ID = 10_000_000
N_EXACT = 3  # per batch
N_NEAR = 6
# the pristine state: documents [PRE_LO, PRE_HI) with their vectors,
# ingested as PRE_BATCHES batches on top of an index built from the vectors
# below PRE_LO (index training seeds its lists from the lowest ids)
PRE_LO, PRE_HI = 1000, 2000
PRE_BATCHES = 2


def arrival_batches(seed: int, seen_texts: list[str]) -> list[list[tuple]]:
    """``MAX_BATCHES`` batches of (doc_id, text, embedding) rows. Every
    batch has the same make-up: ``N_EXACT`` exact copies and ``N_NEAR``
    two-word edits of documents seen before, and fresh documents whose
    lengths are a fixed set, in seeded order."""
    rng = np.random.default_rng(seed)
    seen = list(seen_texts)
    centers = datagen.label_centers(rng)
    kinds = ["exact"] * N_EXACT + ["near"] * N_NEAR + ["fresh"] * (BATCH_DOCS - N_EXACT - N_NEAR)
    lengths = np.linspace(8, 100, BATCH_DOCS).astype(int)
    out = []
    next_id = FIRST_ARRIVAL_ID
    for _ in range(MAX_BATCHES):
        rows = []
        labels = rng.integers(0, datagen.N_LABELS, BATCH_DOCS)
        vecs = datagen.unit_vectors(rng, labels, centers)
        for j, (kind, n_words) in enumerate(zip(rng.permutation(kinds), rng.permutation(lengths))):
            src = seen[int(rng.integers(len(seen)))]
            if kind == "exact":
                text = src
            elif kind == "near" and len(src.split()) >= 20:
                text = datagen.near_copy(rng, src, edits=2)
            elif kind == "near":
                text = src
            else:
                text = " ".join(rng.choice(datagen.VOCAB, int(n_words)))
            rows.append((next_id, text, [float(x) for x in vecs[j]]))
            next_id += 1
        seen.extend(t for _i, t, _v in rows)
        out.append(rows)
    return out


def pristine_docs(sf_dir: str) -> list[tuple[int, str]]:
    """(doc_id, text) of every document in the pristine state."""
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    pairs = zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())
    return sorted((i, t) for i, t in pairs if PRE_LO <= i < PRE_HI)


def build_pristine(spark, sf_dir: str, root: str) -> None:
    """Index on the vectors below PRE_LO, then documents [PRE_LO, PRE_HI)
    with their vectors ingested batch by batch through the real handler."""
    from pyspark.sql import functions as F

    from ai_powered_data_pipeline_assistant_spark.catalog import load_table
    from ai_powered_data_pipeline_assistant_spark.sources.layout import (
        write_ivfpq_layout_for,
    )
    from ai_powered_data_pipeline_assistant_spark.streaming.crawl_pipeline import (
        process_crawl_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    write_ivfpq_layout_for(spark, emb.filter(F.col("vec_id") < PRE_LO),
                           f"{root}/index", batched=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pre = docs.filter((F.col("doc_id") >= PRE_LO) & (F.col("doc_id") < PRE_HI)).join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id")
    per = (PRE_HI - PRE_LO) // PRE_BATCHES
    for b in range(PRE_BATCHES):
        lo = PRE_LO + b * per
        part = pre.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + per))
        process_crawl_batch(part, b, f"{root}/state", f"{root}/index", f"{root}/out")


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class CrawlIngest:

    def __init__(self, spark, paths, seed: int, run_dir: str):
        self.spark = spark
        self.sf_dir = paths.data
        self.root = run_dir
        shutil.copytree(paths.crawl_pristine, self.root)
        self.state_bytes0 = _dir_bytes(f"{self.root}/state")
        self.pre_docs = pristine_docs(self.sf_dir)
        self.batches = arrival_batches(seed, [t for _i, t in self.pre_docs])
        self.done = 0  # batches processed, warm-up included
        # the copied state tables are registered in this session by the
        # first batch, as for a stream restarted in a fresh session
        self.schema = "doc_id long, text string, embedding array<float>"

    def _batch(self) -> None:
        from ai_powered_data_pipeline_assistant_spark.streaming import crawl_pipeline

        rows = self.batches[self.done]
        df = self.spark.createDataFrame(rows, self.schema)
        crawl_pipeline.process_crawl_batch(
            df, PRE_BATCHES + self.done, f"{self.root}/state",
            f"{self.root}/index", f"{self.root}/out")
        self.done += 1

    def warmup(self, rec: Recorder) -> None:
        for _ in range(WARMUP_BATCHES):
            rec.run("batch", self._batch)

    def measure(self, rec: Recorder, deadline) -> None:
        while not deadline() and self.done < MAX_BATCHES:
            rec.run("batch", self._batch)
            rec.ops[-1].units = BATCH_DOCS

    def extras(self) -> dict[str, float]:
        """The gate's drop share and the near-dup state's growth per
        ingested document (write amplification)."""
        grown = _dir_bytes(f"{self.root}/state") - self.state_bytes0
        return {
            "streaming.neardup.dup_ratio": self.dup_ratio,
            "streaming.crawl_pipeline.state_bytes_per_doc": grown / max(1, self.done * BATCH_DOCS),
        }

    # ------------------------------------------------------------ checks
    def _oracle_drops(self, arrivals) -> set[int]:
        """Arrivals the gate must drop: those with a verified LSH partner
        among all earlier documents (lower doc id), recomputed in DuckDB
        with the MinHash LSH CTE that the crawl parity oracles share."""
        import duckdb

        from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
            JACCARD_THRESHOLD,
            minhash_lsh_cte,
        )

        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE src (doc_id BIGINT, text VARCHAR)")
            con.executemany("INSERT INTO src VALUES (?, ?)",
                            self.pre_docs + [(i, t) for i, t, _ in arrivals])
            cte = minhash_lsh_cte(
                "src", f"a.doc_id > b.doc_id AND a.doc_id >= {FIRST_ARRIVAL_ID}")
            return {
                r[0] for r in con.sql(f"""
                    WITH {cte}
                    SELECT DISTINCT c.a_id FROM candidates c JOIN pairs p
                      ON (c.a_id = p.a_id AND c.b_id = p.b_id)
                      OR (c.a_id = p.b_id AND c.b_id = p.a_id)
                    WHERE p.jaccard >= {JACCARD_THRESHOLD}""").fetchall()
            }
        finally:
            con.close()

    def check(self, oracles: dict) -> list[str]:
        """Per batch: one decision per arrival, drops equal to the DuckDB
        arrival rule, and curated sink and index grown by the kept docs."""
        from pyspark.sql import functions as F

        from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
            DECISIONS_SCHEMA,
        )

        def by_batch(rows) -> dict[int, list]:
            out: dict[int, list] = {}
            for r in rows:
                out.setdefault(r.batch_id - PRE_BATCHES, []).append(r)
            return out

        mine = F.col("batch_id") >= PRE_BATCHES
        decisions = by_batch(
            self.spark.read.schema(f"{DECISIONS_SCHEMA}, batch_id long")
            .parquet(f"{self.root}/out/decisions").filter(mine)
            .select("doc_id", "is_dup", "batch_id").collect())
        curated = by_batch(
            self.spark.read.parquet(f"{self.root}/out/curated").filter(mine)
            .select("doc_id", "batch_id").collect())
        indexed = by_batch(
            self.spark.read.parquet(f"{self.root}/index/codes").filter(mine)
            .select("vec_id", "batch_id").collect())
        arrivals = [r for b in self.batches[: self.done] for r in b]
        want_dropped = self._oracle_drops(arrivals)

        errors: list[str] = []
        failed: set[int] = set()
        dropped_total = 0
        for k, batch in enumerate(self.batches[: self.done]):
            ids = sorted(r[0] for r in batch)
            dec = decisions.get(k, [])
            dropped = {r.doc_id for r in dec if r.is_dup}
            kept = set(ids) - dropped
            dropped_total += len(dropped)
            problems = []
            if sorted(r.doc_id for r in dec) != ids:
                problems.append(f"{len(dec)} decisions for {len(ids)} arrivals")
            if dropped != want_dropped & set(ids):
                problems.append(f"drops {sorted(dropped ^ (want_dropped & set(ids)))[:5]} "
                                "disagree with the DuckDB arrival rule")
            if sorted(r.doc_id for r in curated.get(k, [])) != sorted(kept):
                problems.append("curated sink differs from arrivals minus drops")
            if sorted(r.vec_id for r in indexed.get(k, [])) != sorted(kept):
                problems.append(f"index grew by {len(indexed.get(k, []))}, expected {len(kept)}")
            if problems:
                failed.add(k)
                errors.append(f"batch {k}: " + "; ".join(problems))
        self.dup_ratio = dropped_total / max(1, len(arrivals))
        self.failed_idx = [k - WARMUP_BATCHES for k in failed if k >= WARMUP_BATCHES]
        return errors
