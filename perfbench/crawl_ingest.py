"""``crawl_ingest``: the write-heavy path — micro-batches of arriving
documents through `streaming.crawl_pipeline.process_crawl_batch` (near-dup
gate → curation → IVF-PQ index append → curated sink), unarmed
(``rebuild_corpus=None``).

Set-up builds the batched IVF-PQ index from the generated embeddings with
`sources.layout.write_ivfpq_layout_for(..., batched=True)` and ingests
``WARMUP_BATCHES`` warm-up batches. Each batch holds ``BATCH_DOCS``
arrivals with fresh, increasing doc_ids (no id ever re-arrives): texts
drawn without replacement from the generated documents (which carry their
own ~5% near-copies), each with a fresh unit vector, and
``PLANTED_PER_BATCH`` planted near-copies of earlier arrivals — the
source's words re-spaced (token-identical, so the gate must catch every
one) with the source's vector plus small noise.

Checks, after the timed batches: every batch's dropped + curated =
arrivals and indexed = curated; every planted copy was dropped; every
dropped arrival has an earlier arrival with word-3-shingle Jaccard ≥ the
gate's threshold; and replaying the last batch leaves its outputs
unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from common import RunContext

BATCH_DOCS = 50
PLANTED_PER_BATCH = 10
FIRST_DOC_ID = 10_000_000
NOISE = 0.01
WARMUP_BATCHES = 3  # batch times fall over the first batches while the JIT warms up
MIN_BATCHES = 3
_SPACERS = ("  ", "\n", " \t ")


def tree_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(total bytes of every file, number of ``suffix`` files) under path."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(suffix)
    return total, files


def shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    toks = text.split()
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


class Arrivals:
    """Seeded arrival generator; keeps every arrival for the checks."""

    def __init__(self, seed: int, pool: list[str]):
        self.rng = np.random.default_rng([seed, 2])
        self.pool = [pool[i] for i in self.rng.permutation(len(pool))]
        self.next_id = FIRST_DOC_ID
        self.texts: dict[int, str] = {}
        self.vectors: dict[int, np.ndarray] = {}
        self.planted: set[int] = set()

    def batch(self) -> list[tuple[int, str, list[float]]]:
        slots = set(int(i) for i in self.rng.choice(BATCH_DOCS, PLANTED_PER_BATCH, replace=False))
        rows = []
        for pos in range(BATCH_DOCS):
            doc_id = self.next_id
            self.next_id += 1
            if pos in slots and self.texts:
                ids = list(self.texts)
                src = ids[int(self.rng.integers(0, len(ids)))]
                spacer = _SPACERS[int(self.rng.integers(0, len(_SPACERS)))]
                text = spacer.join(self.texts[src].split()) + " "
                vec = self.vectors[src] + self.rng.normal(0.0, NOISE, self.vectors[src].shape)
                self.planted.add(doc_id)
            else:
                text = self.pool.pop()
                vec = self.rng.standard_normal(64)
            vec = vec / np.linalg.norm(vec)
            self.texts[doc_id] = text
            self.vectors[doc_id] = vec
            rows.append((doc_id, text, [float(x) for x in vec.astype(np.float32)]))
        return rows

    def expected_possible_dups(self, threshold: float) -> set[int]:
        """Arrivals with an earlier arrival at Jaccard ≥ threshold."""
        ids = sorted(self.texts)
        sh = {i: shingles(self.texts[i]) for i in ids}
        out = set()
        for n, a in enumerate(ids):
            for b in ids[:n]:
                inter = len(sh[a] & sh[b])
                if inter and inter / len(sh[a] | sh[b]) >= threshold:
                    out.add(a)
                    break
        return out


class CrawlIngest:
    def __init__(self, ctx: RunContext):
        self.ctx = ctx
        self.spark = ctx.spark
        self.root = ctx.work_dir
        self.state = f"{self.root}/state"
        self.index = f"{self.root}/index"
        self.out = f"{self.root}/out"
        pool = pq.read_table(f"{ctx.sf_dir}/documents.parquet", columns=["text"])
        self.arrivals = Arrivals(ctx.seed, pool.column("text").to_pylist())
        self.batches: list[list[tuple]] = []

    def build_index(self) -> None:
        from ai_powered_data_pipeline_assistant_spark.catalog import load_table
        from ai_powered_data_pipeline_assistant_spark.sources.layout import (
            write_ivfpq_layout_for,
        )

        emb = load_table(self.spark, self.ctx.sf_dir, "embeddings").select("vec_id", "embedding")
        write_ivfpq_layout_for(self.spark, emb, self.index, batched=True)

    def frame(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string, embedding array<float>")

    def ingest(self, batch_id: int, frame) -> None:
        from ai_powered_data_pipeline_assistant_spark.streaming import crawl_pipeline

        crawl_pipeline.process_crawl_batch(frame, batch_id, self.state, self.index, self.out)

    def next_batch(self):
        """(batch_id, arrivals frame) of a new batch; the frame is built
        outside the timer, as the source of a stream would hand it over."""
        rows = self.arrivals.batch()
        self.batches.append(rows)
        return len(self.batches) - 1, self.frame(rows)

    # ---- checks (outside the timers) ----
    def outputs(self) -> dict[int, tuple[int, int, int, frozenset]]:
        """batch_id -> (dropped, curated, indexed, curated doc_id set)."""
        from pyspark.sql import functions as F

        from ai_powered_data_pipeline_assistant_spark.streaming.neardup import (
            DECISIONS_SCHEMA,
        )

        sp = self.spark
        dec = (
            sp.read.schema(f"{DECISIONS_SCHEMA}, batch_id long").parquet(f"{self.out}/decisions")
            .groupBy("batch_id").agg(F.sum(F.col("is_dup").cast("long")).alias("n")).collect()
        )
        cur = (
            sp.read.parquet(f"{self.out}/curated").groupBy("batch_id")
            .agg(F.collect_set("doc_id").alias("ids")).collect()
        )
        idx = (
            sp.read.parquet(f"{self.index}/codes").filter(F.col("batch_id") >= 0)
            .groupBy("batch_id").count().collect()
        )
        dropped = {r["batch_id"]: r["n"] for r in dec}
        curated = {r["batch_id"]: frozenset(r["ids"]) for r in cur}
        indexed = {r["batch_id"]: r["count"] for r in idx}
        return {
            b: (dropped.get(b, 0), len(curated.get(b, ())), indexed.get(b, 0),
                curated.get(b, frozenset()))
            for b in range(len(self.batches))
        }

    def check(self) -> dict[str, float]:
        from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
            JACCARD_THRESHOLD,
        )

        ctx = self.ctx
        before = self.outputs()
        n_arrivals = sum(len(b) for b in self.batches)
        curated_ids = set().union(*(v[3] for v in before.values()))
        dropped_ids = set(self.arrivals.texts) - curated_ids
        for b, (dropped, curated, indexed, _ids) in before.items():
            want = len(self.batches[b]) + (1 if ctx.wrong_expected else 0)
            ok = dropped + curated == want and indexed == curated
            if b < WARMUP_BATCHES:
                ctx.checks[f"warm-up batch {b}: dropped + curated = arrivals, indexed = curated"] = ok
            elif not ok:
                op = ctx.ops[b - WARMUP_BATCHES]
                op.ok = False
                op.note = f"dropped {dropped} curated {curated} indexed {indexed}"
        ctx.checks["every planted near-copy dropped"] = self.arrivals.planted <= dropped_ids
        possible = self.arrivals.expected_possible_dups(JACCARD_THRESHOLD)
        ctx.checks["every dropped arrival has an earlier near-copy"] = dropped_ids <= possible
        last = len(self.batches) - 1
        self.ingest(last, self.frame(self.batches[last]))
        ctx.checks["replayed last batch leaves outputs unchanged"] = self.outputs() == before
        state_b, state_files = tree_stats(self.state)
        index_b, index_files = tree_stats(self.index)
        out_b, _ = tree_stats(self.out)
        return {
            "crawl.dup_ratio": len(dropped_ids) / n_arrivals,
            "crawl.state_files": float(state_files),
            "crawl.index_files": float(index_files),
            "crawl.stored_bytes_per_doc": (state_b + index_b + out_b) / n_arrivals,
        }


def run(ctx: RunContext, units: int | None = None) -> dict[str, float]:
    """Index build and ``WARMUP_BATCHES`` batches (set-up), then timed batches until
    ``ctx.seconds`` pass and at least ``MIN_BATCHES`` ran, or exactly
    ``units`` batches when given."""
    wl = CrawlIngest(ctx)
    wl.build_index()
    for _ in range(WARMUP_BATCHES):
        wl.ingest(*wl.next_batch())
    ctx.mark_setup_done()
    for _ in ctx.units(units, MIN_BATCHES):
        batch_id, frame = wl.next_batch()
        ctx.timed("crawl_batch", lambda: wl.ingest(batch_id, frame))
    return wl.check()
