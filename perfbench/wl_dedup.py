"""corpus_dedup: quality filter → exact dedup → MinHash-LSH → components.

Closed loop, one pass at a time over a seeded corpus with planted
near-duplicate clusters (``gen.corpus``).  A pass keeps documents whose
``datapipe.text.quality_score`` clears the bar, drops exact copies
(``exact_dedup``), finds candidate pairs with ``minhash_lsh_candidates``,
keeps pairs whose exact shingle Jaccard clears the threshold, labels
``connected_components`` and keeps one representative (the component's
minimum id) per component.  Every timed pass's output (representatives and
component labels) is checked after the measuring window: recall against
the planted clusters and the purity of every merged component.  The
verified edges' Jaccard is recomputed once per run.
"""

from __future__ import annotations

import itertools
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

import gen
from meerkat_abacus_spark.datapipe.dedup import (
    connected_components,
    exact_dedup,
    minhash_lsh_candidates,
    tokens_col,
)
from meerkat_abacus_spark.datapipe.text import quality_score

N_DOCS = 1_000
QUALITY_MIN = 0.6
JACCARD_MIN = 0.5
RECALL_MIN = 0.9
WARMUP_MAX = 2


class Dedup:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.path = f"{ctx.work}/corpus"

    def setup(self):
        """The corpus is made in Python and written as one parquet file per
        core, so the pass reads it with full parallelism."""
        with self.ctx.generating():
            self.docs, self.clusters = gen.corpus(self.ctx.seed, N_DOCS)
            os.makedirs(self.path)
            parts = len(os.sched_getaffinity(0))
            for p in range(parts):
                chunk = self.docs[p::parts]
                pq.write_table(
                    pa.table({"doc_id": pa.array([d[0] for d in chunk], pa.int64()),
                              "text": [d[1] for d in chunk]}),
                    f"{self.path}/part-{p:05d}.parquet",
                )

    def one_pass(self):
        """Raw corpus → (kept doc ids, component label per merged doc, the
        verified-edge DataFrame)."""
        tr, spark = self.ctx.tracer, self.spark
        docs = spark.read.parquet(self.path)
        with tr.span("text"):
            toks = docs.select(
                "doc_id", "text",
                F.explode(F.array(tokens_col(F.lower("text")))).alias("toks"),
            )
            good = tr.materialize(
                toks.where(quality_score(F.col("text"), F.col("toks")) >= QUALITY_MIN)
                .select("doc_id", "text")
            )
            if tr.enabled:
                tr.add("text.docs_in", docs.count())
                tr.add("text.docs_kept", good.count())
        with tr.span("dedup.exact"):
            unique = tr.materialize(
                exact_dedup(good, "doc_id", "text").where("is_kept").select("doc_id", "text")
            )
        with tr.span("dedup.minhash"):
            candidates = tr.materialize(minhash_lsh_candidates(unique, "doc_id", "text"))
            edges = candidates.where(F.col("jaccard") >= JACCARD_MIN).select("id_a", "id_b")
            if tr.enabled:
                tr.add("dedup.candidate_pairs", candidates.count())
                tr.add("dedup.verified_pairs", edges.count())
        with tr.span("dedup.components"):
            labels = connected_components(edges)
            dropped = labels.where(F.col("node") != F.col("component")).select(
                F.col("node").alias("doc_id"))
            kept = unique.join(dropped, "doc_id", "left_anti").select("doc_id")
            kept_ids = [r[0] for r in kept.collect()]
            comp = {r["node"]: r["component"] for r in labels.collect()}
        return kept_ids, comp, edges

    def check(self, kept_ids, comp) -> list[str]:
        """Recall over planted pairs, purity of merged components, and no
        document kept twice."""
        problems = []
        # A planted member whose edits happened to leave its text unchanged
        # is removed by exact dedup; it counts as merged with the copy kept
        # (the lowest id with that text).
        kept_as: dict[str, int] = {}
        canon = {i: kept_as.setdefault(t, i) for i, t in self.docs}

        def label(doc: int) -> int:
            return comp.get(canon[doc], canon[doc])

        planted = found = 0
        member_of = {}
        for i, members in enumerate(self.clusters):
            for m in members:
                member_of[m] = i
            for a, b in itertools.combinations(members, 2):
                planted += 1
                found += label(a) == label(b)
        self.recall = found / planted if planted else 1.0
        if self.recall < RECALL_MIN:
            problems.append(f"recall {self.recall:.4f} below {RECALL_MIN}")
        groups: dict[int, set] = {}
        for node, c in comp.items():
            groups.setdefault(c, set()).add(member_of.get(node, ("bg", node)))
        mixed = [c for c, owners in groups.items() if len(owners) > 1]
        if mixed:
            problems.append(f"{len(mixed)} components merge docs of different clusters")
        if len(kept_ids) != len(set(kept_ids)):
            problems.append("a document was kept twice")
        return problems

    def check_edges(self, edges) -> list[str]:
        """Every verified edge's shingle Jaccard, recomputed in Python, must
        clear the threshold."""
        text = dict(self.docs)
        for r in edges.collect():
            a, b = gen.shingle_set(text[r["id_a"]]), gen.shingle_set(text[r["id_b"]])
            if len(a & b) / len(a | b) < JACCARD_MIN:
                return [f"edge {r['id_a']}-{r['id_b']} below the Jaccard threshold"]
        return []


def run(ctx):
    d = Dedup(ctx)
    d.setup()
    ctx.warm_up(d.one_pass, WARMUP_MAX)
    outputs = []
    while True:
        t = time.perf_counter()
        err, out = None, None
        try:
            with ctx.op():
                out = d.one_pass()
        except Exception as e:  # a failed pass is a failed operation
            err = f"pass raised {type(e).__name__}: {e}"
        ctx.record(time.perf_counter() - t, N_DOCS, err)
        if out is not None:
            outputs.append(out)
        if ctx.time_up():
            break
    for kept_ids, comp, _edges in outputs:
        ctx.wrong(d.check(kept_ids, comp))
    if outputs:
        ctx.verify(d.check_edges(outputs[-1][2]))
        ctx.tracer.counters["dedup.recall"] = d.recall  # exact for the seed


def layer_metrics(ctx) -> dict[str, float]:
    tr = ctx.tracer
    c = tr.counters
    out = {
        "dedup.candidate_pairs": tr.count("dedup.candidate_pairs"),
        "dedup.components_jobs": tr.per_op(("dedup.components",), "jobs"),
        "dedup.recall": c.get("dedup.recall", 0.0),
    }
    if c.get("text.docs_in"):
        out["text.keep_ratio"] = c["text.docs_kept"] / c["text.docs_in"]
    if c.get("dedup.candidate_pairs"):
        out["dedup.candidate_precision"] = c["dedup.verified_pairs"] / c["dedup.candidate_pairs"]
    return out
