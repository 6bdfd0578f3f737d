"""``curate``: batch curation passes, each over a fresh corpus.

One pass reads a seeded document corpus (with injected exact and near
duplicates and a shared boilerplate passage) and its embedding vectors from
Parquet and runs the curation chain:

    exact_dedup -> minhash_lsh_pairs + near_dup_groups -> substring_dedup
    -> lm_publish / lm_load / kn_score
    -> kmeans_centroids / ivf_index (published with atomic_publish) / ivf_search

Pass ``n`` reads corpus ``n`` (its own sub-seed), so nothing a previous pass
cached is keyed to the next pass's input. Set-up writes the first corpora;
a pass beyond them generates its corpus before the pass starts. After the
measured window each pass is checked: injected-duplicate recall,
``kn_score`` finite and equal to scoring under a one-shot ``lm_train``, and
IVF recall@k against ``brute_force_topk``.
"""

from __future__ import annotations

import math
import os

from perfbench import data
from perfbench.harness import median

SIZES = {
    "full": {"docs": 1500, "vectors": 600, "queries": 16, "setup_reps": 3},
    "smoke": {"docs": 60, "vectors": 80, "queries": 4, "setup_reps": 2},
}
#: Parquet files per corpus table
PARTS = 8
DIM, CLUSTERS, CENTROIDS, NPROBE, TOPK = 32, 8, 8, 4, 10
#: a pass fails its check below these (the injected pairs are built to pass)
MIN_NEAR_RECALL, MIN_ANN_RECALL = 0.9, 0.8

STAGES = {
    "operators.dedup.exact_dedup": "operators.dedup.exact_s",
    "operators.dedup.minhash_lsh": "operators.dedup.minhash_s",
    "operators.dedup.substring_dedup": "operators.dedup.substring_s",
    "operators.lm.publish_load_score": "operators.lm.score_s",
    "operators.similarity.ivf": "operators.similarity.ann_s",
}


def build_corpus(root: str, seed: int, n: int, size: dict) -> dict:
    """Corpus ``n`` of ``seed`` under ``root``: docs + vectors + query
    vectors as Parquet, and the injected-duplicate truth."""
    rng = data.rng_for(seed, 10, n)
    docs, truth = data.corpus(rng, size["docs"])
    centers = data.cluster_centers(rng, CLUSTERS, DIM)
    vecs = data.vectors(rng, size["vectors"], centers)
    queries = data.vectors(rng, size["queries"], centers, id0=10**6)
    d = os.path.join(root, f"c{n:02d}")
    # several files each, so the scans split into tasks for every core
    for name, table in (("docs", docs), ("vectors", vecs)):
        step = -(-table.num_rows // PARTS)
        for p in range(PARTS):
            data.write(table.slice(p * step, step), os.path.join(d, name, f"part-{p}.parquet"))
    data.write(queries, os.path.join(d, "queries", "part-0.parquet"))
    return {"dir": d, "truth": truth, "n_docs": docs.num_rows}


class Curate:
    cycle = 1

    def __init__(self, h, tracer):
        self.h = h
        self.tracer = tracer
        self.size = SIZES["smoke" if h.smoke else "full"]

    def instrument(self) -> None:
        import parqueryd_spark.sources.parquet as parquet
        import parqueryd_spark.sources.sinks as sinks
        from perfbench.harness import dir_bytes
        from perfbench.tracing import resolved_counts

        self.tracer.wrap(parquet, "resolve_paths", "sources.resolve_paths", "sources", count=resolved_counts)
        self.tracer.wrap(sinks, "atomic_publish", "sources.sinks.atomic_publish", "sources.sinks",
                         count=lambda a, k, r: {"bytes": dir_bytes(a[1])})

    def setup(self, rep: int) -> dict:
        """Writes the corpus of pass ``rep``."""
        return build_corpus(self.h.path("curate"), self.h.seed, rep, self.size)

    def prepare(self, corpora: list[dict]) -> None:
        """A batch pass is measured cold, as a fresh curation job runs it.
        Only the traced run warms up first (on a corpus from a disjoint
        seed, at other paths), so both halves of its traced/untraced pair
        run warm and no input-keyed cache carries into them."""
        self.corpora = list(corpora)
        if self.h.trace:
            warm = build_corpus(self.h.path("curate-warm"), self.h.seed + 7_919_000_003, 0, self.size)
            self.run_pass(warm, "warm")

    def corpus(self, n: int) -> dict:
        """The corpus of pass ``n``, written now if set-up did not."""
        while len(self.corpora) <= n:
            self.corpora.append(build_corpus(self.h.path("curate"), self.h.seed, len(self.corpora), self.size))
        return self.corpora[n]

    def run_pass(self, corpus: dict, tag: str) -> dict:
        """One curation pass; returns what the checks need."""
        from pyspark.sql import functions as F

        from parqueryd_spark.operators import dedup, lm, similarity
        from parqueryd_spark.sources import parquet, sinks

        spark = self.h.spark
        t = self.tracer
        d = corpus["dir"]
        out = {}
        docs = parquet.read_parquet(spark, os.path.join(d, "docs"))
        vecs = parquet.read_parquet(spark, os.path.join(d, "vectors"))
        queries = parquet.read_parquet(spark, os.path.join(d, "queries"))
        with t.span("operators.dedup.exact_dedup", "operators"):
            out["exact"] = [
                (r.keep_id, r.n_copies)
                for r in dedup.exact_dedup(docs, "text", "doc_id").where(F.col("n_copies") > 1).collect()
            ]
        with t.span("operators.dedup.minhash_lsh", "operators"):
            pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.7)
            out["groups"] = {r.doc_id: r.group_id for r in dedup.near_dup_groups(pairs).collect()}
        with t.span("operators.dedup.substring_dedup", "operators"):
            out["substring"] = (
                dedup.substring_dedup(docs, "doc_id", "text", min_tokens=16)
                .agg(F.count("*").alias("docs"), F.sum("n_dropped").alias("dropped"))
                .collect()[0]
                .asDict()
            )
        with t.span("operators.lm.publish_load_score", "operators"):
            lm_dir = self.h.path("lm", f"{tag}-{os.path.basename(d)}")
            lm.lm_publish(spark, lm_dir, docs)
            model = lm.lm_load(spark, lm_dir)
            out["kn"] = {r.doc_id: r.avg_nll for r in lm.kn_score(docs, "doc_id", model).collect()}
        with t.span("operators.similarity.ivf", "operators"):
            cents = similarity.kmeans_centroids(vecs, CENTROIDS, seed=self.h.seed % 100_000, max_iter=3)
            index_dir = self.h.path("ivf", f"{tag}-{os.path.basename(d)}")
            sinks.atomic_publish(similarity.ivf_index(vecs, cents), index_dir, partition_by=["centroid_id"])
            index = spark.read.parquet(index_dir)
            hits = similarity.ivf_search(index, cents, queries, nprobe=NPROBE, k=TOPK).collect()
            out["ann"] = sorted((r.query_id, r.neighbor_id) for r in hits)
        return out

    def step(self, i: int, traced: bool) -> None:
        # every pass, traced or not, gets a corpus no earlier pass has read
        n = len(self.tracer.ops)
        corpus = self.corpus(n)
        with self.tracer.op("pass", traced=traced, corpus=n, items=corpus["n_docs"]) as rec:
            rec["result"] = self.run_pass(corpus, f"p{n}")

    # -- metrics --------------------------------------------------------------------------

    def e2e(self, ops: list[dict]) -> dict:
        ok = [o for o in ops if o["ok"]]
        return {
            "op_p50_s": median([o["wall_s"] for o in ok or ops]),
            "items_per_s": sum(o["items"] for o in ok) / sum(o["wall_s"] for o in ops),
            "passes": len(ops),
            "failed_ratio": 1 - len(ok) / len(ops),
            "dup_recall": [o.get("dup_recall") for o in ops],
            "recall_at_k": [o.get("recall_at_k") for o in ops],
        }

    def layers(self, ops: list[dict]) -> dict:
        out = {}
        for span_name, metric in STAGES.items():
            spans = self.tracer.spans_named(span_name)
            if spans:
                out[metric] = median([s["end"] - s["start"] for s in spans])
        checked = [o for o in ops if "dup_recall" in o]
        if checked:
            out["operators.dedup.dup_recall"] = median([o["dup_recall"] for o in checked])
            out["operators.similarity.recall_at_k"] = median([o["recall_at_k"] for o in checked])
        return out

    # -- correctness ----------------------------------------------------------------------

    def check(self, ops: list[dict]) -> None:
        for rec in ops:
            if not rec["ok"]:
                continue
            corpus = self.corpora[rec["corpus"]]
            err = self.check_pass(corpus, rec.pop("result"), rec)
            if err:
                rec["ok"] = False
                rec["error"] = err

    def check_pass(self, corpus: dict, out: dict, rec: dict) -> str | None:
        from parqueryd_spark.operators import lm, similarity
        from parqueryd_spark.sources import parquet

        spark = self.h.spark
        truth = corpus["truth"]
        keep = dict(out["exact"])
        exact_found = sum(1 for a, _b in truth["exact"] if keep.get(a, 0) >= 2)
        g = out["groups"]
        near_found = sum(1 for a, b in truth["near"] if a in g and g.get(a) == g.get(b))
        injected = len(truth["exact"]) + len(truth["near"])
        rec["dup_recall"] = (exact_found + near_found) / injected
        if exact_found != len(truth["exact"]):
            return f"exact dup recall {exact_found}/{len(truth['exact'])}"
        if near_found < MIN_NEAR_RECALL * len(truth["near"]):
            return f"near dup recall {near_found}/{len(truth['near'])}"
        if out["substring"]["dropped"] is None or out["substring"]["dropped"] <= 0:
            return "substring_dedup dropped nothing from the injected boilerplate"

        docs = parquet.read_parquet(spark, os.path.join(corpus["dir"], "docs"))
        if not all(v is not None and math.isfinite(v) for v in out["kn"].values()):
            return "kn_score produced a non-finite score"
        one_shot = {r.doc_id: r.avg_nll for r in lm.kn_score(docs, "doc_id", lm.lm_train(docs)).collect()}
        if one_shot != out["kn"]:
            bad = sum(1 for k in one_shot if one_shot[k] != out["kn"].get(k))
            return f"kn_score over the published LM differs from one-shot lm_train on {bad} docs"

        vecs = parquet.read_parquet(spark, os.path.join(corpus["dir"], "vectors"))
        queries = parquet.read_parquet(spark, os.path.join(corpus["dir"], "queries"))
        exact = {(r.query_id, r.neighbor_id) for r in similarity.brute_force_topk(vecs, queries, k=TOPK).collect()}
        rec["recall_at_k"] = len(exact & set(out["ann"])) / len(exact)
        if rec["recall_at_k"] < MIN_ANN_RECALL:
            return f"ivf recall@{TOPK} {rec['recall_at_k']:.3f} < {MIN_ANN_RECALL}"
        return None
