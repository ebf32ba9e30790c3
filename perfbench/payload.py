"""payload_curate: the image+caption curation chain, no crawl.

One operation is one pass of the chain over the persisted corpus:
validate the pages' payloads, pHash near-dup pairs, connected
components, caption near-dup survivors, image features into semantic
dedup. Every step writes its output, so its span covers execution.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from perfbench import oracles
from perfbench.harness import CORES, Tracer, median

EVERY = 3          # near_dup_corpus plants a twin of every third image
# the pHash gate of the repository's own cluster test; planted twins
# land 0-10 bits from their base and unrelated images can be as close as
# 8 bits, so no gate recovers exactly the planted pairs
MAX_HAMMING = 6


def doc_id(col: str = "image_id"):
    return F.regexp_extract(col, r"^img_0*(\d+)$", 1).cast("long")


def curate(spark, corpus, pages, seed: int, out_dir: str, tr) -> dict:
    """Run the chain once; returns each step's output path and wall."""
    from simplecrawler_spark.functions.images import validate_corpus_join
    from simplecrawler_spark.functions.multimodal import image_features
    from simplecrawler_spark.operators.dedup import (
        connected_components, fingerprint_near_dup,
    )
    from simplecrawler_spark.operators.similarity import semantic_dedup
    from simplecrawler_spark.streaming.neardup_stream import (
        neardup_survivors,
    )

    p, secs = {}, {}

    def put(step, name, build):
        with tr.span(step) as s:
            p[name] = os.path.join(out_dir, name)
            build().write.mode("overwrite").parquet(p[name])
        secs[step] = s.seconds

    put("images.validate", "validated",
        lambda: validate_corpus_join(pages, corpus, seed=seed))
    fps = corpus.select(doc_id().alias("doc_id"), "phash")
    put("dedup.phash_pairs", "pairs", lambda: fingerprint_near_dup(
        fps, fp_col="phash", max_hamming=MAX_HAMMING))
    put("dedup.cc", "components",
        lambda: connected_components(spark.read.parquet(p["pairs"])))
    docs = corpus.select(doc_id().alias("doc_id"),
                         F.col("caption").alias("text"))
    put("neardup.survivors", "survivors", lambda: neardup_survivors(docs))

    def sem():
        emb = image_features(corpus).select(
            doc_id().alias("vec_id"),
            F.array((F.col("mean_luma") - 128.0) / 128.0,
                    (F.col("std_luma") - 64.0) / 64.0).alias("embedding"))
        return semantic_dedup(emb, n_cells=8, threshold=0.999)

    put("semdedup", "semdedup", sem)
    return {"paths": p, "secs": secs}


class PayloadCurate:
    n_images = 600

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.outs = os.path.join(work, "curate")
        os.makedirs(self.outs, exist_ok=True)
        self.corpus = None
        self.notes: dict = {}
        # the self-test's hook: rewrites the validated rows the oracle
        # checks
        self.corrupt = None

    def setup(self) -> None:
        """Corpus generation and persist; the pages a crawl would have
        recorded are the base images (the planted twins are payload
        variants no page links to)."""
        from simplecrawler_spark.sources.fixtures import (
            NEAR_DUP_ID_OFFSET, near_dup_corpus,
        )

        if self.corpus is not None:
            self.corpus.unpersist()
            self.pages.unpersist()
        c = near_dup_corpus(self.spark, self.n_images, seed=self.seed,
                            every=EVERY).repartition(CORES).persist()
        self.n_rows = c.count()
        self.pages = (c.where(doc_id() < NEAR_DUP_ID_OFFSET)
                      .select("image_id").persist())
        self.n_pages = self.pages.count()
        self.corpus = c
        self.offset = NEAR_DUP_ID_OFFSET

    def warm(self) -> None:
        """One untimed pass: it compiles the plans and starts the Python
        workers, which makes the first pass about 1.6x a later one."""
        d = tempfile.mkdtemp(dir=self.outs)
        curate(self.spark, self.corpus, self.pages, self.seed, d,
               Tracer("warm", False))
        shutil.rmtree(d, ignore_errors=True)

    def prepare_oracle(self) -> None:
        fps = self.corpus.select(doc_id().alias("doc_id"), "phash").toPandas()
        ids = fps["doc_id"].to_numpy()
        self.want_components = oracles.hamming_components(
            ids, fps["phash"].to_numpy(), MAX_HAMMING)
        self.notes = {"planted_recall": oracles.planted_recall(
            self.want_components, ids.tolist(), self.offset)}
        self.captions = self.corpus.select(
            "image_id", F.col("caption").alias("want_caption")).persist()
        self.captions.count()

    def op(self, tracer) -> dict:
        d = tempfile.mkdtemp(dir=self.outs)
        with tracer.span("curate") as sp:
            res = curate(self.spark, self.corpus, self.pages, self.seed, d,
                         tracer)
        p = res["paths"]
        read = self.spark.read.parquet
        validated = read(p["validated"])
        if self.corrupt is not None:
            validated = self.corrupt(validated)
        errors = oracles.check_payload(
            validated, self.captions, read(p["components"]),
            read(p["survivors"]), self.n_pages, self.want_components,
            self.offset)
        return {"wall": sp.seconds, "items": self.n_rows,
                "steps": [sp.seconds], "errors": errors, "paths": p,
                "secs": res["secs"], "dir": d}

    def release(self, op: dict) -> None:
        shutil.rmtree(op["dir"], ignore_errors=True)

    def layers(self, tracer, ops: list[dict]) -> dict:
        return curation_metrics(self.spark, ops, self.n_rows)


def curation_metrics(spark, ops: list[dict], n_rows: int) -> dict:
    """Median step walls over the traced passes, counts of the last."""
    read = spark.read.parquet
    paths = ops[-1]["paths"]

    def secs(step):
        return median([o["secs"][step] for o in ops])

    return {
        "images.validate_s": secs("images.validate"),
        "images.rows": n_rows,
        "dedup.phash_pairs_s": secs("dedup.phash_pairs"),
        "dedup.phash_pairs": read(paths["pairs"]).count(),
        "dedup.cc_s": secs("dedup.cc"),
        "neardup.survivors_s": secs("neardup.survivors"),
        "neardup.survivors": read(paths["survivors"]).count(),
        "semdedup.s": secs("semdedup"),
        "semdedup.survivors": read(paths["semdedup"]).count(),
    }


class TinyCorpus(PayloadCurate):
    """A small fixed corpus that gives the curation layers something to
    run in the traced run of a crawl workload."""
    n_images = 24
