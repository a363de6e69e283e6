"""Vector-store set-up shared by the serving workloads, and the NumPy
reference search the output checks compare against."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from oaim_sandbox_spark import pipeline as PL
from oaim_sandbox_spark.catalog import VectorStorage, VectorStoreCatalog

VS = VectorStorage(alias="bench", model="mock", chunk_size=200, chunk_overlap=0)


def build_store(spark, docs, root: str):
    """Ingest `docs` (pandas) through populate_vs into a fresh directory
    catalog at `root`. Returns (store, report, catalog, name).

    The store's own ids are strings ("<doc_id>_<n>"), which the tiered
    search paths cannot cast to bigint, so the served frame carries
    id = xxhash64(cid) instead (a product gap, see NOTES.md)."""
    catalog = VectorStoreCatalog(spark, root=root)
    report = PL.populate_vs(spark, spark.createDataFrame(docs), catalog, VS)
    store = catalog.read_store(report.vs_name).withColumn("id", F.xxhash64("cid"))
    return store, report, catalog, report.vs_name


class Reference:
    """The store collected to NumPy: exact cosine top-k with the engine's
    rounding and tie-break (distance rounded to 6 places, then id)."""

    def __init__(self, store):
        pdf = store.select("id", "text", "embedding").toPandas()
        self.ids = pdf["id"].to_numpy(np.int64)
        self.texts = dict(zip(pdf["id"].tolist(), pdf["text"].tolist()))
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(x, axis=1)
        self.x, self.norms = x, np.where(norms == 0.0, 1.0, norms)

    def distances(self, q) -> np.ndarray:
        q = np.asarray(q, dtype=np.float64)
        qn = np.linalg.norm(q) or 1.0
        d = 1.0 - (self.x @ q) / (self.norms * qn)
        return np.floor(d * 1e6 + 0.5) / 1e6  # HALF_UP, as Spark's round

    def topk(self, q, k: int, score_threshold: float | None = None) -> list[tuple[int, float]]:
        d = self.distances(q)
        keep = np.arange(len(d))
        if score_threshold is not None:
            score = np.floor((1.0 - d / 2.0) * 1e6 + 0.5) / 1e6
            keep = keep[score >= score_threshold]
        order = np.lexsort((self.ids[keep], d[keep]))[:k]
        return [(int(self.ids[keep][i]), float(d[keep][i])) for i in order]


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]], tol: float = 2e-6) -> bool:
    """Equal id lists, allowing a swap only between distances within `tol`
    (the last-bit differences of two summation orders)."""
    if len(got) != len(want):
        return False
    for (gi, gd), (wi, wd) in zip(got, want):
        if abs(gd - wd) > tol:
            return False
        if gi != wi and not any(abs(gd - d) <= tol and i == gi for i, d in want):
            return False
    return True
