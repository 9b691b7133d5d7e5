"""Stored LSH signature/index tables: compute once at ingest, query many.

The dedup/ANN layer's signature chains (minhash band buckets over text,
random-hyperplane signatures over embeddings) are deterministic
functions of the corpus — at 100 TB they belong in materialized index
tables written ONCE at ingest, not re-folded per query (the md5 shingle
fold dominates every minhash query; the plane fold plus its ~2000-node
literal probe tree dominates every ANN query's plan time).

Two index tables:

* minhash bucket index ``(id, bucket)`` — the exploded band-bucket
  table (functions/dedup.doc_band_buckets). Every minhash-family query
  (candidates, jaccard verify, cluster resolve, dedup apply) starts
  from it via ``dedup.candidate_pairs_from_buckets``. Written
  partitioned-by-nothing but bucketable on ``bucket`` in a real
  deployment (the candidate self-join then co-locates).
* embedding signature index ``(id, vec, sig0..sig{L-1})`` — one stored
  int per LSH table. ANN reads it through
  ``similarity.ann_topk_from_signatures`` (integer IN-list probes, no
  per-query plane fold); near-dup bucketing reads ``sig0`` through
  ``embedding_near_dup_pairs(sig_col=...)``.

``ensure_index_tables`` is the sandbox stand-in for the ingest job: it
materializes both tables to parquet next to the tmp dir, keyed by the
source directory identity (path + file mtime/size), and returns readers.
In production this is a write to the Iceberg index tables at the end of
the ingest pipeline; the query-side call sites are identical.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, functions as F

from libswish3_spark.functions import dedup as D, similarity as S

ANN_DIMS = 64
ANN_PLANES = 8
ANN_TABLES = 4
ANN_SEED = 42
# bump when the index schema/content rule changes — keys the on-disk
# cache so stale layouts rebuild instead of being read back silently
_INDEX_VERSION = 3


def build_minhash_bucket_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bucket) exploded band-bucket table — the storable minhash
    index (K/bands per functions/dedup defaults, recall-measured).

    The whole chain — tokenize → 3-gram shingles → 4 md5/shingle → 16
    min-folds → 8 band keys → explode — runs in ONE Arrow batch kernel:
    the expression form's nested aggregate/zip_with/transform lambdas
    are interpreted per element on the JVM and dominated the ingest
    (measured 232 s for 1.28 M docs; hashlib's C md5 plus plain Python
    min-folds beat the lambda interpreter several-fold). Byte-identical
    output to :func:`dedup.doc_band_buckets` is pinned by pytest over
    the bench corpus: same 3-grams (:func:`dedup.ascii_shingles`, the
    Python twin of ``shingles(tokens(col))``), same hex slices, same
    string ordering (ASCII hex compares identically as Python str and
    UTF8String), same "#" seed / "|"
    band key construction as minhash_signature / band_buckets — which
    remain the literal form the DuckDB oracles mirror. Docs with < 3
    tokens emit no rows in both forms."""
    from pyspark.sql.types import StructType

    from libswish3_spark.pipeline import ensure_parallelism

    k, bands = D.MINHASH_K, D.MINHASH_BANDS
    r = k // bands
    groups = (k + 3) // 4

    src = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    )
    schema = StructType([src.schema.fields[0]]).add("bucket", "string")

    def kernel(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            ids, buckets = [], []
            for did, text in zip(pdf["id"], pdf["_t"]):
                grams = D.ascii_shingles(text)
                if not grams:
                    continue
                mins = None
                for gram in grams:
                    g = gram.encode("utf-8")
                    vals = []
                    for gg in range(groups):
                        h = md5(g + b"#" + str(gg).encode()).hexdigest()
                        vals += [h[0:8], h[8:16], h[16:24], h[24:32]]
                    vals = vals[:k]
                    mins = (
                        vals
                        if mins is None
                        else [a if a < b else b for a, b in zip(mins, vals)]
                    )
                for b in range(bands):
                    key = "|".join([str(b)] + mins[b * r : (b + 1) * r])
                    ids.append(did)
                    buckets.append(md5(key.encode()).hexdigest())
            yield pd.DataFrame({"id": ids, "bucket": buckets})

    return src.mapInPandas(kernel, schema=schema)


def build_embedding_signature_index(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = ANN_PLANES,
    n_tables: int = ANN_TABLES,
    seed: int = ANN_SEED,
    dims: int | None = None,
    centroids: list | None = None,
) -> DataFrame:
    """(id, vec, sig0..sig{L-1}, ivf_cell) — one signature int per LSH
    table plus the IVF coarse-cell assignment, identical plane/centroid
    literals to the in-scan paths (similarity.random_planes /
    ivf_centroids) so stored and computed results agree. In a
    real deployment this table is PARTITIONED BY ivf_cell (probe filter
    = partition pruning) and bucketed on the sig columns.

    All signatures and the cell come from ONE Arrow batch kernel: per
    batch, a single (rows × dims) @ (dims × planes) matmul per table
    plus one for the centroids — the expression form
    (similarity.plane_signature / ivf_cell_sql) evaluates its
    zip_with/aggregate lambdas INTERPRETED per element (higher-order
    functions never enter whole-stage codegen), and at 512 k × 64-dim
    the measured build is minutes interpreted vs seconds here.
    Semantics are identical (float64 products, >= 0 sign bits,
    first-max cell; only the float64 SUMMATION order differs — BLAS
    pairwise vs the fold — a sub-ulp effect pinned equal by pytest on
    the bench corpora).

    ``dims`` defaults to the DATA's vector length (one 1-row probe job
    at build time): a hardcoded plane dimensionality silently poisons
    the signatures of any other-width corpus (zip_with pads the missing
    plane weights with NULL → aggregate → NULL → every CASE scores 0),
    while the query side derives its planes from len(query_vec) — the
    buckets would never line up and top-k would quietly collapse."""
    import numpy as np
    from pyspark.sql.types import StructType

    # deliberately NO input spread here (unlike the minhash build): the
    # numpy kernel is milliseconds even single-core at bench scale, and
    # a spread input multiplies the partitionBy(ivf_cell) write of the
    # stored index into input_partitions x cells tiny files (measured
    # +1.1 s on the index-build bench entry); callers that want the
    # kernel parallel pass an already-spread DataFrame (q_ann_lsh_topk)
    if dims is None:
        row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
        dims = int(row["d"]) if row is not None and row["d"] is not None else ANN_DIMS
    if centroids is None:
        centroids = S.ivf_centroids(emb, id_col, vec_col)
    plane_mats = [
        np.asarray(S.random_planes(dims, n_planes, seed + t), dtype=np.float64).T
        for t in range(n_tables)
    ]  # each (dims, n_planes)
    bits = [np.int64(2**p) for p in range(n_planes)]
    C = np.asarray(centroids, dtype=np.float64)
    # sqrt(max(||c||², 1e-12)): the exact ivf_cell_sql clamp (greatest
    # INSIDE the sqrt) — see assign_cells_vectorized
    Cn = (C / np.sqrt(np.maximum((C * C).sum(axis=1), 1e-12))[:, None]).T

    src = emb.select(id_col, vec_col)
    schema = StructType(list(src.schema.fields))
    for t in range(n_tables):
        schema = schema.add(f"sig{t}", "long")
    schema = schema.add("ivf_cell", "integer")

    def kernel(batches):
        for pdf in batches:
            if len(pdf):
                V = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                for t, P in enumerate(plane_mats):
                    signs = (V @ P) >= 0  # (rows, n_planes)
                    pdf[f"sig{t}"] = (signs * bits).sum(axis=1)
                pdf["ivf_cell"] = (V @ Cn).argmax(axis=1).astype("int32") + 1
            else:
                for t in range(n_tables):
                    pdf[f"sig{t}"] = np.array([], dtype=np.int64)
                pdf["ivf_cell"] = np.array([], dtype=np.int32)
            yield pdf

    return src.mapInPandas(kernel, schema=schema)


def _index_root(sf_dir: str) -> str:
    """Cache location keyed by source identity: path plus mtime/size of
    the source parquet files, so a regenerated sf_dir invalidates."""
    h = hashlib.md5(f"v{_INDEX_VERSION}:{os.path.abspath(sf_dir)}".encode())
    for name in ("documents.parquet", "embeddings.parquet"):
        p = os.path.join(sf_dir, name)
        try:
            st = os.stat(p)
            h.update(f"{name}:{st.st_mtime_ns}:{st.st_size}".encode())
        except OSError:
            pass
    return os.path.join(
        tempfile.gettempdir(), f"lsw_index_{h.hexdigest()[:16]}"
    )


def ensure_index_tables(spark, sf_dir: str) -> dict[str, DataFrame]:
    """Ingest-time index materialization (idempotent): build + write the
    minhash bucket index over ``documents`` and the embedding signature
    index over ``embeddings`` if absent, return parquet readers.

    The build is the one-time cost every subsequent query amortizes —
    the query-side plans contain NO signature computation at all.
    """
    root = _index_root(sf_dir)
    out: dict[str, DataFrame] = {}
    # embedding_sigs is PARTITIONED BY the IVF cell: the ANN probe
    # filter (ivf_cell IN probes) then prunes whole partitions at the
    # scan — at 100 TB the query touches nprobe/n_cells of the index
    # files, not a filtered full scan (plan-gated in test_signatures)
    specs = {
        "minhash_buckets": (
            lambda: build_minhash_bucket_index(
                spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            ),
            (),
        ),
        "embedding_sigs": (
            lambda: build_embedding_signature_index(
                spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
            ),
            ("ivf_cell",),
        ),
    }
    for name, (build, part_cols) in specs.items():
        path = os.path.join(root, name)
        done = os.path.join(path, "_SUCCESS")
        if not os.path.exists(done):
            w = build().write.mode("overwrite")
            if part_cols:
                w = w.partitionBy(*part_cols)
            w.parquet(path)
        out[name] = spark.read.parquet(path)
    return out
