"""Stored LSH signature/index tables: compute once at ingest, query many.

The dedup/ANN layer's signature chains (minhash band buckets over text,
random-hyperplane signatures over embeddings) are deterministic
functions of the corpus — at 100 TB they belong in materialized index
tables written ONCE at ingest, not re-folded per query (the md5 shingle
fold dominates every minhash query, the plane fold every ANN query).
Both chains are Arrow batch kernels, the one Spark form of each
signature; the DuckDB oracle SQL in operators/queries.py is their
spec.

Two index tables:

* minhash bucket index ``(id, bucket)`` — the exploded band-bucket
  table, built by functions/dedup.doc_band_buckets' Arrow kernel.
  Every minhash-family query (candidates, jaccard verify, cluster
  resolve, dedup apply) starts from it via
  ``dedup.candidate_pairs_from_buckets``. Written
  partitioned-by-nothing but bucketable on ``bucket`` in a real
  deployment (the candidate self-join then co-locates).
* embedding signature index ``(id, vec, sig0..sig{L-1}, ivf_cell)`` —
  one stored int per LSH table plus the IVF cell, built by
  functions/similarity._lsh_columns' Arrow kernel. ANN reads it through
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
_INDEX_VERSION = 4


def build_minhash_bucket_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bucket) exploded band-bucket table — the storable minhash
    index (K/bands per functions/dedup defaults, recall-measured):
    :func:`dedup.doc_band_buckets`'s Arrow kernel over the input,
    spread first so a single-file source does not run the md5 fold on
    one core. Docs with < 3 tokens emit no rows."""
    from libswish3_spark.pipeline import ensure_parallelism

    return D.doc_band_buckets(ensure_parallelism(docs), id_col, text_col)


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
    table plus the IVF coarse-cell assignment, from the same planes and
    centroids the query side uses (similarity.random_planes /
    ivf_centroids) and the one kernel that computes them
    (similarity._lsh_columns), so stored and computed results agree. In
    a real deployment this table is PARTITIONED BY ivf_cell (probe
    filter = partition pruning) and bucketed on the sig columns.

    ``dims`` defaults to the DATA's vector length (one 1-row probe job
    at build time): a hardcoded plane dimensionality would give every
    vector of another width a null signature, while the query side
    derives its planes from len(query_vec) — the buckets would never
    line up and top-k would quietly collapse."""
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
    return S._lsh_columns(
        emb.select(id_col, vec_col),
        vec_col,
        {
            f"sig{t}": S.random_planes(dims, n_planes, seed + t)
            for t in range(n_tables)
        },
        ("ivf_cell", centroids),
    )


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
