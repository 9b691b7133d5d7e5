"""Stored LSH signature/index tables (operators/signatures.py):
ingest-once materialization must be bit-equal to the in-scan chains,
and the Arrow kernels that build them must equal their spec — the
DuckDB oracle SQL for the minhash index and shingles, the scalar
left-fold probe functions for plane signatures and IVF cells."""

import os
import re

import pytest
from pyspark.sql import functions as F

from libswish3_spark.functions import dedup as D, similarity as S


SF = "/root/testdata/sf0.001"

# texts the bench corpus lacks: empty, null, < 3 tokens, case, ASCII
# punctuation in tokens, non-ASCII letters, repeated 3-grams
EDGE_DOCS = [
    ("e1", ""),
    ("e2", None),
    ("e3", "two tokens"),
    ("e4", "don't under_score MIXED Case tokens here"),
    ("e5", "héllo wörld ünïcode stripped down to ascii runs only"),
    ("e6", "a b c a b c a b c repeated shingles collapse"),
]


def _bench_and_edge_docs(spark, edge=EDGE_DOCS):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return docs.unionByName(spark.createDataFrame(edge, "doc_id string, text string"))


def _duckdb_rows(df, sql):
    """Run ``sql`` in DuckDB over ``df`` as the ``documents`` table."""
    import duckdb

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_stored_bucket_candidates_equal_inline(spark):
    """Candidates from the materialized (id, bucket) table == candidates
    from the inline signature chain — same pairs, same cap semantics."""
    from libswish3_spark.operators.signatures import ensure_index_tables

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    inline = {
        (r["a"], r["b"])
        for r in D.minhash_candidates(docs, "doc_id", "text", max_bucket=50).collect()
    }
    idx = ensure_index_tables(spark, SF)["minhash_buckets"]
    stored = {
        (r["a"], r["b"])
        for r in D.candidate_pairs_from_buckets(idx, max_bucket=50).collect()
    }
    assert stored == inline


def test_stored_ann_equals_in_scan(spark):
    """ann_topk_from_signatures over the stored sig columns returns the
    identical result set to lsh_bucketed_topk's in-scan computation
    (same planes, same probes)."""
    from libswish3_spark.operators.signatures import ensure_index_tables

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = list(emb.orderBy("vec_id").limit(1).collect()[0]["embedding"])
    in_scan = [
        (r["vec_id"], r["score_bp"])
        for r in S.lsh_bucketed_topk(emb, "vec_id", "embedding", qv).collect()
    ]
    sigs = ensure_index_tables(spark, SF)["embedding_sigs"]
    stored = [
        (r["vec_id"], r["score_bp"])
        for r in S.ann_topk_from_signatures(sigs, "vec_id", "embedding", qv).collect()
    ]
    assert stored == in_scan
    # and the stored-path plan has no per-row plane fold: the signature
    # computation is a chain of CASE WHEN aggregate(...) bit terms in the
    # in-scan form; the only remaining lambda math is the cosine score
    plan = S.ann_topk_from_signatures(
        sigs, "vec_id", "embedding", qv
    )._jdf.queryExecution().executedPlan().toString()
    assert "CASE WHEN" not in plan
    assert "sig0" in plan  # probes filter on the stored columns


def test_stored_near_dup_equals_inline(spark):
    """embedding_near_dup_pairs(sig_col=...) over stored sig0 == the
    plane-folding form with the table-0 planes."""
    from libswish3_spark.operators.signatures import (
        ANN_SEED,
        build_embedding_signature_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    planes = S.random_planes(64, 8, ANN_SEED)
    inline = {
        (r["a"], r["b"], r["score_bp"])
        for r in S.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", planes, min_score_bp=2000
        ).collect()
    }
    sigs = build_embedding_signature_index(emb)
    stored = {
        (r["a"], r["b"], r["score_bp"])
        for r in S.embedding_near_dup_pairs(
            sigs, "vec_id", "embedding", min_score_bp=2000, sig_col="sig0"
        ).collect()
    }
    assert stored == inline


def test_ivf_finds_planted_near_duplicates(spark):
    """IVF semantics that matter for dedup/similarity: a vector that is
    a tiny perturbation of a corpus vector must land in the same cell
    as its original and be retrieved at rank 1 with the default nprobe.
    Also: cells actually partition (more than one cell in use), and the
    probe filter really prunes rows."""
    import random

    from libswish3_spark.operators.signatures import (
        build_embedding_signature_index,
    )

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(200)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.ivf_centroids(emb, "vec_id", "embedding", 8)
    idx = build_embedding_signature_index(
        emb, dims=16, centroids=cents
    ).cache()
    cells = {r["vec_id"]: r["ivf_cell"] for r in idx.collect()}
    assert len(set(cells.values())) > 1  # real partitioning
    hits = 0
    for probe_i in (3, 57, 121, 180):
        q = [x + rng.uniform(-1e-3, 1e-3) for x in base[probe_i]]
        got = S.ann_ivf_topk(
            idx, "vec_id", "embedding", q, cents, k=1, nprobe=4
        ).collect()
        if got and got[0]["vec_id"] == probe_i:
            hits += 1
    assert hits == 4  # near-identical vectors always retrieved
    # pruning: a 4-of-8-cell probe scans a strict subset
    probes = S.ivf_query_probes(base[0], cents, nprobe=4)
    pruned = idx.where(F.col("ivf_cell").isin(probes)).count()
    assert 0 < pruned < len(base)


def test_ivf_probe_filter_is_partition_pruning(spark):
    """The stored embedding index is partitioned by ivf_cell, so the
    ANN probe filter must reach the scan as a PartitionFilter (whole
    partitions skipped), not a post-scan row filter."""
    from libswish3_spark.operators.signatures import ensure_index_tables

    sigs = ensure_index_tables(spark, SF)["embedding_sigs"]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = list(emb.orderBy("vec_id").limit(1).collect()[0]["embedding"])
    cents = S.ivf_centroids(emb, "vec_id", "embedding")
    out = S.ann_ivf_topk(sigs, "vec_id", "embedding", qv, cents)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [ivf_cell" in plan
    # and it still returns real results
    assert out.count() == 10


def test_hashed_embedding_feeds_embedding_ops(spark):
    """The text→vector bridge composes: hashed-TF embeddings of two
    near-identical documents must surface as an embedding near-dup
    pair through the SAME plane-bucketed operator the embeddings table
    uses; a distinct document must not pair with either."""
    from libswish3_spark.functions.text import tokens

    base = ("the training corpus contains many documents and this one "
            "talks about feature hashing tricks for vectors at scale " * 3)
    near = base.replace("tricks", "methods", 1)
    other = ("completely different topic entirely unrelated words "
             "about cooking pasta recipes and olive oil " * 3)
    # b = exact content dup of a (identical vector → identical bucket,
    # deterministic); n = one-word edit (cosine ≈ 0.99 but may flip a
    # marginal plane — the single-table gap multi-probe exists for)
    df = spark.createDataFrame(
        [("a", base), ("b", base), ("n", near), ("c", other)],
        ["doc_id", "text"],
    )
    emb = df.select(
        "doc_id",
        S.hashed_tf_embedding(tokens(F.col("text"))).alias("embedding"),
    ).cache()
    planes = S.random_planes(64, 8, seed=42)
    pairs = {
        (r["a"], r["b"]): r["score_bp"]
        for r in S.embedding_near_dup_pairs(
            emb, "doc_id", "embedding", planes, min_score_bp=8000
        ).collect()
    }
    assert ("a", "b") in pairs and pairs[("a", "b")] == 10000
    assert not [p for p in pairs if "c" in p]
    # the one-word edit is recovered by the multi-probe multi-table ANN
    qv = list(emb.where(F.col("doc_id") == "n").collect()[0]["embedding"])
    got = [r["vec_id"] for r in S.lsh_bucketed_topk(
        emb.withColumnRenamed("doc_id", "vec_id"), "vec_id", "embedding", qv, k=3
    ).collect()]
    assert "a" in got and "b" in got and "c" not in got


def test_index_build_is_idempotent(spark):
    """ensure_index_tables: second call reuses the materialized parquet
    (the ingest-once contract) — no rewrite."""
    from libswish3_spark.operators.signatures import _index_root, ensure_index_tables

    ensure_index_tables(spark, SF)
    root = _index_root(SF)
    marker = os.path.join(root, "minhash_buckets", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    ensure_index_tables(spark, SF)
    assert os.path.getmtime(marker) == mtime


def test_embedding_near_dup_pairs_contract_requires_planes_or_sig(spark):
    """Neither planes nor sig_col is a contract violation surfaced at
    entry, not an obscure downstream NPE inside plane_signature."""
    import pytest

    df = spark.range(1).select(
        F.col("id"), F.array(F.lit(1.0)).alias("vec")
    )
    with pytest.raises(ValueError, match="planes.*sig_col"):
        S.embedding_near_dup_pairs(df, "id", "vec")


def test_hashed_tf_embedding_dim_validation_and_high_bucket_reach(spark):
    """dim outside (0, 65536] raises; with dim > 256 the 4-hex-digit
    bucket reaches components >= 256 (the 2-digit formulation left them
    permanently zero)."""
    import pytest

    with pytest.raises(ValueError, match="dim"):
        S.hashed_tf_embedding(F.col("x"), dim=0)
    with pytest.raises(ValueError, match="dim"):
        S.hashed_tf_embedding(F.col("x"), dim=65537)

    toks = F.array(*[F.lit(f"token{i}") for i in range(64)])
    row = spark.range(1).select(
        S.hashed_tf_embedding(toks, dim=512, normalize=False).alias("v")
    ).collect()[0]
    assert len(row["v"]) == 512
    assert any(v != 0 for v in row["v"][256:])


def test_embedding_index_derives_dims_from_data(spark):
    """The signature build derives plane dimensionality from the DATA
    (a hardcoded 64 poisoned any other-width corpus: zip_with padded
    missing plane weights with NULL → every signature degenerated and
    query-side buckets, derived from len(query_vec), never matched)."""
    import random

    from pyspark.sql import functions as F

    from libswish3_spark.functions import similarity as S
    from libswish3_spark.operators.signatures import (
        build_embedding_signature_index,
    )

    rng = random.Random(11)
    dims = 32  # NOT the default 64
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dims)]) for i in range(40)]
    rows.append((999, [v + 0.001 for v in rows[0][1]]))  # planted near-dup of 0
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sigs = build_embedding_signature_index(emb).cache()
    # signatures must be non-degenerate (more than one distinct value)
    assert sigs.select("sig0").distinct().count() > 1
    q = rows[0][1]
    top = S.ann_topk_from_signatures(sigs, "vec_id", "embedding", q).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] in (0, 999) and 999 in ids[:2]


def test_ivf_zero_norm_centroid_guard(spark):
    """An all-zero vector sampled as a centroid must not crash the
    Python probe path (ZeroDivisionError) nor NaN-poison the batch cell
    assignment (NaN would win every argmax → every row in the
    degenerate cell). The max(cc, 1e-12) clamp scores it 0 in the
    scalar probes, the Arrow kernel and the DuckDB oracle."""
    from libswish3_spark.functions import similarity as S

    centroids = [[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    probes = S.ivf_query_probes([0.5, 0.5, 0.0], centroids, nprobe=2)
    assert set(probes) == {2, 3}  # the zero centroid never wins a probe
    df = spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0]), (2, [0.0, 0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cells = {
        r["vec_id"]: r["ivf_cell"]
        for r in S.assign_cells_vectorized(df, centroids).collect()
    }
    assert cells == {1: 2, 2: 3}  # nonzero centroids win; no NaN routing


def test_semantic_dedup_drops_planted_twin_keeps_rest(spark):
    """SemDeDup over stored cells: a near-identical copy of a corpus
    vector (same cell by construction) must be dropped with its
    original as the dominator; vectors with no near-twin are all kept.
    First-wins determinism: the SMALLER id survives."""
    import random

    from libswish3_spark.operators.signatures import (
        build_embedding_signature_index,
    )

    rng = random.Random(11)
    base = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(60)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant id=100 as a tiny perturbation of id=5 (cosine ~ 1.0)
    rows.append((100, [float(x + rng.uniform(-1e-4, 1e-4)) for x in base[5]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.ivf_centroids(emb, "vec_id", "embedding", 4)
    idx = build_embedding_signature_index(emb, dims=16, centroids=cents).cache()
    verdicts = {
        r["vec_id"]: r
        for r in S.semantic_dedup_cells(idx, min_score_bp=9900).collect()
    }
    assert len(verdicts) == 61  # every vector gets exactly one verdict
    v100 = verdicts[100]
    assert not v100["kept"] and v100["n_dom"] == 1 and v100["max_bp"] >= 9900
    v5 = verdicts[5]
    assert v5["kept"] and v5["n_dom"] == 0 and v5["max_bp"] == -1
    # at tau=0.99 nothing else in a random 16-dim corpus collides
    assert sum(0 if r["kept"] else 1 for r in verdicts.values()) == 1
    # cells recorded and real (more than one in use)
    assert len({r["cell"] for r in verdicts.values()}) > 1


def test_assign_cells_vectorized_matches_scalar_fold(spark):
    """The Arrow-batched cell assigner must route every vector to the
    cell the scalar left fold picks — ivf_query_probes(v, cents, 1)[0],
    which sums in the oracle SQL's order: same normalization, same
    1-based first-max-wins tie rule. A vector equal to a centroid and a
    zero vector are among the rows, and a null vector gets no cell."""
    import random

    rng = random.Random(23)
    rows = [
        (i, [float(rng.uniform(-1, 1)) for _ in range(16)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.ivf_centroids(emb, "vec_id", "embedding", 12)
    extra = spark.createDataFrame(
        [(900, [0.0] * 16), (901, cents[5]), (902, None)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r["ivf_cell"]
        for r in S.assign_cells_vectorized(emb.unionByName(extra), cents).collect()
    }
    assert got.pop(902) is None
    want = {
        r["vec_id"]: S.ivf_query_probes(list(r["embedding"]), cents, 1)[0]
        for r in emb.unionByName(extra).where("embedding IS NOT NULL").collect()
    }
    assert got == want


def test_hashed_embedding_semantic_dedup_composes(spark):
    """The text→vector bridge also feeds SemDeDup: hashed-TF vectors of
    an exact content dup must collapse (same cell, cosine 10000,
    smaller id keeps); an unrelated document survives untouched."""
    from libswish3_spark.functions.text import tokens

    base = ("the training corpus contains many documents and this one "
            "talks about feature hashing tricks for vectors at scale " * 3)
    other = ("completely different topic entirely unrelated words "
             "about cooking pasta recipes and olive oil " * 3)
    df = spark.createDataFrame(
        [("a", base), ("b", base), ("c", other)], ["doc_id", "text"]
    )
    emb = df.select(
        "doc_id",
        S.hashed_tf_embedding(tokens(F.col("text"))).alias("embedding"),
    ).cache()
    cents = S.ivf_centroids(emb, "doc_id", "embedding", 2)
    assigned = S.assign_cells_vectorized(emb, cents)
    verdicts = {
        r["vec_id"]: r
        for r in S.semantic_dedup_cells(
            assigned, id_col="doc_id", min_score_bp=9900
        ).collect()
    }
    assert verdicts["a"]["kept"] and verdicts["c"]["kept"]
    vb = verdicts["b"]
    assert not vb["kept"] and vb["n_dom"] == 1 and vb["max_bp"] == 10000


def test_zero_vector_never_dominates_or_pairs(spark):
    """NaN guard: a zero (failed/padded-encode) vector must score
    cosine 0 against everything — Spark orders NaN above every number,
    so an unguarded 0/0 would pass every `bp >= τ` gate and dominate
    its whole cell. Pinned: the zero vector neither pairs, dominates,
    nor is dominated."""
    rows = [
        (1, [1.0] * 8),
        (2, [1.0] * 8),          # exact dup of 1 → dominated by 1
        (3, [0.0] * 8),          # zero vector: cosine must be 0, not NaN
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    one_cell = emb.select("vec_id", "embedding", F.lit(1).alias("ivf_cell"))
    verdicts = {
        r["vec_id"]: r
        for r in S.semantic_dedup_cells(one_cell, min_score_bp=9900).collect()
    }
    assert verdicts[3]["kept"] and verdicts[3]["max_bp"] == -1
    assert verdicts[1]["kept"]
    assert not verdicts[2]["kept"] and verdicts[2]["n_dom"] == 1
    # brute-force scoring: zero vector scores 0 everywhere, never NaN
    scored = {
        r["vec_id"]: r["score_bp"]
        for r in S.brute_force_topk(emb, "vec_id", "embedding", [1.0] * 8, k=3).collect()
    }
    assert scored[3] == 0


def test_embedding_signature_index_matches_scalar_folds(spark):
    """The Arrow-batched ingest kernel must produce, for every bench
    embedding, the signature query_probes(v, planes_t, 0)[0] computes
    for each table t and the cell ivf_query_probes(v, cents, 1)[0]
    picks — the package's scalar left folds, which sum in the oracle
    SQL's order — over the real bench embeddings."""
    from libswish3_spark.operators.signatures import (
        ANN_PLANES,
        ANN_SEED,
        ANN_TABLES,
        build_embedding_signature_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dims = len(emb.first()["embedding"])
    cents = S.ivf_centroids(emb, "vec_id", "embedding")
    planes = [
        S.random_planes(dims, ANN_PLANES, ANN_SEED + t) for t in range(ANN_TABLES)
    ]
    idx = build_embedding_signature_index(emb, dims=dims, centroids=cents)
    got = {
        r["vec_id"]: (r["sig0"], r["sig1"], r["sig2"], r["sig3"], r["ivf_cell"])
        for r in idx.collect()
    }
    want = {}
    for r in emb.collect():
        v = list(r["embedding"])
        want[r["vec_id"]] = tuple(S.query_probes(v, p, 0)[0] for p in planes) + (
            S.ivf_query_probes(v, cents, 1)[0],
        )
    assert got == want and len(got) > 0


# Java's and Python's lower() turn U+0130 into "i" + U+0307, so the
# ASCII token class splits "İstanbul" into "i", "stanbul"; DuckDB's
# lower() gives "istanbul". The Spark kernels follow Java here.
DOTTED_CAPITAL_I = pytest.param(
    [("i1", "İstanbul lies on the bosphorus strait today")],
    id="dotted_capital_i",
    marks=pytest.mark.xfail(
        strict=True,
        reason="U+0130 lowercases to i + U+0307 in Python and Java "
        "but to i in DuckDB, so the engines tokenize it differently",
    ),
)


@pytest.mark.parametrize(
    "edge", [pytest.param(EDGE_DOCS, id="bench_and_edge"), DOTTED_CAPITAL_I]
)
def test_minhash_bucket_index_matches_duckdb_spec(spark, edge):
    """The Arrow-batched minhash kernel must emit the EXACT (id, bucket)
    multiset of ORACLE_MINHASH_BUCKET_INDEX run in DuckDB — over the
    bench corpus plus edge docs (empty, null, < 3 tokens, unicode,
    apostrophes/underscores, repeated shingles)."""
    from libswish3_spark.operators.queries import ORACLE_MINHASH_BUCKET_INDEX
    from libswish3_spark.operators.signatures import build_minhash_bucket_index

    docs = _bench_and_edge_docs(spark, edge)
    got = sorted(
        (r["id"], r["bucket"]) for r in build_minhash_bucket_index(docs).collect()
    )
    assert got == sorted(_duckdb_rows(docs, ORACLE_MINHASH_BUCKET_INDEX))
    assert any(i == edge[-1][0] for i, _ in got)


# one Arrow batch per case, in the order the kernel sees the rows:
# sub-3-token documents first, last and in a row, null text, non-ASCII
# text, repeated shingles, and a clone (shingles shared across rows)
KERNEL_BATCHES = {
    "mixed": [
        ("s0", "two tokens"),
        ("n1", None),
        ("d2", "the quick brown fox jumps over the lazy dog"),
        ("s3", ""),
        ("s4", "one"),
        ("s5", "a b"),
        ("u6", "héllo wörld ünïcode stripped down to ascii runs only"),
        ("r7", "a b c a b c a b c repeated shingles collapse"),
        ("d8", "the quick brown fox jumps over the lazy dog"),
        ("s9", "last two"),
    ],
    "no_shingles": [("z0", None), ("z1", "tiny doc"), ("z2", "")],
    "empty": [],
}


@pytest.mark.parametrize("fold", [None, 4], ids=["one_fold", "fold_every_4"])
@pytest.mark.parametrize("id_type", ["string", "int64"])
@pytest.mark.parametrize("case", sorted(KERNEL_BATCHES))
def test_band_bucket_batch_matches_duckdb_spec(case, id_type, fold, monkeypatch):
    """The batch kernel behind doc_band_buckets, called on one Arrow
    batch, emits exactly the (id, bucket) rows of
    ORACLE_MINHASH_BUCKET_INDEX over the same rows, keeps the id type,
    and emits no row for a document without a 3-gram shingle — also
    when the batch holds no shingle at all, or no row, and when the
    batch is min-folded in several runs of documents."""
    import duckdb
    import pyarrow as pa

    from libswish3_spark.operators.queries import ORACLE_MINHASH_BUCKET_INDEX

    if fold is not None:
        monkeypatch.setattr(D, "_FOLD_SHINGLES", fold)
    rows = KERNEL_BATCHES[case]
    ids = [i if id_type == "string" else n for n, (i, _) in enumerate(rows)]
    ids = pa.array(ids, pa.string() if id_type == "string" else pa.int64())
    batch = pa.RecordBatch.from_arrays(
        [ids, pa.array([t for _, t in rows], pa.string())], names=["id", "_t"]
    )
    out = D._band_bucket_batch(batch)
    assert out.schema.names == ["id", "bucket"]
    assert out.schema.field("id").type == ids.type
    con = duckdb.connect()
    con.register(
        "documents",
        pa.Table.from_batches([batch]).rename_columns(["doc_id", "text"]),
    )
    try:
        want = con.execute(ORACLE_MINHASH_BUCKET_INDEX).fetchall()
    finally:
        con.close()
    got = list(zip(out.column(0).to_pylist(), out.column(1).to_pylist()))
    assert sorted(got) == sorted(want)
    with_shingles = {"mixed": 4, "no_shingles": 0, "empty": 0}[case]
    assert out.num_rows == with_shingles * D.MINHASH_BANDS


def test_shingle_arrays_match_duckdb_spec(spark):
    """shingle_arrays_vectorized must emit the shingle SET of the
    oracles' _SHINGLE_SQL run in DuckDB (whose list_distinct does not
    keep order) for the bench corpus + edge docs, in first-occurrence
    order — checked against a plain-Python n-gram walk, so
    jaccard_verify and the oracles agree on every pair."""
    from libswish3_spark.operators.queries import _SHINGLE_SQL
    from libswish3_spark.tokenizer import ASCII_TOKEN_PATTERN_SQL

    docs = _bench_and_edge_docs(spark)
    got = {
        r["id"]: list(r["sh"])
        for r in D.shingle_arrays_vectorized(docs, "doc_id", "text").collect()
    }
    spec = _duckdb_rows(docs, f"SELECT doc_id, {_SHINGLE_SQL} FROM documents")
    assert {i: set(sh or ()) for i, sh in spec} == {i: set(sh) for i, sh in got.items()}
    for i, text in docs.collect():
        toks = re.findall(ASCII_TOKEN_PATTERN_SQL, (text or "").lower())
        grams = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        assert got[i] == list(dict.fromkeys(grams)), i
