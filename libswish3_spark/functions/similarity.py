"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, plus seeded
random-hyperplane LSH as the bucketed scale path: at 100 TB you bucket
first (narrow, shuffle on the bucket key only), then brute-force within
buckets — multi-table multi-probe for search recall
(lsh_bucketed_topk), capped single-table buckets for near-dup pair
generation (embedding_near_dup_pairs).

Scores are returned ×10000 as bigint so Spark and DuckDB hash
identically (no float representation drift).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    # greatest(·, 1e-12): a zero/failed-encode vector would otherwise
    # produce 0/0 = NaN, and Spark orders NaN ABOVE every number — a
    # NaN cosine passes every `bp >= τ` gate, so one padded embedding
    # would dominate its whole cell/bucket (and DuckDB disagrees on
    # NaN, breaking the oracles). Guarded it scores 0 — identically in
    # Spark, DuckDB and numpy; same rationale as the IVF cell's clamp
    # in _lsh_columns.
    return dot(a, b) / F.greatest(norm(a) * norm(b), F.lit(1e-12))


def cosine_bp(a, b) -> Column:
    """Cosine ×10000 as bigint (engine-portable hashing)."""
    return F.floor(cosine(a, b) * 10000).cast("long")


def pair_cosine_bp(l_vec, r_vec, l_norm, r_norm) -> Column:
    """floor(cosine ×10000) over per-row PRECOMPUTED norms — exactly
    ``cosine_bp``'s op sequence (dot / greatest(na*nb, 1e-12), ×10000,
    floor, bigint), the norm columns being the same doubles ``norm``
    computes. One lambda fold per pair instead of three (the dominant
    cost of every within-bucket pair join)."""
    c = dot(l_vec, r_vec) / F.greatest(l_norm * r_norm, F.lit(1e-12))
    return F.floor(c * 10000).cast("long")


def brute_force_topk(
    df: DataFrame, id_col: str, vec_col: str, query_vec, k: int = 10
) -> DataFrame:
    """Exact top-k by cosine against one query vector.

    The query vector is a literal array → broadcast into codegen; the
    scan is embarrassingly parallel and the only ordering cost is a
    global top-k (Spark's TakeOrdered, no full sort at scale).

    The score stays the LAMBDA-fold cosine deliberately: an unrolled
    64-term tree was tried (round 6) and measured net-SLOWER at bench
    scale — the extra Catalyst analysis per query exceeded the per-row
    eval win on a single-vector scan, and inside join stages the giant
    tree tripped codegen's method-size limit, dropping whole stages to
    interpreted eval.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine_bp(F.col(vec_col), q).alias("score_bp"),
    )
    return scored.orderBy(F.desc("score_bp"), F.col(id_col)).limit(k)


def random_planes(dims: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (md5-derived weights in
    [-1, 1]). Generated driver-side and shipped as constants to both the
    Spark kernel and the SQL oracle, so both engines see identical
    weights — the oracle-able form of 'seeded random planes'."""
    import hashlib

    planes = []
    for p in range(n_planes):
        w = []
        for i in range(dims):
            h = int.from_bytes(
                hashlib.md5(f"{seed}:{p}:{i}".encode()).digest()[:4], "big"
            )
            w.append((h % 2001 - 1000) / 1000.0)
        planes.append(w)
    return planes


def _left_fold_dots(vecs, W):
    """(rows × m) dot products of each vector with each column of ``W``
    (dims × m), summed left to right from 0.0 in float64 — the oracle
    SQL's order, so every sign and score equals the scalar folds of
    query_probes / ivf_query_probes bit for bit — and the mask of rows
    that have one (a null vector or one of another width has none)."""
    import numpy as np

    dims = W.shape[0]
    ok = np.array([v is not None and len(v) == dims for v in vecs], dtype=bool)
    V = np.zeros((len(vecs), dims))
    if ok.any():
        V[ok] = np.stack([np.asarray(v, dtype=np.float64) for v in vecs[ok]])
    acc = np.zeros((len(vecs), W.shape[1]))
    for i in range(dims):
        acc += V[:, i, None] * W[i]
    return acc, ok


def _lsh_columns(
    df: DataFrame,
    vec_col: str,
    signatures: dict[str, list[list[float]]],
    cells: tuple[str, list[list[float]]] | None = None,
) -> DataFrame:
    """``df`` plus a bigint column per ``signatures`` entry — bit p set
    iff dot(vec, planes[p]) >= 0 — and, with ``cells=(name,
    centroids)``, an int column: the 1-based centroid with the highest
    dot(vec, c) / sqrt(max(||c||², 1e-12)), first max winning (the
    clamp scores an all-zero centroid 0, not NaN). Null for a vector
    with no dot product.

    The one Spark form of the hyperplane signatures and the IVF cell:
    one Arrow batch kernel for all tables and the cell. A Column
    expression would fold interpreted per element, and its literal
    plane tree costs seconds of Catalyst analysis per query."""
    import math

    import numpy as np
    from pyspark.sql.types import StructType

    cell_col, cents = cells or (None, [])
    planes = [p for ps in signatures.values() for p in ps]
    W = np.asarray(planes + list(cents), dtype=np.float64).T
    dens = []
    for c in cents:
        cc = 0.0
        for w in c:
            cc += float(w) * float(w)
        dens.append(math.sqrt(max(cc, 1e-12)))

    # copy before .add — df.schema is the DataFrame's cached StructType
    # and .add mutates in place
    schema = StructType(list(df.schema.fields))
    for name in signatures:
        schema = schema.add(name, "long")
    if cell_col is not None:
        schema = schema.add(cell_col, "integer")

    def nullable(values, ok):
        if ok.all():
            return values
        out = values.astype(object)
        out[~ok] = None
        return out

    def kernel(batches):
        for pdf in batches:
            scores, ok = _left_fold_dots(pdf[vec_col].to_numpy(), W)
            off = 0
            for name, ps in signatures.items():
                bits = scores[:, off : off + len(ps)] >= 0
                pdf[name] = nullable(bits @ (2 ** np.arange(len(ps))), ok)
                off += len(ps)
            if cell_col is not None:
                best = (scores[:, off:] / dens).argmax(axis=1).astype(np.int32)
                pdf[cell_col] = nullable(best + 1, ok)
            yield pdf

    return df.mapInPandas(kernel, schema=schema)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]] | None = None,
    min_score_bp: int = 3000,
    max_bucket: int | None = 1000,
    sig_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs (a < b) within
    random-hyperplane signature buckets, exact cosine within bucket.

    The two scale guards mirror ``minhash_candidates`` (dedup.py):

    - **random planes, not axis signs** — real embedding corpora are
      anisotropic (mass concentrated along a few principal directions),
      so axis-aligned sign bits put most of the corpus in a handful of
      buckets; seeded random hyperplanes spread the signature space.
    - **``max_bucket`` cap-and-drop** — one hot bucket is O(size²)
      pairs at 100 TB; buckets above the cap are dropped entirely
      (their members remain reachable through exact dedup upstream and
      the pairs they'd contribute are dominated by boilerplate).
      Report what the cap removed with ``dedup.cap_drop_metrics(b,
      "sig", max_bucket)`` — the drops must land in the run's metrics,
      never pass silently.

    The within-bucket self-join shuffles only (id, vec, sig) rows
    hash-partitioned on sig — never the document payload.

    Pass ``sig_col`` to read a STORED signature column (computed once at
    ingest by operators/signatures.py) instead of computing the
    signature from ``planes`` in the scan (:func:`_lsh_columns`) — the
    100 TB shape, where every near-dup query starts from the
    materialized index.

    Pair scoring runs over per-row PRECOMPUTED norms (one lambda fold
    per pair instead of three — measured ~3x on the bucket self-join;
    the norm column is the identical double ``norm`` computes, so
    scores are bit-identical).
    """
    if planes is None and sig_col is None:
        raise ValueError(
            "embedding_near_dup_pairs: pass planes (in-scan signature fold) "
            "or sig_col (stored signature index column)"
        )
    if sig_col is None:
        sig_col = "_sig"
        df = _lsh_columns(df.select(id_col, vec_col), vec_col, {sig_col: planes})
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.col(sig_col).alias("sig"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    if max_bucket is not None:
        # tiny (sig, count) aggregate, partial map-side, broadcast back.
        # NOT the count-window form candidate_pairs_from_buckets uses:
        # sign signatures have few, fat key groups (2^n_planes buckets)
        # where WindowExec's per-group sort loses (A/B at sf1.0: 2.9 s
        # window vs 1.8 s join), while minhash bucket keys are
        # near-unique and the window wins there
        keep = (
            b.groupBy("sig")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") <= max_bucket)
            .select("sig")
        )
        b = b.join(keep, "sig")
    l, r = b.alias("l"), b.alias("r")
    pairs = l.join(
        r, (F.col("l.sig") == F.col("r.sig")) & (F.col("l.id") < F.col("r.id"))
    )
    score = pair_cosine_bp(
        F.col("l.vec"), F.col("r.vec"), F.col("l.nrm"), F.col("r.nrm")
    )
    return pairs.select(
        F.col("l.id").alias("a"),
        F.col("r.id").alias("b"),
        score.alias("score_bp"),
    ).where(F.col("score_bp") >= min_score_bp)


def query_probes(query_vec, planes: list[list[float]], radius: int = 2) -> list[int]:
    """Multi-probe bucket set: the query's signature plus every
    signature within Hamming distance ``radius`` (the classic
    multi-probe LSH recall fix — a near neighbor differs from the query
    only on its marginal hyperplanes, so probing the few-bit flips
    recovers most of what single-probe loses). radius=2 lifts
    recall@10 above 0.9 on weakly-correlated corpora (the hardest
    case: per-plane agreement p ≈ 0.65 → per-table hit prob ~0.47,
    1-(1-r)^4 ≈ 0.92 over 4 tables) at a probe-set cost of
    1 + n + C(n,2) buckets per table."""
    qsig = 0
    for p, plane in enumerate(planes):
        # an explicit left fold, the oracle SQL's order: sum() of floats
        # is compensated from Python 3.12 on
        d = 0.0
        for a, b in zip(query_vec, plane):
            d += float(a) * b
        if d >= 0:
            qsig += 2**p
    n = len(planes)
    probes = [qsig]
    if radius >= 1:
        probes += [qsig ^ (1 << p) for p in range(n)]
    if radius >= 2:
        probes += [qsig ^ (1 << p) ^ (1 << q) for p in range(n) for q in range(p + 1, n)]
    return probes


def lsh_bucketed_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    probe_radius: int = 2,
) -> DataFrame:
    """ANN: L independent random-hyperplane tables, multi-probe
    (Hamming ≤ probe_radius) per table, candidates = union across
    tables, exact cosine within candidates.

    Single-table sign-LSH has inherently low recall (a neighbor at
    angle θ disagrees per plane with prob θ/π); L tables raise recall
    to 1-(1-r)^L at L× the candidate cost — the standard knob. At scale
    the L signatures are stored/bucketed columns (compute once at
    ingest, :func:`ann_topk_from_signatures`); here they are computed
    in the scan by the same kernel the ingest build uses
    (:func:`_lsh_columns`), still a narrow filter pruning the corpus
    before the exact top-k (TakeOrdered, no global sort)."""
    sigs = _lsh_columns(
        df.select(id_col, vec_col),
        vec_col,
        {
            f"sig{t}": random_planes(len(query_vec), n_planes, seed + t)
            for t in range(n_tables)
        },
    )
    return ann_topk_from_signatures(
        sigs, id_col, vec_col, query_vec, k, n_planes, n_tables, seed, probe_radius
    )


def _hexval(ch) -> Column:
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def hashed_tf_embedding(tok_col, dim: int = 64, normalize: bool = True) -> Column:
    """Feature-hashing document embedding (the hashing trick): token t
    adds ±1 to component (((h1·16+h2)·16+h3)·16+h4) mod dim of an
    integer accumulator, where h1..h5 are md5(t) hex digits and the
    sign is the parity of h5 (the classic sign debiasing); the result
    is the L2-normalized vector as array<double>.

    The bucket draws on 16 bits of digest (4 hex digits), so every
    component up to dim 65536 is reachable; when dim does not divide
    65536 the modulo bias is ≤ dim/65536 per bucket — negligible, but
    powers of two are exactly uniform.

    This is the bridge from the TEXT ops to the EMBEDDING ops: hashed
    vectors feed embedding_near_dup_pairs / the IVF/LSH indexes
    directly, giving a no-model vector path for corpora without
    learned embeddings. Integer accumulation is order-independent, so
    the value is deterministic under any partitioning and exactly
    reproducible by a relational GROUP BY in the SQL oracle; md5 keeps
    it engine-portable. Computed WITHIN the row (one fold over the
    token array, like minhash/simhash) — zero shuffle.

    Cost shape: the fold accumulates a sparse (bucket → count) map —
    per-token work is O(occupied buckets), never O(dim) — and the
    dense dim-length vector is built ONCE at the end, so a row costs
    O(tokens · occupied + dim), not the O(tokens · dim) a per-token
    dense indicator array would (wasteful at realistic dims of 512+).
    """
    if not (0 < dim <= 65536):
        raise ValueError(
            f"hashed_tf_embedding: dim must be in (0, 65536] (4 hex digest "
            f"digits address 2^16 buckets); got {dim}"
        )

    def build(toks):
        def pair(t):
            # let-bind the digest via single-element transform so md5
            # evaluates once per token, not once per digit use
            def fromdigest(digest):
                hv = lambda i: _hexval(F.substring(digest, i, 1))
                bucket = (
                    ((hv(1) * 16 + hv(2)) * 16 + hv(3)) * 16 + hv(4)
                ) % dim
                sign = (
                    F.when(hv(5) % 2 == 0, F.lit(1))
                    .otherwise(F.lit(-1))
                    .cast("long")
                )
                return F.struct(
                    bucket.cast("int").alias("b"), sign.alias("s")
                )

            return F.element_at(F.transform(F.array(F.md5(t)), fromdigest), 1)

        def upd(m, p):
            b, s = p["b"], p["s"]
            return F.map_concat(
                F.map_filter(m, lambda k, v: k != b),
                F.create_map(
                    b, F.coalesce(F.element_at(m, b), F.lit(0).cast("long")) + s
                ),
            )

        empty = F.map_from_arrays(
            F.array().cast("array<int>"), F.array().cast("array<bigint>")
        )
        acc_map = F.aggregate(
            toks,
            empty,
            lambda m, t: F.element_at(
                F.transform(F.array(pair(t)), lambda p: upd(m, p)), 1
            ),
        )
        # densify once: map → dim-length array (let-bind the folded map)
        acc = F.element_at(
            F.transform(
                F.array(acc_map),
                lambda m: F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda j: F.coalesce(
                        F.element_at(m, j.cast("int")), F.lit(0).cast("long")
                    ),
                ),
            ),
            1,
        )

        if not normalize:
            return acc

        def l2(a):
            nrm = F.sqrt(
                F.aggregate(
                    a, F.lit(0.0), lambda s, v: s + (v * v).cast("double")
                )
            )
            return F.when(
                nrm > 0, F.transform(a, lambda v: v.cast("double") / nrm)
            ).otherwise(F.transform(a, lambda v: F.lit(0.0)))

        return F.element_at(F.transform(F.array(acc), l2), 1)

    return F.element_at(F.transform(F.array(tok_col), build), 1)


IVF_CELLS = 16
IVF_NPROBE = 6  # measured recall@10 = 0.83 vs brute force at 16 cells
# (nprobe 4 scored 0.67; gate >= 0.8 in test_ann_ivf_recall_vs_brute_force)


def ivf_centroids(emb_df: DataFrame, id_col: str, vec_col: str, n_cells: int = IVF_CELLS):
    """Deterministic IVF coarse centroids: the ``n_cells`` corpus
    vectors ranked first by md5(id) (a seeded spread sample — id order
    would risk correlated picks; md5 order is uniform and reproducible
    in SQL, so the DuckDB oracle selects the identical rows). A k-means
    refinement would tighten cells but costs iterations and breaks
    closed-form oracling; for inverted-file PRUNING the spread sample
    is the standard cheap choice. One driver-side collect of n_cells
    rows (same pattern as the cached query vector)."""
    rows = (
        emb_df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("i").cast("string")), F.col("i"))
        .limit(n_cells)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def ivf_query_probes(
    query_vec, centroids: list[list[float]], nprobe: int = IVF_NPROBE
) -> list[int]:
    """Top-``nprobe`` cell numbers (1-based) for a query vector, best
    first, ties to the lower cell — Python double math folds left like
    the oracle SQL, so the probe set matches what the oracle derives.
    The zero-norm clamp matches :func:`_lsh_columns`."""
    import math

    scored = []
    for idx, c in enumerate(centroids):
        d = 0.0
        cc = 0.0
        for x, y in zip(query_vec, c):
            d += float(x) * float(y)
        for y in c:
            cc += float(y) * float(y)
        scored.append((-(d / math.sqrt(max(cc, 1e-12))), idx + 1))
    return [cell for _, cell in sorted(scored)[:nprobe]]


def ann_ivf_topk(
    indexed: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """IVF ANN over a stored cell assignment: scan only the rows whose
    cell is among the query's top-``nprobe`` centroid cells, exact
    cosine within. The coarse-quantizer complement to the LSH tables —
    at 100 TB the index is PARTITIONED BY cell, so the probe filter is
    partition pruning, not a scan."""
    probes = ivf_query_probes(query_vec, centroids, nprobe)
    return brute_force_topk(
        indexed.where(F.col(cell_col).isin(probes)), id_col, vec_col, query_vec, k
    )


def ann_topk_from_signatures(
    sig_df: DataFrame,
    id_col: str,
    vec_col: str,
    query_vec,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    probe_radius: int = 2,
) -> DataFrame:
    """ANN over a STORED signature-index table (columns sig0..sig{L-1}
    written once at ingest, operators/signatures.py): the probe filter
    is L tiny integer IN-lists over stored columns — no per-query plane
    fold, and on a bucketed/partitioned index the IN-lists prune
    partitions. lsh_bucketed_topk is this filter over signatures
    computed in the scan — identical planes, identical probes."""
    cond = None
    for t in range(n_tables):
        planes = random_planes(len(query_vec), n_planes, seed + t)
        probes = [int(p) for p in query_probes(query_vec, planes, probe_radius)]
        c = F.col(f"sig{t}").isin(probes)
        cond = c if cond is None else (cond | c)
    return brute_force_topk(sig_df.where(cond), id_col, vec_col, query_vec, k)


def assign_cells_vectorized(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "ivf_cell",
) -> DataFrame:
    """Arrow-batched IVF cell assignment: ``df`` plus ``out_col``, the
    1-based cell :func:`_lsh_columns` assigns (the IVF half of the
    stored signature index). The centroid matrix rides into each Arrow
    batch once, so SemDeDup-style cell counts (k ∝ corpus, thousands
    of cells) cost one fold per batch, not a plan tree per cell."""
    return _lsh_columns(df, vec_col, {}, (out_col, centroids))


SEMDEDUP_BP = 3000  # cosine×10000 duplicate threshold (param; real
# embedding corpora run ~9500-9700 — the synthetic bench vectors top
# out near 0.49 within-cell, so the default exercises a non-trivial
# kept/dropped split at every SF)


def semantic_dedup_cells(
    sigs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    min_score_bp: int = SEMDEDUP_BP,
) -> DataFrame:
    """SemDeDup-style semantic dedup over the stored IVF cells (Abbas
    et al. 2023: cluster embeddings coarsely, then pairwise-compare
    ONLY within a cluster): a vector is dropped when any SMALLER-id
    vector in its cell has cosine ≥ ``min_score_bp`` (greedy first-wins
    — deterministic, order-free, and exactly reproducible by a
    relational self-join, unlike the paper's random keeper).

    Returns one row per vector: (vec_id, cell, n_dom, max_bp, kept)
    where ``n_dom`` counts dominating smaller-id near-twins, ``max_bp``
    is the strongest such cosine (−1 when kept) and ``kept`` =
    (n_dom == 0) — the surviving semantic representatives.

    Scale shape: the self-join keys on the cell, and the signature
    index is PARTITIONED BY cell (operators/signatures.py), so the
    join co-locates; pair count is Σ|cell|², never |corpus|². At
    100 TB ``n_cells`` grows with the corpus (SemDeDup uses
    k ∝ n — e.g. ~100 k cells — keeping cells bounded and the join
    keys well spread), so neither cell size nor key skew grows with
    data. Only (cell, id, vec) are read — column pruning drops the
    sig columns at the scan. The pair cosine runs over per-row
    PRECOMPUTED norms (bit-identical, one fold per pair instead of
    three — see pair_cosine_bp)."""
    l = sigs.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("u"),
        F.col(vec_col).alias("uv"),
        norm(F.col(vec_col)).alias("un"),
    )
    r = sigs.select(
        F.col(cell_col).alias("cell"),
        F.col(id_col).alias("v"),
        F.col(vec_col).alias("vv"),
        norm(F.col(vec_col)).alias("vn"),
    )
    bp = pair_cosine_bp(F.col("uv"), F.col("vv"), F.col("un"), F.col("vn"))
    dom = (
        l.join(r, "cell")
        .where(F.col("u") < F.col("v"))
        .select("v", bp.alias("bp"))
        .where(F.col("bp") >= min_score_bp)
        .groupBy("v")
        .agg(F.count("*").alias("_n_dom"), F.max("bp").alias("_max_bp"))
    )
    base = sigs.select(F.col(id_col).alias("vec_id"), F.col(cell_col).alias("cell"))
    return base.join(dom, base["vec_id"] == dom["v"], "left").select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.coalesce("_n_dom", F.lit(0)).cast("long").alias("n_dom"),
        F.coalesce("_max_bp", F.lit(-1)).cast("long").alias("max_bp"),
        F.col("_n_dom").isNull().alias("kept"),
    )
