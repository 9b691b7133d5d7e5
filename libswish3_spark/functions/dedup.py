"""Deduplication at corpus scale: exact, MinHash+LSH, SimHash, n-gram
Jaccard verification, and connected-components keeper resolution.

All deterministic and engine-portable: hashes are md5-based (identical
in Spark and DuckDB) rather than engine-private hash functions, so every
stage has an independent SQL oracle. Scale notes per operator:

* exact        — one hash-groupBy shuffle on the digest; partial agg
                 map-side, skew-free (digests are uniform).
* minhash LSH  — text → shingles → k minhashes → b band buckets, all
                 computed by one Arrow batch kernel (zero shuffle until
                 the candidate join); bucket sizes are capped so a
                 boilerplate-heavy bucket cannot go quadratic.
* jaccard      — exact verification ON LSH CANDIDATE PAIRS ONLY: the
                 documents are scanned again and their [doc_id, text]
                 rows shuffle to semi-join the candidate ids; the
                 shingle kernel runs once per gated document and its
                 arrays shuffle once; two linear joins + an
                 array_intersect per pair.
* resolve      — min-id label propagation over verified pairs →
                 (doc_id, keeper) cluster assignment, bounded rounds
                 with per-round lineage truncation.
* simhash      — fixed-width signature; hamming-radius candidates via
                 band equality on signature nibbles.

The shingle and minhash kernels are the only Spark form of those
signatures; the DuckDB oracle SQL in operators/queries.py
(``_SHINGLE_SQL``, ``ORACLE_MINHASH_BUCKET_INDEX``) is their spec.

Evaluation-count discipline for the Column-expression operators:
Catalyst performs no common-subexpression elimination across column
references — a subtree referenced k times is evaluated k times
(ProjectCollapse re-inlines staged selects). :func:`bind` pins any
intermediate to a higher-order-function lambda variable, which Spark
evaluates exactly once per row.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window, functions as F

from libswish3_spark.functions.text import fingerprint, tokens
from libswish3_spark.tokenizer import ASCII_TOKEN_PATTERN_SQL

# K=16 in 8 bands of r=2: candidate recall at jaccard s is
# 1-(1-s^2)^8 = 0.90 at the verify threshold s=0.5 (and 0.97 at
# s=0.6). The previous K=8/4-band config scored 0.68 at s=0.5 —
# measured, not just theory: tests/test_functions.py planted-pair
# recall. Doubling K doubles the per-shingle md5 fold, a linear
# narrow-stage cost; the candidate-join shape is unchanged.
MINHASH_K = 16
MINHASH_BANDS = 8  # r = K / BANDS = 2 rows per band
SIMHASH_BITS = 16


def bind(col: Column, fn) -> Column:
    """Evaluate ``col`` exactly once per row, then apply ``fn``.

    Wraps the value in a single-element array and binds it to a
    ``transform`` lambda variable — inside ``fn`` every reference to the
    bound value is a variable lookup, not a re-evaluation of the
    subtree. This is the CSE Catalyst doesn't do.
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


_ASCII_TOKEN_RE = re.compile(ASCII_TOKEN_PATTERN_SQL)


def ascii_shingles(text, n: int = 3) -> list[str]:
    """Space-joined word n-grams over the ASCII tokens of the lowercased
    text (the oracles' ``_SHINGLE_SQL`` before its ``list_distinct``),
    in document order with repeats kept — callers that need the set
    take first-occurrence distinct. Empty for null text or fewer than n
    tokens."""
    toks = _ASCII_TOKEN_RE.findall(text.lower()) if isinstance(text, str) else []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


# shingles per min-fold: bounds the distinct-shingle table and the
# gathered (shingles, K) uint32 array to tens of MB, however many long
# documents an Arrow batch holds (a single document is never split)
_FOLD_SHINGLES = 1 << 17


def _band_bucket_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """(id, bucket) rows of one Arrow batch of (id, text): the
    MINHASH_BANDS LSH bucket keys of every document with at least one
    3-gram shingle, so shingle-less docs never bucket-collide (and emit
    no row). Documents are folded in runs of about
    :data:`_FOLD_SHINGLES` shingles (:func:`_fold_band_keys`)."""
    keep: list[int] = []  # batch positions of documents with shingles
    buckets: list[str] = []
    slot: dict[str, int] = {}  # distinct shingle -> its row of digests
    rows: list[int] = []  # slot of every shingle, documents in order
    starts: list[int] = []  # first entry in rows of each document
    for i, text in enumerate(batch.column(1).to_pylist()):
        grams = ascii_shingles(text)
        if not grams:
            continue
        keep.append(i)
        starts.append(len(rows))
        rows += [slot.setdefault(g, len(slot)) for g in grams]
        if len(rows) >= _FOLD_SHINGLES:
            buckets += _fold_band_keys(slot, rows, starts)
            slot, rows, starts = {}, [], []
    if starts:
        buckets += _fold_band_keys(slot, rows, starts)
    ids = batch.column(0).take(np.repeat(np.asarray(keep, np.int64), MINHASH_BANDS))
    return pa.RecordBatch.from_arrays(
        [ids, pa.array(buckets, pa.string())], names=["id", "bucket"]
    )


def _fold_band_keys(slot: dict, rows: list[int], starts: list[int]) -> list[str]:
    """The band keys of a run of documents, MINHASH_BANDS per document
    in order: ``slot`` numbers the run's distinct shingles, ``rows``
    lists the slot of every shingle, and document d's shingles start at
    ``rows[starts[d]]``.

    Hash j of a shingle is the 8-hex-char slice j%4 of
    md5(shingle || '#' || j//4) — one md5 yields four 32-bit hash
    values, so K=16 costs 4 digests per shingle. Each of the K minhashes
    is the least slice over the document's shingles, and band b's key is
    md5('b|mh_{br}|...|mh_{br+r-1}'). Each distinct shingle is hashed
    once (documents share n-grams: 37-39% of the shingles repeat within
    a batch of a few hundred documents, both of the bench corpus and of
    clone-family text). The digests, viewed as big-endian uint32 (a fixed-width
    lowercase hex slice orders like its number), are gathered per
    shingle and min-folded per document by one ``np.minimum.reduceat``;
    ``f"{v:08x}"`` gives back the slice.
    """
    k, r = MINHASH_K, MINHASH_K // MINHASH_BANDS
    md5 = hashlib.md5
    salts = [b"#%d" % g for g in range((k + 3) // 4)]
    digests = bytearray()
    for gram in slot:
        g = gram.encode()
        for salt in salts:
            digests += md5(g + salt).digest()
    hashes = np.frombuffer(digests, ">u4").reshape(len(slot), -1)[:, :k]
    keys = []
    for doc in np.minimum.reduceat(hashes[rows], starts, axis=0).tolist():
        hx = [f"{v:08x}" for v in doc]
        keys += [
            md5("|".join([str(b)] + hx[b * r : (b + 1) * r]).encode()).hexdigest()
            for b in range(MINHASH_BANDS)
        ]
    return keys


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: digest → (keeper, dup count). One shuffle."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count("*").alias("n_dups"),
        )
    )


def doc_band_buckets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bucket) exploded band-bucket table: one row per LSH band of
    every document with at least one 3-gram shingle.

    The whole chain — tokenize → 3-gram shingles → 4 md5 per shingle →
    16 min-folds → 8 band keys → explode — runs in ONE ``mapInArrow``
    kernel, a batch at a time (:func:`_band_bucket_batch`): hashlib's C
    md5 over the batch's distinct shingles, then one numpy min-fold per
    document over the digests viewed as uint32. This beats the JVM's
    per-element interpretation of equivalent nested lambda expressions
    several-fold (232 s interpreted for 1.28 M docs), and a per-row
    Python min-fold over hex strings about 2-5x. The output equals the
    DuckDB spec ``ORACLE_MINHASH_BUCKET_INDEX`` (pinned by pytest over
    the bench corpus plus edge documents, and per batch)."""
    from pyspark.sql.types import StructType

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    schema = StructType([src.schema.fields[0]]).add("bucket", "string")

    def band_bucket_kernel(batches):
        for batch in batches:
            yield _band_bucket_batch(batch)

    return src.mapInArrow(band_bucket_kernel, schema=schema)


# "auto" edge mode: all-pairs below this many members, star above —
# small buckets keep full verify-stage precision, big (clone-family)
# buckets collapse from O(size²) to O(size) edges
STAR_THRESHOLD = 32


def candidate_pairs_from_buckets(
    exploded: DataFrame,
    max_bucket: int | None = 1000,
    pairs: str = "all",
) -> DataFrame:
    """(id, bucket) table → distinct candidate pairs (a, b), a < b,
    sharing a bucket.

    Works over a freshly computed :func:`doc_band_buckets` OR a STORED
    bucket-index table (operators/signatures.py) — at 100 TB the index
    is written once at ingest and every dedup query starts here,
    skipping the md5 signature fold entirely.

    ``max_bucket`` caps bucket fan-out: a band bucket with more than
    max_bucket rows (boilerplate, templated pages) would contribute
    O(size²) pairs — at web scale one hot bucket can dominate the whole
    job. Capped buckets are dropped entirely; their members are still
    reachable through their other (bands-1) buckets, and genuinely
    templated near-dup farms are better handled by exact dedup first.

    ``pairs`` picks the edge set each surviving bucket emits:

    * ``"all"`` (default) — every pair of distinct members, O(size²)
      per bucket. Exact and oracle-friendly, robust to verify-stage
      edge drops (any two similar members connect directly).
    * ``"star"`` — (min id, member) for every other member, O(size) per
      bucket. Same connected components BEFORE verification (a star
      spans the bucket), so cluster resolution over clone families is
      identical while edge volume collapses — measured on a 1.28 M-doc
      corpus of 256-clone families: 222 M all-pairs edges in 258 s vs
      2.2 M star edges in 15 s. The tradeoff: verification prunes
      edges individually, so two members that are both similar to a
      third but not to the bucket min can lose their connection.
    * ``"auto"`` — all-pairs for a bucket of at most
      :data:`STAR_THRESHOLD` rows, star above. The scale-safe default
      for production dedup recipes (submit_extract wires it): ordinary
      buckets keep all-pairs precision, clone-family buckets emit
      O(size) edges. The oracle queries keep explicit ``"all"``.

    One plan serves every mode, and a clone-family bucket's all-pairs
    output is never built: one window over ``bucket`` computes each
    row's bucket size ``_n`` and min id ``_min``; the cap is a filter
    on ``_n``; the left side keeps every member of an all-pairs bucket
    but only the min of a star bucket; one self-join on ``bucket`` with
    ``l.id < r.id`` and one ``distinct`` (ids repeat across buckets and
    rows may repeat within one) give the pairs. The window's
    hash-partitioning on bucket is what the join needs, so both join
    sides reuse its one exchange.
    """
    if pairs not in ("all", "star", "auto"):
        raise ValueError(f"pairs must be 'all', 'star' or 'auto', got {pairs!r}")
    w = Window.partitionBy("bucket")
    sized = exploded.select(
        "id",
        "bucket",
        F.count("*").over(w).alias("_n"),
        F.min("id").over(w).alias("_min"),
    )
    if max_bucket is not None:
        sized = sized.where(F.col("_n") <= max_bucket)
    hub = F.col("id") == F.col("_min")
    keep = {
        "all": F.lit(True),
        "star": hub,
        "auto": (F.col("_n") <= STAR_THRESHOLD) | hub,
    }[pairs]
    left = sized.where(keep).alias("l")
    right = sized.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
        .distinct()
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """LSH candidate pairs (a < b) sharing at least one band bucket —
    buckets computed inline by :func:`doc_band_buckets`; see
    candidate_pairs_from_buckets for the stored-index entry and the
    max_bucket semantics."""
    return candidate_pairs_from_buckets(
        doc_band_buckets(df, id_col, text_col), max_bucket
    )


def cap_drop_metrics(
    bucketed: DataFrame, key: str = "bucket", max_bucket: int = 1000
) -> DataFrame:
    """Observability for the hot-bucket cap: ONE row
    (dropped_buckets, dropped_rows) counting what the cap-and-drop in
    :func:`candidate_pairs_from_buckets` /
    ``similarity.embedding_near_dup_pairs`` silently removes from pair
    coverage. At 100 TB the cap is the right call, but a dedup run must
    be able to report 'N rows lost pair coverage to M hot buckets' next
    to its other counters — silent coverage loss is not a metric, it's
    a surprise. Works over the same (id, key) exploded table (or stored
    index) the candidate join consumes; the aggregate is tiny (one row
    per over-cap bucket before the final fold)."""
    return (
        bucketed.groupBy(key)
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > max_bucket)
        .agg(
            F.count("*").alias("dropped_buckets"),
            F.coalesce(F.sum("_n"), F.lit(0)).cast("long").alias("dropped_rows"),
        )
    )


def shingle_arrays_vectorized(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, sh) distinct word-n-gram shingle arrays via ONE ``mapInArrow``
    kernel (a JVM lambda fold of the same n-grams interprets per
    element and dominated the jaccard-verify stage at 1 M+ docs): ASCII
    token class on lowercased text, space-joined n-grams,
    first-occurrence distinct, empty array (never null) for docs with
    < n tokens or null text. The arrays equal the oracles'
    ``_SHINGLE_SQL`` as sets (pinned by pytest; DuckDB's
    ``list_distinct`` does not keep order)."""
    from pyspark.sql.types import ArrayType, StringType, StructType

    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    schema = StructType([src.schema.fields[0]]).add(
        "sh", ArrayType(StringType())
    )
    sh_type = pa.list_(pa.string())

    def shingle_kernel(batches):
        for batch in batches:
            texts = batch.column(1).to_pylist()
            sh = [list(dict.fromkeys(ascii_shingles(t, n))) for t in texts]
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(sh, sh_type)], names=["id", "sh"]
            )

    return src.mapInArrow(shingle_kernel, schema=schema)


def jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only — the scale path.

    Shingle arrays are computed ONLY for documents that appear in a
    candidate pair: candidates are near-dup-bounded, so the tokenize +
    shingle kernel runs over a fraction of the corpus instead of all of
    it. The gate is not free: the documents are scanned again, and the
    full ``[doc_id, text]`` rows shuffle to semi-join the candidate ids.
    The kernel's ``(id, sh)`` output is hash-partitioned on ``id`` once;
    both joins that attach a side's (distinct) shingle array read that
    one exchange (the second is a reused exchange), so the kernel runs
    once per document and the arrays shuffle once. One array_intersect
    scores each pair; never quadratic in the corpus. Jaccard is returned
    ×10000 as a bigint for engine-portable hashing. The shingle arrays
    come from the Arrow kernel :func:`shingle_arrays_vectorized`.
    """
    cand_ids = (
        candidates.select(F.col("a").alias("cid"))
        .union(candidates.select(F.col("b").alias("cid")))
        .distinct()
    )
    gated = df.join(cand_ids, F.col(id_col) == F.col("cid"), "left_semi")
    sh = shingle_arrays_vectorized(gated, id_col, text_col, n).repartition("id")
    pairs = (
        candidates.join(
            sh.select(F.col("id").alias("a"), F.col("sh").alias("sha")), "a"
        )
        .join(sh.select(F.col("id").alias("b"), F.col("sh").alias("shb")), "b")
    )
    common = F.size(F.array_intersect("sha", "shb"))
    union = F.size("sha") + F.size("shb") - common
    # greatest(union, 1): candidates from the stored index always have
    # shingles, but the docstring admits ANY candidate pairs — two
    # sub-n-token docs give union = 0, which is DIVIDE_BY_ZERO under
    # ANSI (and a silently dropped pair otherwise). The clamp scores
    # the empty-vs-empty pair 0, so it drops below any threshold > 0.
    jacc = F.floor(common * 10000 / F.greatest(union, F.lit(1))).cast("long")
    # round, not int(): 0.57 * 10000 is 5699.99…, which int() cuts to
    # a 5699 bp gate that lets a 5699 bp pair through
    return pairs.select("a", "b", jacc.alias("jaccard_bp")).where(
        F.col("jaccard_bp") >= round(threshold * 10000)
    )


def resolve_clusters(
    pairs: DataFrame, max_rounds: int = 20, require_converged: bool = False
) -> DataFrame:
    """Near-dup pairs → (doc_id, keeper): connected components by min-id
    label propagation with per-round POINTER DOUBLING (label ←
    min(label, label-of-label)), so even a pure chain of diameter d
    converges in O(log d) rounds — a 25-hop chain resolves in ~5 rounds
    where plain propagation needs 25. Near-dup clusters are usually
    shallow (dup farms are star-shaped around a template), so typical
    runs still finish in 2-3 rounds. Each round is two joins + one
    aggregate on the (node, label) table — skinny rows, never the
    document payload. localCheckpoint truncates lineage so round k
    doesn't replay rounds 0..k-1.

    Convergence is SURFACED, not assumed: if ``max_rounds`` elapse
    without the label fixpoint, a warning is emitted (or ValueError
    when ``require_converged``) — returning silently-unconverged labels
    would mislabel keepers with no signal. With doubling, 20 rounds
    covers diameters beyond 2^19 — hitting the cap means something is
    genuinely wrong with the input.

    Keeper sets here are what actually lets dedup DROP rows:
    ``docs.join(resolve_clusters(...), on=id, 'left_anti' for non-
    keepers)`` is the final filter of the pipeline.

    Hybrid execution (guide §1.2: the distributed algorithm is where
    the orders of magnitude live — and below a size floor the
    distributed algorithm IS the overhead): each doubling round costs
    3+ job launches regardless of data size, so a small edge set pays
    seconds of pure scheduling. When the materialized pair table fits
    the driver (:func:`_local_pair_limit`: a fixed share of
    ``spark.driver.memory`` at the measured peak RSS per collected
    pair), the components are resolved by a driver-side min-id
    union-find, which is definitionally the same labeling (keeper =
    component minimum; union-find is direction- and duplicate-
    agnostic, so it reads the RAW pairs and skips the edge
    symmetrization/distinct shuffles entirely). Larger sets build the
    symmetric edge table and take the distributed doubling loop
    unchanged — the 100 TB path. The decision is one job on the
    already-checkpointed pairs, not the candidate pipeline: it collects
    at most limit + 1 pairs as Arrow, and more than the limit sends the
    checkpointed table down the distributed loop, so the driver never
    holds more than limit + 1 pairs.
    """
    spark = pairs.sparkSession
    # materialized once: the local gate reads it, and every doubling
    # round otherwise re-runs the whole candidate+verify pipeline
    raw = pairs.select("a", "b").localCheckpoint(eager=True)
    local_limit = _local_pair_limit(spark)
    if local_limit > 0:
        head = raw.limit(local_limit + 1).toArrow()
        if head.num_rows <= local_limit:
            return _resolve_clusters_local(spark, head, raw.schema[0].dataType)
    edges = (
        raw.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(raw.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    labels = labels.localCheckpoint(eager=True)
    # convergence test: one scalar aggregate per round (no extra join),
    # id-type-agnostic — labels change every non-converged round, so the
    # xxhash64 label-sum changes too (a numeric cast here would NULL out
    # string doc_ids, the library's native id type per DOCS_SCHEMA, and
    # silently stop after one round on any component of diameter > 2)
    # sentinel, not None: an EMPTY labels table aggregates to a None
    # sum, which must still compare equal across rounds (trivial
    # fixpoint) instead of spuriously never converging
    prev_sum = object()
    converged = False
    for _ in range(max_rounds):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(neigh, labels.id == neigh.src, "left").select(
            labels.id,
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        # pointer doubling: jump to the label's own label — halves the
        # remaining chain length every round (O(log d) convergence)
        x, y = stepped.alias("x"), stepped.alias("y")
        labels = (
            x.join(y, F.col("x.label") == F.col("y.id"), "left")
            .select(
                F.col("x.id").alias("id"),
                F.least(
                    F.col("x.label"), F.coalesce(F.col("y.label"), F.col("x.label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(
            F.sum(F.xxhash64("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0][0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        msg = (
            f"resolve_clusters: label propagation did not reach a fixpoint "
            f"within max_rounds={max_rounds}; keeper labels may be wrong"
        )
        if require_converged:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("keeper"))


# Peak driver RSS per collected pair on the local path, JVM plus Python
# (the checkpoint, the Arrow collect, the id lists, the union-find dict
# and the output frame), measured with 24- and 48-char string ids at
# 100k and 200k pairs: 1.5-1.6 KB/pair (24) and 2.2-2.5 KB/pair (48),
# of which Python holds about 0.4 and 0.6 KB.
_LOCAL_CC_PAIR_BYTES = 2560
# share of spark.driver.memory the local path may spend on that
_LOCAL_CC_MEMORY_SHARE = 0.5


def _local_pair_limit(spark) -> int:
    """Most raw pairs resolve_clusters collects to the driver: 1g of
    driver memory (Spark's default) admits 209 715 pairs. The size is
    read with Spark's own parser, so a bare number means MiB as it does
    for the JVM heap."""
    sc = spark.sparkContext
    mem = sc.getConf().get("spark.driver.memory", "1g")
    mib = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsMb(mem)
    return int(mib * 2**20 * _LOCAL_CC_MEMORY_SHARE) // _LOCAL_CC_PAIR_BYTES


def _resolve_clusters_local(spark, pairs: pa.Table, id_type) -> DataFrame:
    """Driver-side min-id union-find over a SIZE-GATED pair collect
    (see resolve_clusters): every node labeled with its component's
    minimum id — exactly the fixpoint the doubling loop converges to
    (edge direction and duplicates are irrelevant to union-find).
    Output schema matches the distributed branch (``id_type``)."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pairs.column(0).to_pylist(), pairs.column(1).to_pylist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-id representative: the union root is the smaller id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = list(parent)
    arrow_type = pairs.schema.field(0).type
    out = pa.table(
        {
            "doc_id": pa.array(nodes, arrow_type),
            "keeper": pa.array([find(x) for x in nodes], arrow_type),
        }
    )
    schema = StructType(
        [
            StructField("doc_id", id_type, True),
            StructField("keeper", id_type, True),
        ]
    )
    # built from Arrow: from a list of tuples it goes through a pickled
    # Python RDD, one more job
    return spark.createDataFrame(out, schema=schema)


def _hexval(ch: Column) -> Column:
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def simhash(tok_col, bits: int = SIMHASH_BITS) -> Column:
    """SimHash signature over md5 bits of each token (engine-portable).

    bit i of token t = (hexdigit(md5(t)[i//4]) >> (i%4)) & 1; the
    signature bit is the sign of sum(2*bit - 1) over tokens. One
    aggregate pass accumulates all ``bits`` counters (the token array is
    bound once; md5 per token is computed once per nibble via the digest
    binding below).
    """

    def build(toks):
        bit_ids = F.sequence(F.lit(0), F.lit(bits - 1))

        # per token: bind the md5 digest once, emit ±1 per bit; the bit
        # loop unrolls at runtime (sequence), keeping the tree constant-
        # size — a Python-side unroll costs seconds of Catalyst analysis
        def contrib(t):
            def frombits(digest):
                return F.transform(
                    bit_ids,
                    lambda i: (
                        F.floor(
                            _hexval(
                                F.substring(
                                    digest, (F.floor(i / 4) + 1).cast("int"), 1
                                )
                            )
                            / F.pow(F.lit(2.0), (i % 4).cast("double"))
                        ).cast("long")
                        % 2
                    )
                    * 2
                    - 1,
                )

            return bind(F.md5(t), frombits)

        sums = F.aggregate(
            toks,
            F.array_repeat(F.lit(0).cast("long"), bits),
            lambda acc, t: F.zip_with(acc, contrib(t), lambda a, b: a + b),
        )

        def tosig(s):
            weights = F.zip_with(
                s,
                bit_ids,
                lambda v, i: F.when(
                    v >= 0, F.pow(F.lit(2.0), i.cast("double"))
                ).otherwise(F.lit(0.0)),
            )
            return F.aggregate(
                weights, F.lit(0.0), lambda a, b: a + b
            ).cast("long")

        return bind(sums, tosig)

    return bind(tok_col, build)


def duplicated_ngram_starts(
    df: DataFrame, id_col: str, text_col: str, n: int = 8, min_count: int = 2
) -> DataFrame:
    """(id, pos) start positions of every token n-gram whose exact
    content occurs at least ``min_count`` times across the corpus
    (including repeats within one document) — the detection half of
    exact substring dedup (the sequence-level dedup of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    published recipe; 50-token windows there, parameterized here).

    Shape at scale: per-row window hashes (one narrow projection,
    O(tokens·n) bytes hashed), ONE explode to (id, pos, gram-hash)
    rows, one count aggregate on the hash (partial map-side, uniform
    md5 keys — skew-free), one join back. Nothing quadratic; the
    duplicated-hash set is boilerplate-sized, not corpus-sized.
    """
    toks = tokens(F.col(text_col))

    def gram_hashes(ts):
        grams = F.transform(
            F.sequence(F.lit(0), F.size(ts) - n),
            lambda j: F.md5(F.concat_ws(" ", F.slice(ts, j + 1, n))),
        )
        return F.when(F.size(ts) >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    # outer + null filter, not a plain posexplode: for a non-outer
    # Generate the optimizer infers a size(...) > 0 predicate and pushes
    # it into the file scan's DataFilters, re-running the window-hash
    # chain inside the scan stage (one task per source file). The outer
    # form infers nothing; the null filter is on the generated column
    # and cannot sink.
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(bind(toks, gram_hashes)).alias("pos", "gh"),
    ).where(F.col("gh").isNotNull())
    dup = (
        exploded.groupBy("gh")
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("gh")
    )
    return exploded.join(dup, "gh").select("id", "pos")


def remove_duplicated_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 8, min_count: int = 2
) -> DataFrame:
    """Exact substring dedup: drop every token covered by a duplicated
    n-gram window, rebuild the text from the survivors.

    Returns (id, clean_text, n_kept, n_removed) for EVERY input doc
    (fully-duplicated docs come back with clean_text='' — same
    no-silent-loss contract as drop_frequent_paragraphs). Coverage is
    computed by exploding each duplicated window start to its n token
    positions (O(dup-windows·n), boilerplate-bounded) and anti-joining
    the token stream; reassembly is the ordered collect used across
    this module. The token stream shuffles once (groupBy id).
    """
    starts = duplicated_ngram_starts(df, id_col, text_col, n, min_count)
    covered = starts.select(
        "id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("tpos")
    ).distinct()
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("tpos", "tok"),
    )
    kept = toks.join(covered, ["id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda e: e["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("id"), F.size(tokens(F.col(text_col))).alias("n_total")
    )
    return totals.join(rebuilt, "id", "left").select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        (F.col("n_total") - F.coalesce("n_kept", F.lit(0))).cast("long").alias(
            "n_removed"
        ),
    )


def _regex_quote(s: str) -> str:
    """Java-regex literal quoting (Pattern.quote): \\Q...\\E with any
    embedded \\E split out, so a separator like '.' or '||' splits as a
    literal string — matching how array_join re-joins it literally."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def drop_frequent_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    max_doc_freq: int = 10,
) -> DataFrame:
    """Paragraph-level boilerplate removal (the CCNet/RefinedWeb-style
    line dedup): drop every paragraph whose exact content appears in
    more than ``max_doc_freq`` distinct documents (navbars, footers,
    cookie banners — the cross-document repeated furniture document-
    level dedup can't see).

    Shape at scale: one exploded (id, pos, para-hash) pass → a tiny
    (hash, doc-freq) aggregate (frequent-paragraph set is boilerplate,
    orders of magnitude smaller than the corpus) → broadcast anti-join
    → per-document ordered reassembly. The paragraph payload shuffles
    once (the explode's groupBy-back); the frequent set never exceeds
    broadcast size by construction of the threshold.

    ``sep`` is a literal string (regex-quoted for the split, joined
    verbatim on reassembly — the round-trip holds for any separator).

    Returns (id, clean_text, n_paras) — every input document appears in
    the output; documents whose every paragraph was boilerplate yield
    clean_text='' with n_paras=0 (the left join below restores them
    after the anti-join removed all their rows).
    """
    paras = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), _regex_quote(sep))).alias(
            "pos", "para"
        ),
    )
    frequent = (
        paras.groupBy(F.md5("para").alias("h"))
        .agg(F.count_distinct("id").alias("df"))
        .where(F.col("df") > max_doc_freq)
        .select("h")
    )
    kept = paras.join(
        F.broadcast(frequent), F.md5(paras.para) == frequent.h, "left_anti"
    )
    surviving = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda e: e["para"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("n_paras"),
    )
    # all-boilerplate docs have zero surviving paragraphs — restore them
    # with an empty clean_text instead of silently dropping the row
    return df.select(F.col(id_col).alias("id")).join(
        surviving, "id", "left"
    ).select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_paras", F.lit(0).cast("long")).alias("n_paras"),
    )
