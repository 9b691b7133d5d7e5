"""Oracle-checked query registry.

Each entry pairs a Spark implementation (DataFrame API, JVM-side
wherever possible; the extraction engine via mapInPandas where the
semantics demand it) with an equivalent DuckDB SQL oracle over the same
parquet tables. Column names and integer-only numeric outputs are kept
identical on both sides so the driver's order-insensitive value-hash
matches bit-for-bit.

Token pattern note: ``[a-z0-9'_]+`` is the engine tokenizer's ASCII
fast path (reference: tokenizer.c:104-137) and behaves identically in
Java regex (Spark) and RE2 (DuckDB) — the synthetic ``documents`` table
is ASCII, so the oracle tokenizes exactly like the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from libswish3_spark.functions import dedup as D
from libswish3_spark.functions import similarity as S
from libswish3_spark.functions import text as T
from libswish3_spark.pipeline import ensure_parallelism, extract

PAT = T.TOKEN_PATTERN
PAT_SQL = PAT.replace("'", "''")  # escaped for single-quoted SQL literals
TOKS_SQL = f"regexp_extract_all(lower(text), '{PAT_SQL}')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _html_wrap(df: DataFrame) -> DataFrame:
    """Deterministic HTML synthesis: documents → interleaved docs rows."""
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit(" from "),
        F.col("source"),
        F.lit("</title></head><body>"),
        F.col("text"),
        F.lit("</body></html>"),
    )
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                html.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit("HTML").alias("parser"),
    )


# --------------------------------------------------------------------------
# Extraction-engine queries (the actual mapInPandas pipeline, oracled)
# --------------------------------------------------------------------------


def q_extract_html(spark, sf_dir):
    """Flagship: full engine over synthesized HTML docs.

    nwords = tokens(title) + tokens(body); title/description come from
    the swishtitle/swishdescription property buckets (tag aliases
    title→swishtitle, body→swishdescription; reference config.c:366-371).
    """
    docs = _html_wrap(_docs(spark, sf_dir))
    out = extract(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("nwords"),
        F.element_at("properties", "swishtitle").alias("title"),
        F.element_at("properties", "swishdescription").alias("description"),
    )


ORACLE_EXTRACT_HTML = f"""
SELECT doc_id,
       len(regexp_extract_all(lower('doc ' || doc_id || ' from ' || source), '{PAT_SQL}'))
     + len({TOKS_SQL}) AS nwords,
       'doc ' || doc_id || ' from ' || source AS title,
       text AS description
FROM documents
"""


def q_extract_media(spark, sf_dir):
    """Engine media path: one interleaved <img> per doc → media span at
    the bumper gap; media_ref surfaces in the span sequence."""
    base = _docs(spark, sf_dir)
    html = F.concat(
        F.lit("<body>"),
        F.col("text"),
        F.lit('<img src="img://'),
        F.col("doc_id").cast("string"),
        F.lit('"/></body>'),
    )
    docs = base.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                html.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit("HTML").alias("parser"),
    )
    out = extract(docs)
    media = F.filter("spans", lambda s: s["kind"] == F.lit("media"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("nwords"),
        F.size(media).alias("n_media"),
        F.element_at(media, 1)["media_ref"].alias("media_ref"),
    )


ORACLE_EXTRACT_MEDIA = f"""
SELECT doc_id,
       len({TOKS_SQL}) AS nwords,
       1 AS n_media,
       'img://' || doc_id AS media_ref
FROM documents
"""


def q_extract_txt(spark, sf_dir):
    """Engine TXT path: body → swishdefault, doc_id-as-uri → swishtitle
    (reference: parser.c:2690-2699 title-from-path)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit("TXT").alias("parser"),
    )
    out = extract(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("nwords"),
        F.element_at("metanames", "swishtitle").alias("title"),
    )


ORACLE_EXTRACT_TXT = f"""
SELECT doc_id,
       len({TOKS_SQL}) + 1 AS nwords,   -- +1: numeric doc_id is one token
       CAST(doc_id AS VARCHAR) AS title
FROM documents
"""


def q_extract_txt_segmented(spark, sf_dir):
    """Mega-doc scale path: segment → parallel extract → order-preserving
    reassembly; must agree with the unsegmented TXT extraction."""
    from libswish3_spark.operators.megadoc import segmented_nwords

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    out = segmented_nwords(docs, seg_chars=96)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "nwords")


ORACLE_EXTRACT_TXT_SEGMENTED = f"""
SELECT doc_id, len({TOKS_SQL}) + 1 AS nwords FROM documents
"""


def q_extract_html_segmented(spark, sf_dir):
    """HTML mega-doc path: cut-scan → parallel HTMLSEG extract →
    reassembly. Must be indistinguishable from the single-pass HTML
    extraction — same oracle as extract_html."""
    from libswish3_spark.operators.megadoc import extract_html_segmented

    docs = _html_wrap(_docs(spark, sf_dir))
    out = extract_html_segmented(docs, seg_chars=32)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("nwords"),
        F.element_at("properties", "swishtitle").alias("title"),
        F.element_at("properties", "swishdescription").alias("description"),
    )


def q_extract_xml_segmented(spark, sf_dir):
    """XML mega-doc path: literal-event cut-scan → parallel XMLSEG
    extract → reassembly. The synthesized shape mirrors the HTML twin
    (title/body land in the same buckets via the default tag aliases,
    config.c:366-371; XML every-tag bump parser.c:543-549 moves
    positions, never word counts) — so it shares the HTML oracle."""
    from libswish3_spark.operators.megadoc import extract_xml_segmented

    base = _docs(spark, sf_dir)
    xml = F.concat(
        F.lit("<doc><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit(" from "),
        F.col("source"),
        F.lit("</title><body>"),
        F.col("text"),
        F.lit("</body></doc>"),
    )
    docs = base.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                xml.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    out = extract_xml_segmented(docs, seg_chars=32)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("nwords"),
        F.element_at("properties", "swishtitle").alias("title"),
        F.element_at("properties", "swishdescription").alias("description"),
    )


def q_properties_typed(spark, sf_dir):
    """P7/C2 typed-property chain: swish.xml config (int/date/max) →
    XML parse → property buckets → consumer-side typed columns
    (reference: header.c:474-541 type/max parse, swish_xapian.cpp:478
    int serialization)."""
    from libswish3_spark.config import load_config_xml
    from libswish3_spark.functions.props import typed_properties

    cfg = load_config_xml(
        """<swish><PropertyNames>
             <num type="int"/>
             <when type="date"/>
             <desc max="40" sort_length="12"/>
           </PropertyNames></swish>"""
    )
    base = _docs(spark, sf_dir)
    day = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    xml = F.concat(
        F.lit("<doc><num>"),
        F.col("doc_id").cast("string"),
        F.lit("</num><when>2020-01-"),
        day,
        F.lit("</when><desc>"),
        F.col("text"),
        F.lit("</desc></doc>"),
    )
    docs = base.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                xml.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit("XML").alias("parser"),
    )
    out = typed_properties(extract(docs, config=cfg), cfg, with_sort_keys=True)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("num").alias("num_val"),
        F.col("when").alias("when_ts"),
        F.col("desc").alias("desc_trunc"),
        # consumer ordering key: case-folded, truncated to sort_length
        # BYTES and hex-represented (property.c:41-43 hints,
        # functions/props.py sort_key — byte parity with the C prefix)
        F.col("desc_sortkey"),
    )


ORACLE_PROPERTIES_TYPED = """
SELECT doc_id,
       doc_id AS num_val,
       CAST('2020-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
            AS TIMESTAMP) AS when_ts,
       substr(text, 1, 40) AS desc_trunc,
       substring(hex(encode(lower(text))), 1, 24) AS desc_sortkey
FROM documents
"""


def q_index_postings(spark, sf_dir):
    """S9 index-sink contract: one (term, pos, metaname, context) row per
    token, from the real parser with token-meta retention."""
    from libswish3_spark.operators.postings import extract_index_postings

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit("TXT").alias("parser"),
    )
    out = extract_index_postings(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        "pos",
        "metaname",
        "context",
    )


ORACLE_INDEX_POSTINGS = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
u AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)+1),
                i -> {{'pos': i, 'term': toks[i]}})) AS p
  FROM t
)
SELECT doc_id, p.term AS term, CAST(p.pos AS INT) AS pos,
       'swishdefault' AS metaname, 'swishdefault' AS context
FROM u
UNION ALL
SELECT doc_id, CAST(doc_id AS VARCHAR) AS term,
       CAST(len(toks) + 1 AS INT) AS pos,
       'swishtitle' AS metaname, 'swishtitle' AS context
FROM t
"""


# --------------------------------------------------------------------------
# JVM-side text analysis (T-layer re-expressed in codegen)
# --------------------------------------------------------------------------


def q_postings_offsets(spark, sf_dir):
    """T8 byte offset/len capture (reference: tokenizer.c:384-386 —
    offset into the doc's shared token buffer, len+NUL advance)."""
    from libswish3_spark.operators.postings import extract_index_postings

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit("TXT").alias("parser"),
    )
    out = extract_index_postings(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "term",
        "pos",
        "offset",
        "len",
    )


# offsets are a running sum of (len+1) in pos order, window-expressible
ORACLE_POSTINGS_OFFSETS = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
p AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)+1),
                i -> {{'pos': i, 'term': toks[i]}})) AS r
  FROM t
  UNION ALL
  SELECT doc_id, {{'pos': len(toks) + 1, 'term': CAST(doc_id AS VARCHAR)}} AS r
  FROM t
)
SELECT doc_id, r.term AS term, CAST(r.pos AS INT) AS pos,
       CAST(coalesce(sum(strlen(r.term) + 1) OVER (
              PARTITION BY doc_id ORDER BY r.pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
         AS "offset",
       CAST(strlen(r.term) AS INT) AS len
FROM p
"""


def q_term_frequencies(spark, sf_dir):
    return (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("token"))
        .limit(50)
    )


ORACLE_TERM_FREQUENCIES = f"""
SELECT token, count(*) AS cnt
FROM (SELECT unnest({TOKS_SQL}) AS token FROM documents)
GROUP BY token ORDER BY cnt DESC, token LIMIT 50
"""


def q_named_buffer_concat(spark, sf_dir):
    """A1 named-buffer group-concat: per source, ordered doc_id list."""
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id").cast("string"))), ","
            ).alias("doc_ids"),
            F.count("*").alias("n_docs"),
        )
    )


ORACLE_NAMED_BUFFER_CONCAT = """
SELECT source,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids,
       count(*) AS n_docs
FROM documents GROUP BY source
"""


def q_parser_dispatch(spark, sf_dir):
    """D1/D2: broadcast dim lookup lang → parser family, like the
    reference's 152-row MIME table (mime_types.c:35-234)."""
    dim = spark.createDataFrame(
        [("en", "HTML"), ("de", "XML"), ("fr", "XML"), ("es", "TXT"), ("zh", "TXT")],
        ["lang", "parser"],
    )
    return (
        _docs(spark, sf_dir)
        .join(F.broadcast(dim), "lang", "left")
        .groupBy(F.coalesce("parser", F.lit("HTML")).alias("parser"))
        .agg(F.count("*").alias("n_docs"))
    )


ORACLE_PARSER_DISPATCH = """
SELECT coalesce(p.parser, 'HTML') AS parser, count(*) AS n_docs
FROM documents d
LEFT JOIN (VALUES ('en','HTML'),('de','XML'),('fr','XML'),('es','TXT'),('zh','TXT'))
       AS p(lang, parser) ON d.lang = p.lang
GROUP BY 1
"""


def q_doc_quality(spark, sf_dir):
    feats = T.quality_features(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["alpha_bp"].alias("alpha_bp"),
        feats["stopword_bp"].alias("stopword_bp"),
    )


_STOP_SQL = ",".join(f"'{w}'" for w in T.STOPWORDS)
ORACLE_DOC_QUALITY = f"""
SELECT doc_id,
       length(text) AS n_chars,
       len({TOKS_SQL}) AS n_tokens,
       CASE WHEN length(text) > 0 THEN
         CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10000 / length(text)) AS BIGINT)
       ELSE 0 END AS alpha_bp,
       CASE WHEN len({TOKS_SQL}) > 0 THEN
         CAST(floor(len(list_filter({TOKS_SQL}, t -> t IN ({_STOP_SQL}))) * 10000 / len({TOKS_SQL})) AS BIGINT)
       ELSE 0 END AS stopword_bp
FROM documents
"""


def q_lang_id(spark, sf_dir):
    toks = T.tokens(F.col("text"))
    scores = T.lang_scores(toks)
    guess = F.lit("und")
    best = F.lit(-1)
    # deterministic argmax: iterate langs in fixed order, strict >
    for lang in sorted(T.LANG_MARKERS):
        sc = scores[lang]
        guess = F.when(sc > best, F.lit(lang)).otherwise(guess)
        best = F.when(sc > best, sc).otherwise(best)
    return _docs(spark, sf_dir).select(
        "doc_id", guess.alias("guess_lang"), best.cast("long").alias("marker_hits")
    )


def _lang_score_sql(lang):
    markers = ",".join(f"'{m}'" for m in T.LANG_MARKERS[lang])
    return f"len(list_filter({TOKS_SQL}, t -> t IN ({markers})))"


def _build_lang_id_oracle():
    langs = sorted(T.LANG_MARKERS)
    guess = "'und'"
    best = "-1"
    for lang in langs:
        sc = _lang_score_sql(lang)
        guess = f"CASE WHEN {sc} > {best} THEN '{lang}' ELSE {guess} END"
        best = f"CASE WHEN {sc} > {best} THEN {sc} ELSE {best} END"
    return f"SELECT doc_id, {guess} AS guess_lang, CAST({best} AS BIGINT) AS marker_hits FROM documents"


ORACLE_LANG_ID = _build_lang_id_oracle()


def q_doc_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")
    )


ORACLE_DOC_FINGERPRINT = "SELECT doc_id, md5(lower(text)) AS fp FROM documents"


# --------------------------------------------------------------------------
# Training-data curation: mixing, packing, selection, action reconcile
# --------------------------------------------------------------------------

# per-language keep rates in basis points (deterministic data mixing)
MIX_WEIGHTS_BP = {"en": 9000, "de": 7000, "fr": 5000, "es": 3000, "zh": 1000}
PACK_CAPACITY = 4096  # tokens per training pack


def _md5_head16(col) -> "F.Column":
    """First 16 bits of md5 as an int — portable to DuckDB via the same
    instr-based hex parse (no engine-private hash, no from_hex)."""
    h = F.md5(col)
    v = F.lit(0)
    for i in range(4):
        v = v * 16 + (F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1)
    return v


def q_sample_mix(spark, sf_dir):
    """Deterministic data mixing: per-language quota sampling by hash
    threshold. Unlike rand()-based sampleBy, md5(doc_id:lang) % 10000 is
    reproducible run-to-run and engine-portable — the property a
    training pipeline needs for auditable mixtures. Narrow (filter in
    the scan stage), no shuffle."""
    docs = _docs(spark, sf_dir)
    h = _md5_head16(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang")))
    weight = F.lit(0)
    for lang, bp in sorted(MIX_WEIGHTS_BP.items()):
        weight = F.when(F.col("lang") == lang, F.lit(bp)).otherwise(weight)
    return docs.where((h % 10000) < weight).select("doc_id", "lang")


def _mix_oracle():
    hexval = lambda i: f"(instr('0123456789abcdef', substr(md5(doc_id || ':' || lang), {i}, 1)) - 1)"
    h = f"((({hexval(1)} * 16 + {hexval(2)}) * 16 + {hexval(3)}) * 16 + {hexval(4)})"
    w = "0"
    for lang, bp in sorted(MIX_WEIGHTS_BP.items()):
        w = f"CASE WHEN lang = '{lang}' THEN {bp} ELSE {w} END"
    return f"SELECT doc_id, lang FROM documents WHERE ({h} % 10000) < ({w})"


ORACLE_SAMPLE_MIX = _mix_oracle()


def q_pack_sequences(spark, sf_dir):
    """Sequence packing: greedy contiguous assignment of documents into
    fixed-capacity token packs, one running sum per source shard.
    Windows partition by source (parallel, scale-honest — never a
    global single-partition window); a doc straddling the boundary
    starts in its cumulative pack, the standard greedy-packing
    definition."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", T.token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return docs.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(cum_before / PACK_CAPACITY).cast("long").alias("pack_id"),
    )


ORACLE_PACK_SEQUENCES = f"""
SELECT doc_id, source, len({TOKS_SQL}) AS n_tokens,
       CAST(floor(coalesce(sum(len({TOKS_SQL})) OVER (
              PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / {PACK_CAPACITY}) AS BIGINT) AS pack_id
FROM documents
"""


def q_quality_topk(spark, sf_dir):
    """Stratified quality selection: top-k documents per language by
    quality score (alpha ratio, ties broken by doc_id). Partitioned
    window — each language ranks in parallel; at web scale this is the
    'keep the best q% per stratum' filter of a curation pipeline."""
    from pyspark.sql import Window

    feats = T.quality_features(F.col("text"))
    scored = _docs(spark, sf_dir).select(
        "doc_id", "lang", feats["alpha_bp"].alias("alpha_bp")
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("alpha_bp"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 50)
        .select("doc_id", "lang", "alpha_bp", F.col("rank").cast("int").alias("rank"))
    )


ORACLE_QUALITY_TOPK = f"""
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN length(text) > 0 THEN
           CAST(floor(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 10000 / length(text)) AS BIGINT)
         ELSE 0 END AS alpha_bp
  FROM documents
),
r AS (
  SELECT doc_id, lang, alpha_bp,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY alpha_bp DESC, doc_id) AS INT) AS rank
  FROM scored
)
SELECT doc_id, lang, alpha_bp, rank FROM r WHERE rank <= 50
"""


def q_reconcile_actions(spark, sf_dir):
    """S3 Action semantics end-to-end: synthesize an add/update/delete
    stream history over documents, reconcile to the surviving set
    (latest mtime wins; delete drops)."""
    from libswish3_spark.pipeline import DOCS_FULL_SCHEMA, reconcile_actions

    base = _docs(spark, sf_dir)

    def frame(action, mtime, text_col, pred=None):
        df = base if pred is None else base.where(pred)
        return df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    text_col.alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ).alias("spans"),
            F.lit(None).cast("string").alias("mime"),
            F.lit("TXT").alias("parser"),
            F.lit(None).cast("string").alias("encoding"),
            F.lit(None).cast("long").alias("size"),
            F.lit(mtime).cast("long").alias("mtime"),
            F.lit(action).alias("action"),
            F.lit(None).cast("string").alias("error"),
        )

    history = (
        frame("add", 100, F.col("text"))
        .unionByName(
            frame("update", 200, F.concat(F.col("text"), F.lit(" v2")),
                  F.col("doc_id") % 3 == 0)
        )
        .unionByName(frame("delete", 300, F.lit(""), F.col("doc_id") % 5 == 0))
    )
    out = reconcile_actions(history)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "mtime",
        F.md5(F.element_at("spans", 1)["text"]).alias("text_fp"),
    )


ORACLE_RECONCILE_ACTIONS = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 200 ELSE 100 END AS mtime,
       CASE WHEN doc_id % 3 = 0 THEN md5(text || ' v2') ELSE md5(text) END AS text_fp
FROM documents WHERE doc_id % 5 <> 0
"""


_SHINGLE_SQL = f"""list_distinct(list_transform(
    range(1, greatest(len({TOKS_SQL}) - 2, 0) + 1),
    i -> {TOKS_SQL}[i] || ' ' || {TOKS_SQL}[i+1] || ' ' || {TOKS_SQL}[i+2]))"""


def q_tfidf_topterms(spark, sf_dir):
    """Per-document top-3 terms by tf·idf. Engine-portable scoring:
    floor(tf·1e6/df) (df from one corpus-wide partial-agg; no floating
    log). Shape at scale: one df aggregate (map-side combined), one
    broadcast-or-shuffle join on term, one per-doc window."""
    from pyspark.sql import Window

    tf = (
        ensure_parallelism(_docs(spark, sf_dir))
        .select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # df as a count window over term, not a groupBy+self-join: the join
    # formulation evaluated the whole tokenize→explode→agg subtree
    # TWICE (once per branch); the window reads the single tf pass and
    # produces the identical per-term document count
    w_df = Window.partitionBy("term")
    scored = tf.select(
        "doc_id",
        "term",
        F.floor(F.col("tf") * 1_000_000 / F.count("*").over(w_df))
        .cast("long")
        .alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "score", F.col("rank").cast("int").alias("rank"))
    )


ORACLE_TFIDF_TOPTERMS = f"""
WITH tf AS (
  SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents
),
tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
s AS (
  SELECT doc_id, tfc.term AS term,
         CAST(floor(tf * 1000000 / df) AS BIGINT) AS score
  FROM tfc JOIN dfc ON tfc.term = dfc.term
),
r AS (
  SELECT doc_id, term, score,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
  FROM s
)
SELECT doc_id, term, score, rank FROM r WHERE rank <= 3
"""


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: per-doc fraction (bp) of its 3-gram
    shingles that appear in a held-out benchmark set (docs with
    doc_id % 97 == 0 stand in for the eval set). Shape at scale: the
    benchmark shingle set is small → broadcast semi-join against the
    corpus' exploded shingles, then a per-doc partial count. The
    shingle sets come from the Arrow kernel
    (``dedup.shingle_arrays_vectorized``)."""
    docs = _docs(spark, sf_dir)
    sh = D.shingle_arrays_vectorized(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"),
        F.size("sh").alias("n_sh"),
        F.explode("sh").alias("shingle"),
    )
    bench = (
        sh.where(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    )
    hits = (
        sh.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    base = docs.select("doc_id").join(
        sh.groupBy("doc_id").agg(F.max("n_sh").alias("n_sh")), "doc_id", "left"
    )
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.coalesce("n_sh", F.lit(0)) > 0,
                F.floor(F.coalesce("n_hit", F.lit(0)) * 10000 / F.col("n_sh")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("contam_bp"),
        )
    )


ORACLE_CONTAMINATION = f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLE_SQL} AS sh FROM documents
),
ex AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM sh),
bench AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 97 = 0),
hits AS (
  SELECT doc_id, count(*) AS n_hit
  FROM ex JOIN bench USING (shingle) GROUP BY 1
)
SELECT s.doc_id,
       CASE WHEN len(s.sh) > 0
            THEN CAST(floor(coalesce(h.n_hit, 0) * 10000 / len(s.sh)) AS BIGINT)
            ELSE 0 END AS contam_bp
FROM sh s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return D.exact_duplicates(_docs(spark, sf_dir), "doc_id", "text")


ORACLE_DEDUP_EXACT = """
SELECT md5(lower(text)) AS fp, min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def q_dedup_paragraphs(spark, sf_dir):
    """Paragraph-level boilerplate removal (CCNet/RefinedWeb line
    dedup): documents synthesized with a shared boilerplate paragraph
    (doc-freq = corpus size, dropped) between the real text and a
    per-doc unique tail (kept)."""
    from libswish3_spark.functions.dedup import drop_frequent_paragraphs

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("shared cookie banner boilerplate"),
            F.concat(F.lit("tail "), F.col("doc_id").cast("string")),
        ).alias("t"),
    )
    out = drop_frequent_paragraphs(docs, "doc_id", "t", max_doc_freq=10)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.md5("clean_text").alias("clean_fp"),
        "n_paras",
    )


ORACLE_DEDUP_PARAGRAPHS = """
WITH docs2 AS (
  SELECT doc_id,
         text || chr(10) || 'shared cookie banner boilerplate'
              || chr(10) || 'tail ' || doc_id AS t
  FROM documents
),
paras AS (
  SELECT doc_id,
         unnest(string_split(t, chr(10))) AS para,
         unnest(range(1, len(string_split(t, chr(10))) + 1)) AS ord
  FROM docs2
),
freq AS (
  SELECT md5(para) AS h FROM paras GROUP BY 1
  HAVING count(DISTINCT doc_id) > 10
),
kept AS (SELECT * FROM paras WHERE md5(para) NOT IN (SELECT h FROM freq))
SELECT doc_id,
       md5(string_agg(para, chr(10) ORDER BY ord)) AS clean_fp,
       count(*) AS n_paras
FROM kept GROUP BY doc_id
"""


def q_quality_filter(spark, sf_dir):
    """Gopher-style rule filter over the raw corpus: per-rule pass
    flags (as ints for engine-portable hashing) + the kept verdict."""
    from libswish3_spark.functions.text import gopher_filter

    out = gopher_filter(_docs(spark, sf_dir), "text")
    flag = lambda c: F.col(c).cast("int").alias(c)
    return out.select(
        "doc_id",
        "n_words",
        "mean_word_len_bp",
        flag("word_count_ok"),
        flag("mean_word_len_ok"),
        flag("symbol_ratio_ok"),
        flag("stopwords_ok"),
        flag("kept"),
    )


def _build_quality_filter_oracle():
    from libswish3_spark.functions.text import GOPHER_STOPWORDS

    toks = TOKS_SQL
    stop_hits = " + ".join(
        f"CAST(list_contains({toks}, '{w}') AS INT)" for w in GOPHER_STOPWORDS
    )
    return f"""
WITH m AS (
  SELECT doc_id,
         len({toks}) AS n_words,
         CASE WHEN len({toks}) > 0
              THEN CAST(floor(list_sum(list_transform({toks}, t -> length(t)))
                              * 10000 / len({toks})) AS BIGINT)
              ELSE 0 END AS mean_word_len_bp,
         CASE WHEN length(text) > 0
              THEN floor(((length(text) - length(replace(text, '#', '')))
                        + (length(text) - length(replace(text, '...', ''))))
                        * 10000 / length(text))
              ELSE 0 END AS symbol_bp,
         ({stop_hits}) AS stop_hits
  FROM documents
)
SELECT doc_id, n_words, mean_word_len_bp,
       CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS word_count_ok,
       CAST(mean_word_len_bp >= 30000 AND mean_word_len_bp <= 100000 AS INT)
         AS mean_word_len_ok,
       CAST(symbol_bp <= 1000 AS INT) AS symbol_ratio_ok,
       CAST(stop_hits >= 2 AS INT) AS stopwords_ok,
       CAST(n_words >= 50 AND n_words <= 100000
            AND mean_word_len_bp >= 30000 AND mean_word_len_bp <= 100000
            AND symbol_bp <= 1000 AND stop_hits >= 2 AS INT) AS kept
FROM m
"""


ORACLE_QUALITY_FILTER = _build_quality_filter_oracle()


def q_pii_redact(spark, sf_dir):
    """PII scrub + repetition metric: per-doc synthesized email and
    long digit run must redact to the same bytes in both engines
    (Java regex and RE2 agree on these class-and-bounded-quantifier
    patterns); repetition_bp is the Gopher repetition-rule family."""
    base = _docs(spark, sf_dir)
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com code 123456789"),
        F.col("doc_id").cast("string"),
    )
    return base.select(
        "doc_id",
        F.md5(T.redact_pii(t)).alias("redacted_fp"),
        T.repetition_bp(F.col("text")).alias("rep_bp"),
    )


def _build_pii_oracle():
    from libswish3_spark.functions.text import EMAIL_PATTERN, LONG_NUMBER_PATTERN

    toks = TOKS_SQL
    grams = (
        f"list_transform(range(0, greatest(len({toks}) - 2, 0)),"
        f" i -> {toks}[i+1] || ' ' || {toks}[i+2] || ' ' || {toks}[i+3])"
    )
    return f"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(
             lower(text || ' contact user' || doc_id
                        || '@example.com code 123456789' || doc_id),
             '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
           '{LONG_NUMBER_PATTERN}', '<NUM>', 'g')) AS redacted_fp,
       CASE WHEN len({toks}) - 2 > 0
            THEN CAST(floor((len({grams}) - len(list_distinct({grams})))
                            * 10000 / (len({toks}) - 2)) AS BIGINT)
            ELSE 0 END AS rep_bp
FROM documents
"""


ORACLE_PII_REDACT = _build_pii_oracle()


def q_curation_pipeline(spark, sf_dir):
    """The composed corpus-curation pass a pretraining run actually
    executes: Gopher quality gate → exact-dedup survivors (keeper
    join) → PII scrub → final token accounting. Each stage is the
    already-oracled operator; this query checks their COMPOSITION.
    Shuffle shape at scale: the quality gate and the scrub are narrow
    projections; the dedup aggregate shuffles once on the digest and
    the keeper join once on doc_id (keepers ≈ corpus-sized, so this is
    a co-partitioned shuffle join, not a broadcast)."""
    from libswish3_spark.functions.dedup import exact_duplicates
    from libswish3_spark.functions.text import gopher_filter, redact_pii, token_count

    base = ensure_parallelism(_docs(spark, sf_dir))
    kept = gopher_filter(base, "text").where("kept")
    keepers = exact_duplicates(kept, "doc_id", "text").select(
        F.col("keeper").alias("doc_id")
    )
    survivors = kept.join(keepers, "doc_id")
    # bind the redaction once: referenced twice below, the projection
    # is NOT collapsed into its consumers (CollapseProject refuses to
    # duplicate non-cheap expressions), so the regex chain runs once
    # per row instead of twice
    redacted = survivors.select(
        "doc_id", redact_pii(F.col("text")).alias("_red"), "source"
    )
    return redacted.select(
        "doc_id",
        F.md5(F.col("_red")).alias("clean_fp"),
        token_count(F.col("_red")).alias("n_tokens"),
        "source",
    )


def _build_curation_pipeline_oracle():
    from libswish3_spark.functions.text import (
        EMAIL_PATTERN,
        GOPHER_STOPWORDS,
        LONG_NUMBER_PATTERN,
    )

    toks = TOKS_SQL
    stop_hits = " + ".join(
        f"CAST(list_contains({toks}, '{w}') AS INT)" for w in GOPHER_STOPWORDS
    )
    redacted = (
        f"regexp_replace(regexp_replace(lower(text),"
        f" '{EMAIL_PATTERN}', '<EMAIL>', 'g'),"
        f" '{LONG_NUMBER_PATTERN}', '<NUM>', 'g')"
    )
    return f"""
WITH kept AS (
  SELECT * FROM documents
  WHERE len({toks}) BETWEEN 50 AND 100000
    AND len({toks}) > 0
    AND CAST(floor(list_sum(list_transform({toks}, t -> length(t)))
                   * 10000 / len({toks})) AS BIGINT) BETWEEN 30000 AND 100000
    AND (length(text) = 0 OR
         floor(((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))))
              * 10000 / length(text)) <= 1000)
    AND ({stop_hits}) >= 2
),
keepers AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(lower(text)))
SELECT k.doc_id,
       md5({redacted}) AS clean_fp,
       len(regexp_extract_all(lower({redacted}), '{PAT_SQL}')) AS n_tokens,
       source
FROM kept k JOIN keepers USING (doc_id)
"""


ORACLE_CURATION_PIPELINE = _build_curation_pipeline_oracle()


CHUNK_TOKENS = 48
CHUNK_STRIDE = 32


def q_chunk_windows(spark, sf_dir):
    """Context-window chunking into training rows (overlapping: stride
    32 under a 48-token window). Narrow transform + explode, zero
    shuffle; chunk payloads fingerprinted for the hash check."""
    from libswish3_spark.functions.text import chunk_token_windows

    out = chunk_token_windows(
        ensure_parallelism(_docs(spark, sf_dir)), "doc_id", "text",
        chunk_tokens=CHUNK_TOKENS, stride=CHUNK_STRIDE,
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "chunk_idx",
        "n_tokens",
        F.md5("chunk_text").alias("chunk_fp"),
    )


ORACLE_CHUNK_WINDOWS = f"""
WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
s AS (
  SELECT doc_id, toks, unnest(range(0, len(toks), {CHUNK_STRIDE})) AS st
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(st / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(least({CHUNK_TOKENS}, len(toks) - st) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks[st + 1 : st + {CHUNK_TOKENS}], ' ')) AS chunk_fp
FROM s
"""


def q_corpus_rarity(spark, sf_dir):
    """Corpus-statistics quality scoring (the no-model perplexity
    stand-in): rare-token ratio + integer-exact unigram-surprisal
    bucketing per doc. One explode, one vocabulary-sized frequency
    aggregate (broadcast), one lookup join, one per-doc aggregate."""
    from libswish3_spark.functions.text import corpus_rarity_features

    return corpus_rarity_features(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").alias("doc_id"), "n_tokens", "rare_bp", "surprisal_c"
    )


ORACLE_CORPUS_RARITY = f"""
WITH tok AS (SELECT doc_id AS id, unnest({TOKS_SQL}) AS tok FROM documents),
freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT sum(cnt) AS total FROM freq),
sc AS (
  SELECT id,
         CASE WHEN cnt <= 2 THEN 1 ELSE 0 END AS is_rare,
         length(CAST(CAST(floor(total / cnt) AS BIGINT) AS VARCHAR)) AS digits
  FROM tok JOIN freq USING (tok), tot
),
pd AS (
  SELECT id, count(*) AS n_tokens,
         CAST(floor(sum(is_rare) * 10000 / count(*)) AS BIGINT) AS rare_bp,
         CAST(floor(sum(digits) * 100 / count(*)) AS BIGINT) AS surprisal_c
  FROM sc GROUP BY 1
)
SELECT d.doc_id,
       coalesce(pd.n_tokens, 0) AS n_tokens,
       coalesce(pd.rare_bp, 0) AS rare_bp,
       coalesce(pd.surprisal_c, 0) AS surprisal_c
FROM documents d LEFT JOIN pd ON d.doc_id = pd.id
"""


def q_doc_embedding_hash(spark, sf_dir):
    """Feature-hashing doc embeddings (the text→vector bridge): ±1
    hashed-TF accumulation per md5 bucket, within-row fold, zero
    shuffle. Integer accumulator stats plus the first normalized
    component in basis points go under the driver hash; the normalized
    vectors feed embedding_near_dup_pairs / the IVF and LSH indexes
    directly (composition pytest)."""
    raw = S.hashed_tf_embedding(T.tokens(F.col("text")), normalize=False)
    base = _docs(spark, sf_dir).select("doc_id", raw.alias("acc"))
    sumsq = F.aggregate(
        F.col("acc"), F.lit(0.0), lambda s, v: s + (v * v).cast("double")
    )
    return base.select(
        "doc_id",
        F.size(F.filter(F.col("acc"), lambda v: v != 0)).alias("n_nonzero"),
        F.aggregate(
            F.col("acc"), F.lit(0).cast("long"), lambda s, v: s + F.abs(v)
        ).alias("l1"),
        F.when(
            sumsq > 0,
            F.floor(F.element_at(F.col("acc"), 1) / F.sqrt(sumsq) * 10000),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("comp0_bp"),
    )


_HB = "(instr('0123456789abcdef', substr(md5(t), {i}, 1)) - 1)"
ORACLE_DOC_EMBEDDING_HASH = f"""
WITH tokb AS (
  SELECT doc_id,
         ((({_HB.format(i=1)} * 16 + {_HB.format(i=2)}) * 16
           + {_HB.format(i=3)}) * 16 + {_HB.format(i=4)}) % 64 AS bucket,
         CASE WHEN {_HB.format(i=5)} % 2 = 0 THEN 1 ELSE -1 END AS sign
  FROM (SELECT doc_id, unnest({TOKS_SQL}) AS t FROM documents)
),
acc AS (SELECT doc_id, bucket, sum(sign) AS v FROM tokb GROUP BY 1, 2),
st AS (
  SELECT doc_id,
         count(*) FILTER (WHERE v <> 0) AS n_nonzero,
         sum(abs(v)) AS l1,
         sum(v * v) AS sumsq,
         coalesce(max(CASE WHEN bucket = 0 THEN v END), 0) AS comp0
  FROM acc GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(st.n_nonzero, 0) AS INT) AS n_nonzero,
       CAST(coalesce(st.l1, 0) AS BIGINT) AS l1,
       CAST(CASE WHEN coalesce(st.sumsq, 0) > 0
                 THEN floor(st.comp0 / sqrt(st.sumsq) * 10000)
                 ELSE 0 END AS BIGINT) AS comp0_bp
FROM documents d LEFT JOIN st USING (doc_id)
"""


NGRAM_SPAN_N = 8


def q_dedup_ngram_spans(spark, sf_dir):
    """Exact substring dedup (sequence-level, Lee et al. recipe): every
    token covered by an n-gram that occurs >= 2 times anywhere in the
    corpus is dropped, text rebuilt from survivors. Detection is one
    explode + one count aggregate on uniform md5 keys; coverage is
    boilerplate-bounded. Every doc returns (all-duplicated ->
    clean_text='')."""
    return D.remove_duplicated_ngrams(
        _docs(spark, sf_dir), "doc_id", "text", n=NGRAM_SPAN_N
    ).select(
        F.col("id").alias("doc_id"), "clean_text", "n_kept", "n_removed"
    )


def _build_ngram_spans_oracle(n=NGRAM_SPAN_N):
    gram = " || ' ' || ".join(f"toks[j+{i}]" for i in range(n))
    return f"""
WITH t AS (SELECT doc_id AS id, {TOKS_SQL} AS toks FROM documents),
g AS (
  SELECT id, j - 1 AS pos, md5({gram}) AS gh
  FROM t, unnest(range(1, greatest(len(toks) - {n - 2}, 1))) AS u(j)
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT g.id, g.pos + k AS tpos
  FROM g JOIN dup USING (gh), unnest(range(0, {n})) AS ks(k)
),
tok AS (
  SELECT id, k - 1 AS tpos, toks[k] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS tk(k)
),
kept AS (
  SELECT tok.id, tok.tpos, tok.tok
  FROM tok LEFT JOIN cov ON tok.id = cov.id AND tok.tpos = cov.tpos
  WHERE cov.id IS NULL
),
reb AS (
  SELECT id, string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY id
)
SELECT t.id AS doc_id,
       coalesce(reb.clean_text, '') AS clean_text,
       coalesce(reb.n_kept, 0) AS n_kept,
       CAST(len(t.toks) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_removed
FROM t LEFT JOIN reb USING (id)
"""


ORACLE_DEDUP_NGRAM_SPANS = _build_ngram_spans_oracle()


def q_xinclude_merge(spark, sf_dir):
    """P10 XInclude under the driver oracle (reference parser.c:990-1079
    merge semantics): per document, a parent XML doc includes a child
    doc via <xi:include href>; the distributed resolution join
    (operators/xinclude.py) attaches child payloads and the parser
    merges child tokens with renumbered positions, child buffers with
    the \\x03 concat joiner (namedbuffer.c:284-291), and child nwords
    into the parent. Checked: merged nwords, word-span count, contiguous
    final position, merged swishtitle, and the exact merged
    swishdefault buffer bytes (md5)."""
    from libswish3_spark.operators.xinclude import extract_with_xinclude

    base = _docs(spark, sf_dir)

    def wrap(doc_id_col, xml_col):
        return F.array(
            F.struct(
                F.lit("text").alias("kind"),
                xml_col.alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans")

    sid = F.col("doc_id").cast("string")
    child = base.select(
        F.concat(F.lit("inc/c"), sid, F.lit(".xml")).alias("doc_id"),
        wrap(sid, F.concat(F.lit("<doc>"), F.col("text"), F.lit("</doc>"))),
        F.lit("XML").alias("parser"),
    )
    parent_xml = F.concat(
        F.lit("<doc><title>parent "),
        sid,
        F.lit(" title</title>lead words "),
        F.lit('<xi:include xmlns:xi="http://www.w3.org/2001/XInclude" href="inc/c'),
        sid,
        F.lit('.xml"/> tail words</doc>'),
    )
    parent = base.select(
        F.concat(F.lit("p"), sid, F.lit(".xml")).alias("doc_id"),
        wrap(sid, parent_xml),
        F.lit("XML").alias("parser"),
    )
    out = extract_with_xinclude(parent.unionByName(child))
    words = F.filter("spans", lambda s: s["kind"] == F.lit("word"))
    return out.where(F.col("doc_id").startswith("p")).select(
        F.regexp_extract("doc_id", r"p(\d+)\.xml", 1).cast("long").alias("doc_id"),
        "nwords",
        F.size(words).alias("n_word_spans"),
        F.element_at(words, -1)["order"].cast("long").alias("last_pos"),
        F.element_at("metanames", "swishtitle").alias("title"),
        F.md5(F.element_at("metanames", "swishdefault")).alias("body_fp"),
    )


# parent contributes 7 tokens (parent <id> title / lead words / tail
# words); child contributes len(tokens(text)); merged buffer is
# 'lead words ' <x03> child-text <x03> ' tail words' (chr(3) = the
# TOKENPOS_BUMPER joiner swish_buffer_concat uses)
ORACLE_XINCLUDE_MERGE = f"""
SELECT doc_id,
       len({TOKS_SQL}) + 7 AS nwords,
       len({TOKS_SQL}) + 7 AS n_word_spans,
       len({TOKS_SQL}) + 7 AS last_pos,
       'parent ' || doc_id || ' title' AS title,
       md5('lead words ' || chr(3) || text || chr(3) || ' tail words') AS body_fp
FROM documents
"""


def q_dedup_keep_first(spark, sf_dir):
    """Arrival-order exact dedup (batch twin of streaming/dedup.py's
    checkpointed first-seen filter): per content fingerprint keep the
    earliest-seq row. History = documents (seq = doc_id) plus late
    re-submissions of every fifth doc; the keeper must always be the
    original arrival."""
    from libswish3_spark.streaming.dedup import keep_first

    base = _docs(spark, sf_dir)

    def frame(df, id_col, seq_col):
        return df.select(
            id_col.cast("string").alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("text").alias("text"),
                    F.lit("").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ).alias("spans"),
            seq_col.cast("long").alias("seq"),
        )

    hist = frame(base, F.col("doc_id"), F.col("doc_id")).unionByName(
        frame(
            base.where(F.col("doc_id") % 5 == 0),
            F.col("doc_id") + 100000,
            F.col("doc_id") + 100000,
        )
    )
    out = keep_first(hist)
    return out.select(
        "fp",
        F.col("doc_id").cast("long").alias("keeper"),
        F.md5("text").alias("text_fp"),
    )


ORACLE_DEDUP_KEEP_FIRST = """
WITH hist AS (
  SELECT doc_id, text, doc_id AS seq FROM documents
  UNION ALL
  SELECT doc_id + 100000, text, doc_id + 100000 FROM documents WHERE doc_id % 5 = 0
)
SELECT md5(lower('text' || chr(1) || text || chr(1))) AS fp,
       arg_min(doc_id, seq) AS keeper,
       md5(arg_min(text, seq)) AS text_fp
FROM hist GROUP BY 1
"""



MAX_BUCKET = 1000  # LSH band-bucket size cap (boilerplate guard)
JACCARD_GATE_BP = 2000  # verification threshold for the gated query
RESOLVE_BP = 5000  # cluster-membership threshold for keeper resolution


def _index_tables(spark, sf_dir):
    """Stored signature indexes (operators/signatures.py): materialized
    once per corpus — the ingest step of the 100 TB design — then every
    dedup/ANN query below reads them instead of re-folding signatures."""
    from libswish3_spark.operators.signatures import ensure_index_tables

    return ensure_index_tables(spark, sf_dir)


def q_minhash_bucket_index(spark, sf_dir):
    """The ingest-side index build itself, under the correctness gate:
    per-doc minhash band buckets (id, bucket) exactly as stored."""
    from libswish3_spark.operators.signatures import build_minhash_bucket_index

    # the build spreads its own input (operators/signatures.py)
    return build_minhash_bucket_index(_docs(spark, sf_dir), "doc_id", "text")


def q_dedup_minhash_lsh(spark, sf_dir):
    """LSH candidate pairs from the STORED bucket index — the query-side
    plan contains no signature computation at all."""
    idx = _index_tables(spark, sf_dir)["minhash_buckets"]
    return D.candidate_pairs_from_buckets(idx, max_bucket=MAX_BUCKET)


def _minhash_sql(j):
    # hash j = 8-hex-char slice j%4 of md5(s || '#' || j//4): the spec
    # of dedup._fold_band_keys' digest slicing (4 hash values per md5)
    g, off = j // 4, 8 * (j % 4) + 1
    return f"list_min(list_transform(sh, s -> substr(md5(s || '#{g}'), {off}, 8)))"


def _bucket_list_sql():
    """SQL list literal of the 8 band-bucket keys over a shingle column
    ``sh`` — the spec of functions/dedup.doc_band_buckets' kernel."""
    r = D.MINHASH_K // D.MINHASH_BANDS
    buckets = []
    for b in range(D.MINHASH_BANDS):
        parts = " || '|' || ".join(_minhash_sql(b * r + j) for j in range(r))
        buckets.append(f"md5('{b}' || '|' || {parts})")
    return "[" + ", ".join(buckets) + "]"


def _minhash_cand_ctes():
    """Shared CTE block: shingles → band buckets (capped) → candidate
    pairs, mirroring minhash_candidates(max_bucket=MAX_BUCKET)."""
    bucket_list = _bucket_list_sql()
    return f"""
sh AS (
  SELECT doc_id AS id, {_SHINGLE_SQL} AS sh FROM documents
),
bk AS (
  SELECT id, unnest({bucket_list}) AS bucket FROM sh WHERE len(sh) > 0
),
keep AS (
  SELECT bucket FROM bk GROUP BY bucket HAVING count(*) <= {MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT l.id AS a, r.id AS b
  FROM bk l JOIN keep USING (bucket)
  JOIN bk r ON l.bucket = r.bucket AND l.id < r.id
)"""


ORACLE_DEDUP_MINHASH = f"WITH {_minhash_cand_ctes()} SELECT a, b FROM cand"

# the stored index itself (id, bucket) — the bk CTE without cap/join
ORACLE_MINHASH_BUCKET_INDEX = (
    f"WITH {_minhash_cand_ctes()} SELECT id, bucket FROM bk"
)

def q_neardup_incremental(spark, sf_dir):
    """Ingest-time near-dup detection, batch twin of
    streaming/neardup.near_dup_stream (the same DataFrame ops run under
    a stream): a batch of arrivals (every 10th doc replayed under a new
    id) band-bucketed within-row and joined against the STORED bucket
    index — candidates of new content vs the already-indexed corpus."""
    from libswish3_spark.streaming.neardup import near_dup_stream

    idx = _index_tables(spark, sf_dir)["minhash_buckets"]
    # parallelize the arrivals' within-row signature fold (the source is
    # one parquet file → one task without this, serializing the md5 chain)
    base = ensure_parallelism(_docs(spark, sf_dir)).where(F.col("doc_id") % 10 == 0)
    arrivals = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return (
        near_dup_stream(arrivals, idx)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("matched_id").cast("long").alias("matched_id"),
        )
        .distinct()
    )


ORACLE_NEARDUP_INCREMENTAL = f"""
WITH sh AS (
  SELECT doc_id AS id, {_SHINGLE_SQL} AS sh FROM documents
),
bk AS (
  SELECT id, unnest({_bucket_list_sql()}) AS bucket FROM sh WHERE len(sh) > 0
),
ash AS (
  SELECT doc_id + 100000 AS id, {_SHINGLE_SQL} AS sh
  FROM documents WHERE doc_id % 10 = 0
),
abk AS (
  SELECT id, unnest({_bucket_list_sql()}) AS bucket FROM ash WHERE len(sh) > 0
)
SELECT DISTINCT a.id AS doc_id, b.id AS matched_id
FROM abk a JOIN bk b USING (bucket)
WHERE a.id <> b.id
"""


# small cap so the sf corpora actually drop buckets and the metric row
# carries non-zero counts under the hash check
_METRICS_CAP = 2


def q_dedup_drop_metrics(spark, sf_dir):
    """Cap-and-drop observability (functions/dedup.cap_drop_metrics):
    how many hot buckets — and how many member rows — the max_bucket
    guard removes from pair coverage. The side-output a 100 TB dedup
    run writes next to its other counters; silent coverage loss is a
    surprise, not a policy."""
    idx = _index_tables(spark, sf_dir)["minhash_buckets"]
    return D.cap_drop_metrics(idx, "bucket", max_bucket=_METRICS_CAP)


ORACLE_DEDUP_DROP_METRICS = f"""
WITH {_minhash_cand_ctes()},
hot AS (
  SELECT bucket, count(*) AS n FROM bk GROUP BY bucket
  HAVING count(*) > {_METRICS_CAP}
)
SELECT count(*) AS dropped_buckets,
       CAST(coalesce(sum(n), 0) AS BIGINT) AS dropped_rows
FROM hot
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    """The dedup verify stage: exact jaccard on LSH candidates only
    (never the raw all-pairs shingle join — that is quadratic on any
    shared shingle and detonates at scale). Candidates come from the
    stored bucket index; shingles are computed only for candidate docs
    (jaccard_verify's semi-join gate)."""
    docs = ensure_parallelism(_docs(spark, sf_dir))
    idx = _index_tables(spark, sf_dir)["minhash_buckets"]
    cand = D.candidate_pairs_from_buckets(idx, max_bucket=MAX_BUCKET)
    return D.jaccard_verify(
        docs, cand, "doc_id", "text", threshold=JACCARD_GATE_BP / 10000
    )


_JAC_CTE = """
jac AS (
  SELECT c.a, c.b,
         CAST(floor(len(list_intersect(sa.sh, sb.sh)) * 10000 /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))))
              AS BIGINT) AS jaccard_bp
  FROM cand c JOIN sh sa ON sa.id = c.a JOIN sh sb ON sb.id = c.b
)"""

ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {_minhash_cand_ctes()}, {_JAC_CTE}
SELECT a, b, jaccard_bp FROM jac WHERE jaccard_bp >= {JACCARD_GATE_BP}
"""


def q_dedup_resolved(spark, sf_dir):
    """End-to-end near-dup dedup: LSH candidates → jaccard-verified
    pairs → connected-components keeper sets. The output is what a
    training pipeline actually filters on: every near-dup doc labeled
    with its cluster keeper (min doc_id in the component). The whole
    chain starts from the stored bucket index — candidates, verify and
    resolve never re-fold a signature."""
    docs = ensure_parallelism(_docs(spark, sf_dir))
    idx = _index_tables(spark, sf_dir)["minhash_buckets"]
    cand = D.candidate_pairs_from_buckets(idx, max_bucket=MAX_BUCKET)
    verified = D.jaccard_verify(
        docs, cand, "doc_id", "text", threshold=RESOLVE_BP / 10000
    )
    return D.resolve_clusters(verified)


ORACLE_DEDUP_RESOLVED = f"""
WITH RECURSIVE {_minhash_cand_ctes()}, {_JAC_CTE},
ver AS (SELECT a, b FROM jac WHERE jaccard_bp >= {RESOLVE_BP}),
edges AS (SELECT a AS src, b AS dst FROM ver UNION SELECT b, a FROM ver),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT id AS doc_id, min(r) AS keeper FROM reach GROUP BY id
"""


def q_dedup_apply(spark, sf_dir):
    """The dedup pipeline's actual output: the surviving corpus.
    The clusters of :func:`q_dedup_resolved` (which owns the cap and
    threshold wiring) → anti-join drops every non-keeper; exact
    duplicates collapse to min-id first. This is the row count a
    training run actually trains on."""
    docs = ensure_parallelism(_docs(spark, sf_dir))
    clusters = q_dedup_resolved(spark, sf_dir)
    losers = clusters.where(F.col("doc_id") != F.col("keeper")).select("doc_id")
    return (
        docs.join(losers, "doc_id", "left_anti")
        .groupBy()
        .agg(
            F.count("*").alias("survivors"),
            F.sum(F.length("text")).cast("long").alias("surviving_chars"),
        )
    )


ORACLE_DEDUP_APPLY = f"""
WITH RECURSIVE {_minhash_cand_ctes()}, {_JAC_CTE},
ver AS (SELECT a, b FROM jac WHERE jaccard_bp >= {RESOLVE_BP}),
edges AS (SELECT a AS src, b AS dst FROM ver UNION SELECT b, a FROM ver),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
losers AS (
  SELECT id FROM (SELECT id, min(r) AS keeper FROM reach GROUP BY id)
  WHERE id <> keeper
)
SELECT count(*) AS survivors,
       CAST(sum(length(text)) AS BIGINT) AS surviving_chars
FROM documents WHERE doc_id NOT IN (SELECT id FROM losers)
"""


def q_dedup_simhash(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", D.simhash(T.tokens(F.col("text"))).alias("simhash")
    )


def _build_simhash_oracle():
    acc = []
    for i in range(D.SIMHASH_BITS):
        nib = i // 4
        shift = 2 ** (i % 4)
        bit_sum = (
            f"list_sum(list_transform({TOKS_SQL}, t -> "
            f"(CAST(floor((instr('0123456789abcdef', substr(md5(t), {nib + 1}, 1)) - 1) / {shift}) AS BIGINT) % 2) * 2 - 1))"
        )
        acc.append(f"CASE WHEN coalesce({bit_sum}, 0) >= 0 THEN {2**i} ELSE 0 END")
    return f"SELECT doc_id, CAST({' + '.join(acc)} AS BIGINT) AS simhash FROM documents"


ORACLE_DEDUP_SIMHASH = _build_simhash_oracle()


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------


_QUERY_VEC_CACHE: dict[str, list] = {}


def _query_vec(spark, sf_dir):
    """First embedding as the ANN query vector — cached per sf_dir: it
    is a deterministic function of the (immutable) bench table, and the
    1-row collect costs ~0.5 s per call (4+ s on a cold session)."""
    if sf_dir not in _QUERY_VEC_CACHE:
        row = (
            _read(spark, sf_dir, "embeddings")
            .orderBy("vec_id")
            .limit(1)
            .collect()[0]
        )
        _QUERY_VEC_CACHE[sf_dir] = list(row["embedding"])
    return _QUERY_VEC_CACHE[sf_dir]


def q_ann_cosine_topk(spark, sf_dir):
    emb = ensure_parallelism(_read(spark, sf_dir, "embeddings"))
    return S.brute_force_topk(emb, "vec_id", "embedding", _query_vec(spark, sf_dir))


ORACLE_ANN_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1)
SELECT vec_id,
       CAST(floor(
         list_sum(list_transform(range(1, len(embedding)+1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / greatest(sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, len(q.qv)+1),     i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))), CAST(1e-12 AS DOUBLE))
         * 10000) AS BIGINT) AS score_bp
FROM embeddings, q
ORDER BY score_bp DESC, vec_id LIMIT 10
"""


ANN_DIMS = 64  # embeddings.parquet embedding width
ANN_PLANES = 8
ANN_TABLES = 4
ANN_SEED = 42


def q_ann_lsh_topk(spark, sf_dir):
    """Index-free LSH ANN: signatures computed IN-FLIGHT (no stored
    table — every run folds them from the parquet input) through the
    same Arrow kernel the ingest build uses, then the stored-path probe
    filter + exact cosine. Identical result set to the expression-form
    lsh_bucketed_topk by construction — same planes, same probes, same
    kernel the stored index is built with (pinned identical to the
    expression fold by test_signatures) — but the per-row signature
    fold runs as one matmul per batch instead of 32 interpreted
    lambda folds per row, and parallelizes with the input spread
    (the expression filter was pushed below the repartition onto the
    single-file scan, pinning it to one core: 2.7 s of the old 3.1 s
    query)."""
    from libswish3_spark.operators.signatures import (
        build_embedding_signature_index,
    )

    emb = ensure_parallelism(_read(spark, sf_dir, "embeddings"))
    sigs = build_embedding_signature_index(
        emb, centroids=_ivf_centroids(spark, sf_dir)
    )
    return S.ann_topk_from_signatures(
        sigs,
        "vec_id",
        "embedding",
        _query_vec(spark, sf_dir),
        n_planes=ANN_PLANES,
        n_tables=ANN_TABLES,
        seed=ANN_SEED,
    )


def _build_ann_lsh_oracle(dims=ANN_DIMS, n_planes=ANN_PLANES, n_tables=ANN_TABLES):
    """L random-hyperplane tables + multi-probe (Hamming ≤ 2, matching
    lsh_bucketed_topk's default probe_radius) per table, with the SAME
    literal plane weights as similarity.random_planes — both engines
    compute identical left-to-right double dot products."""

    def plane_dot(vec: str, plane) -> str:
        return " + ".join(
            f"CAST({vec}[{i + 1}] AS DOUBLE) * {w!r}" for i, w in enumerate(plane)
        )

    sig_cols, qsig_cols, table_conds = [], [], []
    for t in range(n_tables):
        planes = S.random_planes(dims, n_planes, ANN_SEED + t)
        sig = " + ".join(
            f"CASE WHEN ({plane_dot('embedding', pl)}) >= 0 THEN {2**p} ELSE 0 END"
            for p, pl in enumerate(planes)
        )
        qsig = " + ".join(
            f"CASE WHEN ({plane_dot('q.qv', pl)}) >= 0 THEN {2**p} ELSE 0 END"
            for p, pl in enumerate(planes)
        )
        sig_cols.append(f"({sig}) AS sig{t}")
        qsig_cols.append(f"({qsig}) AS qsig{t}")
        probes = " OR ".join(
            [f"sig{t} = qsig{t}"]
            + [f"sig{t} = xor(qsig{t}, {1 << p})" for p in range(n_planes)]
            + [
                f"sig{t} = xor(qsig{t}, {(1 << p) | (1 << q)})"
                for p in range(n_planes)
                for q in range(p + 1, n_planes)
            ]
        )
        table_conds.append(f"({probes})")
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
qs AS (SELECT {", ".join(qsig_cols)} FROM q),
scored AS (
  SELECT vec_id, {", ".join(sig_cols)},
       CAST(floor(
         list_sum(list_transform(range(1, len(embedding)+1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / greatest(sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, len(q.qv)+1),     i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))), CAST(1e-12 AS DOUBLE))
         * 10000) AS BIGINT) AS score_bp
  FROM embeddings, q
)
SELECT vec_id, score_bp FROM scored, qs
WHERE {" OR ".join(table_conds)}
ORDER BY score_bp DESC, vec_id LIMIT 10
"""


ORACLE_ANN_LSH_TOPK = _build_ann_lsh_oracle()


_IVF_CENTROID_CACHE: dict[str, list] = {}


def _ivf_centroids(spark, sf_dir):
    """Deterministic IVF centroids for this corpus — cached per sf_dir
    like the query vector (16-row collect)."""
    if sf_dir not in _IVF_CENTROID_CACHE:
        _IVF_CENTROID_CACHE[sf_dir] = S.ivf_centroids(
            _read(spark, sf_dir, "embeddings"), "vec_id", "embedding"
        )
    return _IVF_CENTROID_CACHE[sf_dir]


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: the coarse-quantizer complement to the LSH tables.
    Cell assignments are STORED in the signature index (written once at
    ingest; at scale the table is partitioned by cell so the probe
    filter is partition pruning); the query scans only its top-nprobe
    cells and brute-forces cosine within them. Centroids are a
    deterministic md5-ranked spread sample, so the DuckDB oracle
    derives the identical cells, probes, and result set."""
    sigs = _index_tables(spark, sf_dir)["embedding_sigs"]
    return S.ann_ivf_topk(
        sigs,
        "vec_id",
        "embedding",
        _query_vec(spark, sf_dir),
        _ivf_centroids(spark, sf_dir),
    )


_IVF_DOT = (
    "list_sum(list_transform(range(1, len(c.cvec)+1),"
    " i -> CAST({v}[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE)))"
    " / sqrt(greatest(list_sum(list_transform(range(1, len(c.cvec)+1),"
    " i -> CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))),"
    " CAST(1e-12 AS DOUBLE)))"
)

ORACLE_ANN_IVF_TOPK = f"""
WITH cent AS (
  SELECT cvec, cnum FROM (
    SELECT embedding AS cvec,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cnum
    FROM embeddings)
  WHERE cnum <= {S.IVF_CELLS}
),
q AS (SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
cd AS (SELECT c.cnum, {_IVF_DOT.format(v='q.qv')} AS d FROM cent c, q),
probes AS (SELECT cnum FROM cd ORDER BY d DESC, cnum LIMIT {S.IVF_NPROBE}),
rowd AS (
  SELECT e.vec_id, c.cnum, {_IVF_DOT.format(v='e.embedding')} AS d
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cnum AS cell FROM (
    SELECT vec_id, cnum,
           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cnum) AS rn
    FROM rowd)
  WHERE rn = 1
),
scored AS (
  SELECT vec_id,
       CAST(floor(
         list_sum(list_transform(range(1, len(embedding)+1),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / greatest(sqrt(list_sum(list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, len(q.qv)+1),     i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))), CAST(1e-12 AS DOUBLE))
         * 10000) AS BIGINT) AS score_bp
  FROM embeddings, q
)
SELECT s.vec_id, s.score_bp
FROM scored s JOIN assign a ON s.vec_id = a.vec_id
WHERE a.cell IN (SELECT cnum FROM probes)
ORDER BY s.score_bp DESC, s.vec_id LIMIT 10
"""


def q_ann_lsh_topk_stored(spark, sf_dir):
    """The stored-index twin of ann_lsh_topk: signatures read from the
    materialized (vec_id, embedding, sig0..sig3) table, probes are four
    integer IN-lists — plans in milliseconds where the in-scan form
    pays ~1.4 s of Catalyst analysis per query, and at 100 TB the
    IN-lists prune a bucketed index instead of rescanning the corpus.
    Identical result set to ann_lsh_topk (same planes, same probes)."""
    sigs = _index_tables(spark, sf_dir)["embedding_sigs"]
    return S.ann_topk_from_signatures(
        sigs,
        "vec_id",
        "embedding",
        _query_vec(spark, sf_dir),
        n_planes=ANN_PLANES,
        n_tables=ANN_TABLES,
        seed=ANN_SEED,
    )


def q_stemmed_terms(spark, sf_dir):
    """T10 pluggable stemmer hook, applied over the token stream."""
    return (
        _docs(spark, sf_dir)
        .select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .select(T.s_stem(F.col("token")).alias("stem"))
        .groupBy("stem")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("stem"))
        .limit(40)
    )


ORACLE_STEMMED_TERMS = f"""
SELECT {T.S_STEM_SQL.format(t='token')} AS stem, count(*) AS cnt
FROM (SELECT unnest({TOKS_SQL}) AS token FROM documents)
GROUP BY 1 ORDER BY cnt DESC, stem LIMIT 40
"""


def q_bpe_token_count(spark, sf_dir):
    """Sub-word-ish token estimate for packing/billing at corpus scale."""
    return _docs(spark, sf_dir).select(
        "doc_id", T.bpe_ish_token_count(F.col("text")).alias("n_bpe")
    )


ORACLE_BPE_TOKEN_COUNT = """
SELECT doc_id,
       len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]')) AS n_bpe
FROM documents
"""


# embeddings table is 64-dim; planes are seeded literals shared verbatim
# between the Spark expression and the DuckDB oracle (similarity.py
# random_planes docstring)
_EMB_DIMS = 64
_EMB_PLANES = S.random_planes(_EMB_DIMS, 8, seed=42)
_EMB_MAX_BUCKET = 1000


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs within capped random-hyperplane
    buckets (the scale path: anisotropy-proof planes + hot-bucket
    cap-and-drop, mirroring minhash_candidates). The signature comes
    from the STORED index table (sig0 = table-0 planes, seed 42 — the
    same literals the oracle embeds): no plane fold in the query plan."""
    sigs = _index_tables(spark, sf_dir)["embedding_sigs"]
    return S.embedding_near_dup_pairs(
        sigs,
        "vec_id",
        "embedding",
        min_score_bp=3000,
        max_bucket=_EMB_MAX_BUCKET,
        sig_col="sig0",
    )


def _build_dedup_embedding_oracle(planes=_EMB_PLANES, max_bucket=_EMB_MAX_BUCKET):
    def plane_dot(plane):
        lit = "[" + ", ".join(repr(w) for w in plane) + "]"
        return (
            f"list_sum(list_transform(range(1, {len(plane)+1}),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]))"
        )

    sig = " + ".join(
        f"CASE WHEN {plane_dot(plane)} >= 0 THEN {2**p} ELSE 0 END"
        for p, plane in enumerate(planes)
    )
    dot = (
        "list_sum(list_transform(range(1, len(l.vec)+1),"
        " i -> CAST(l.vec[i] AS DOUBLE) * CAST(r.vec[i] AS DOUBLE)))"
    )
    nrm = lambda side: (
        f"sqrt(list_sum(list_transform(range(1, len({side}.vec)+1),"
        f" i -> CAST({side}.vec[i] AS DOUBLE) * CAST({side}.vec[i] AS DOUBLE))))"
    )
    return f"""
WITH bucketed AS (
  SELECT vec_id AS id, embedding AS vec, ({sig}) AS sig FROM embeddings
),
keep AS (
  SELECT sig FROM bucketed GROUP BY sig HAVING count(*) <= {max_bucket}
),
b AS (SELECT bucketed.* FROM bucketed JOIN keep USING (sig))
SELECT l.id AS a, r.id AS b,
       CAST(floor({dot} / greatest({nrm('l')} * {nrm('r')}, CAST(1e-12 AS DOUBLE)) * 10000) AS BIGINT) AS score_bp
FROM b l JOIN b r
  ON l.sig = r.sig AND l.id < r.id
WHERE CAST(floor({dot} / greatest({nrm('l')} * {nrm('r')}, CAST(1e-12 AS DOUBLE)) * 10000) AS BIGINT) >= 3000
"""


ORACLE_DEDUP_EMBEDDING = _build_dedup_embedding_oracle()


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: synthesize binary media from document text,
    run the Arrow-batched (stub) feature extractor."""
    from libswish3_spark.functions.media import extract_media_features

    media = ensure_parallelism(_docs(spark, sf_dir)).select(
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
    )
    feats = extract_media_features(media)
    return feats.select(
        "media_ref",
        F.size("feature").alias("dim"),
        F.floor(F.element_at("feature", 1) * 10000).cast("long").alias("f0_bp"),
    )


# The stub decoder is deterministic md5 math (functions/media.py:64-71:
# feature[0] = first md5 byte / 255), so DuckDB can reproduce it exactly.
# floor((b0/255)*10000) is float32-safe: the only exact-integer products
# (b0 ∈ {0,51,102,153,204,255}) round at-or-above the integer in float32.
_MD5_HEXVAL = "(instr('0123456789abcdef', substr(md5(text), {i}, 1)) - 1)"
ORACLE_MEDIA_FEATURES = f"""
SELECT 'img://' || doc_id AS media_ref,
       16 AS dim,
       CAST(floor(({_MD5_HEXVAL.format(i=1)} * 16 + {_MD5_HEXVAL.format(i=2)})
                  * 10000.0 / 255) AS BIGINT) AS f0_bp
FROM documents
"""


# Non-ASCII corpus under the driver's hash check: the sf documents are
# ASCII, so UTF-8 tokenizer behavior otherwise rests only on the pytest
# goldens (001-wordcount.t:69-79 documents the locale-drift risk this
# guards against). The phrase exercises Latin-1 accents, combining-free
# Cyrillic and Greek, and case folding; its token sequence under
# reference semantics (tokenizer.c UTF-8 path + lowercasing) is fixed
# and baked into the oracle as literals.
_UTF8_PHRASE = "Grüße Привет Ωμέγα naïve CAFÉ"
_UTF8_PHRASE_NTOKENS = 5  # grüße привет ωμέγα naïve café


def q_extract_utf8(spark, sf_dir):
    """Engine TXT path over text with a non-ASCII tail: word counts,
    the raw metaname buffer bytes (md5), and two lowercased Unicode
    token values all under the driver oracle."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.col("text"), F.lit(" " + _UTF8_PHRASE)).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
        F.lit("TXT").alias("parser"),
    )
    out = extract(docs)
    words = F.filter("spans", lambda s: s["kind"] == F.lit("word"))
    # spans end with [.., ωμέγα, naïve, café, <title=doc_id>]
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("nwords"),
        F.md5(F.element_at("metanames", "swishdefault")).alias("body_fp"),
        F.element_at(words, -2)["text"].alias("tok_accent"),
        F.element_at(words, -4)["text"].alias("tok_greek"),
    )


ORACLE_EXTRACT_UTF8 = f"""
SELECT doc_id,
       len({TOKS_SQL}) + {_UTF8_PHRASE_NTOKENS} + 1 AS nwords,
       md5(text || ' {_UTF8_PHRASE}') AS body_fp,
       'café' AS tok_accent,
       'ωμέγα' AS tok_greek
FROM documents
"""


def q_media_ppm_features(spark, sf_dir):
    """Real pixel decode under the driver oracle: deterministic binary
    PPMs synthesized from doc_ids (functions/media.py synthesize_ppm),
    decoded by the pure-stdlib real_decode, channel means checked
    against the oracle's closed-form arithmetic."""
    from libswish3_spark.functions.media import (
        extract_media_features,
        real_decode,
        synthesize_ppm,
    )

    media = synthesize_ppm(ensure_parallelism(_docs(spark, sf_dir).select("doc_id")))
    feats = extract_media_features(media, decoder=real_decode)
    bp = lambda i: F.floor(
        F.element_at("feature", i).cast("double") * 10000
    ).cast("long")
    return feats.select(
        "media_ref",
        F.element_at("feature", 1).cast("int").alias("width"),
        F.element_at("feature", 2).cast("int").alias("height"),
        bp(3).alias("mean_r_bp"),
        bp(4).alias("mean_g_bp"),
        bp(5).alias("mean_b_bp"),
        bp(16).alias("lum_bp"),
    )


def _build_media_ppm_oracle():
    # pixel byte j = (doc_id*7 + j*13) % 256; channel c takes j = 3i+c.
    # The kernel stores features as float32, so the oracle round-trips
    # its exact double through REAL before the basis-point floor.
    chan = lambda c: (
        f"CAST(list_sum(list_transform(range(0, w*h),"
        f" i -> (doc_id*7 + (3*i + {c})*13) % 256)) AS DOUBLE) / (w*h*255)"
    )
    bp = lambda expr: (
        f"CAST(floor(CAST(CAST(({expr}) AS REAL) AS DOUBLE) * 10000) AS BIGINT)"
    )
    lum = (
        "CAST(list_sum(list_transform(range(0, w*h*3),"
        " j -> (doc_id*7 + j*13) % 256)) AS DOUBLE) / (3*w*h*255)"
    )
    return f"""
WITH d AS (
  SELECT doc_id, 2 + doc_id % 4 AS w, 1 + doc_id % 3 AS h FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS media_ref,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       {bp(chan(0))} AS mean_r_bp,
       {bp(chan(1))} AS mean_g_bp,
       {bp(chan(2))} AS mean_b_bp,
       {bp(lum)} AS lum_bp
FROM d
"""


ORACLE_MEDIA_PPM_FEATURES = _build_media_ppm_oracle()


def q_media_wav_features(spark, sf_dir):
    """Real AUDIO decode under the driver oracle: deterministic 8-bit
    mono PCM WAVs synthesized from doc_ids (functions/media.py
    synthesize_wav), RIFF-parsed by the pure-stdlib audio_features,
    amplitude statistics checked against closed-form arithmetic."""
    from libswish3_spark.functions.media import (
        extract_media_features,
        real_decode,
        synthesize_wav,
    )

    media = synthesize_wav(ensure_parallelism(_docs(spark, sf_dir).select("doc_id")))
    feats = extract_media_features(media, decoder=real_decode)
    bp = lambda i: F.floor(
        F.element_at("feature", i).cast("double") * 10000
    ).cast("long")
    return feats.select(
        "media_ref",
        F.element_at("feature", 1).cast("int").alias("sample_rate"),
        F.element_at("feature", 3).cast("int").alias("frames"),
        F.floor(F.element_at("feature", 4).cast("double")).cast("long").alias("dur_ms"),
        bp(5).alias("mean_abs_bp"),
        bp(6).alias("peak_bp"),
        bp(7).alias("rms_bp"),
    )


def _build_media_wav_oracle():
    # sample byte j = (doc_id*7 + j*13) % 256, n = 64 + doc_id%32,
    # amplitude = (s - 128)/128; integer sums are exact on both sides,
    # then the kernel's single double division / sqrt replays in SQL.
    # Features land as float32 → round-trip through REAL before floor.
    amp_list = "list_transform(range(0, n), j -> abs((doc_id*7 + j*13) % 256 - 128))"
    sq_list = (
        "list_transform(range(0, n),"
        " j -> ((doc_id*7 + j*13) % 256 - 128) * ((doc_id*7 + j*13) % 256 - 128))"
    )
    bp = lambda expr: (
        f"CAST(floor(CAST(CAST(({expr}) AS REAL) AS DOUBLE) * 10000) AS BIGINT)"
    )
    return f"""
WITH d AS (SELECT doc_id, 64 + doc_id % 32 AS n FROM documents)
SELECT 'wav://' || doc_id AS media_ref,
       8000 AS sample_rate,
       CAST(n AS INTEGER) AS frames,
       CAST(floor(CAST(CAST(n * 1000.0 / 8000 AS REAL) AS DOUBLE)) AS BIGINT) AS dur_ms,
       {bp(f"CAST(list_sum({amp_list}) AS DOUBLE) / (n * 128)")} AS mean_abs_bp,
       {bp(f"CAST(list_max({amp_list}) AS DOUBLE) / 128")} AS peak_bp,
       {bp(f"sqrt(CAST(list_sum({sq_list}) AS DOUBLE) / n) / 128")} AS rms_bp
FROM d
"""


ORACLE_MEDIA_WAV_FEATURES = _build_media_wav_oracle()


def q_media_video_features(spark, sf_dir):
    """Frame-SAMPLED video decode under the driver oracle: deterministic
    concatenated-PPM streams (functions/media.py synthesize_video,
    2..4 frames each), stride-2 sampling — every header parses, only
    sampled frames pay the pixel pass — sampled-luminance statistics
    checked against closed-form arithmetic."""
    from libswish3_spark.functions.media import (
        extract_media_features,
        real_decode,
        synthesize_video,
    )

    media = synthesize_video(ensure_parallelism(_docs(spark, sf_dir).select("doc_id")))
    feats = extract_media_features(media, decoder=real_decode)
    bp = lambda i: F.floor(
        F.element_at("feature", i).cast("double") * 10000
    ).cast("long")
    return feats.select(
        "media_ref",
        F.element_at("feature", 1).cast("int").alias("n_frames"),
        F.element_at("feature", 2).cast("int").alias("n_sampled"),
        F.element_at("feature", 3).cast("int").alias("width"),
        F.element_at("feature", 4).cast("int").alias("height"),
        bp(5).alias("lum_mean_bp"),
        bp(6).alias("lum_first_bp"),
        bp(7).alias("lum_last_bp"),
        bp(8).alias("lum_delta_bp"),
    )


def _build_media_video_oracle():
    # frame f pixel byte j = (doc_id*7 + f*11 + j*13) % 256; stride 2
    # samples frames {0} (nf=2) or {0, 2} (nf=3,4). The kernel sums the
    # two sampled doubles then divides — replayed literally here.
    lum = lambda f: (
        f"CAST(list_sum(list_transform(range(0, w*h*3),"
        f" j -> (doc_id*7 + {f}*11 + j*13) % 256)) AS DOUBLE) / (3*w*h*255)"
    )
    bp = lambda expr: (
        f"CAST(floor(CAST(CAST(({expr}) AS REAL) AS DOUBLE) * 10000) AS BIGINT)"
    )
    return f"""
WITH d AS (
  SELECT doc_id, 2 + doc_id % 4 AS w, 1 + doc_id % 3 AS h,
         2 + doc_id % 3 AS nf
  FROM documents
)
SELECT 'vid://' || doc_id AS media_ref,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(CASE WHEN nf >= 3 THEN 2 ELSE 1 END AS INTEGER) AS n_sampled,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       {bp(f"CASE WHEN nf >= 3 THEN (({lum(0)}) + ({lum(2)})) / 2 ELSE {lum(0)} END")} AS lum_mean_bp,
       {bp(lum(0))} AS lum_first_bp,
       {bp(f"CASE WHEN nf >= 3 THEN {lum(2)} ELSE {lum(0)} END")} AS lum_last_bp,
       {bp(f"CASE WHEN nf >= 3 THEN abs(({lum(2)}) - ({lum(0)})) ELSE 0 END")} AS lum_delta_bp
FROM d
"""


ORACLE_MEDIA_VIDEO_FEATURES = _build_media_video_oracle()


# --------------------------------------------------------------------------
# Merged registry entries
#
# An earlier correctness harness ran at most 50 registry entries, so
# the entries past the 50th in registry order went unchecked. Rather
# than leave those queries untested, related
# queries are merged into single union-schema entries below: every
# underlying code path still executes and is still value-hash-checked
# against its oracle, in one driver row. The un-merged q_* functions
# remain above — pytest and bench compose them directly.
#
# Union-schema rules (driver compare sorts columns by name, stringifies
# values, hashes the sorted multiset): no NULLs in numeric or timestamp
# columns (pandas NaN/NaT stringification is engine-dependent) — absent
# values use typed sentinels (-1 for counts, '' for strings) computed
# identically on both sides.
# --------------------------------------------------------------------------


def q_tokenize_count_merged(spark, sf_dir):
    """T9 per-doc token counts + A4 corpus totals (word_totals) in one
    entry: per-doc rows plus three summary rows keyed '__files__' /
    '__total_words__' / '__vocab__' (reference: swish3 word/file
    counters; vocab = exact distinct-token count, the corpus statistic
    the rarity scorer's frequency table is sized by)."""
    docs = ensure_parallelism(_docs(spark, sf_dir))
    per = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    tot = docs.agg(
        F.count("*").cast("long").alias("files"),
        F.sum(T.token_count(F.col("text"))).cast("long").alias("total_words"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("__files__"), F.col("files"),
                F.lit("__total_words__"), F.col("total_words"),
            )
        ).alias("doc_id", "n_tokens")
    )
    vocab = (
        docs.select(F.explode_outer(T.tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok").isNotNull())
        .agg(F.count_distinct("tok").cast("long").alias("n_tokens"))
        .select(F.lit("__vocab__").alias("doc_id"), "n_tokens")
    )
    return per.unionByName(tot).unionByName(vocab)


ORACLE_TOKENIZE_COUNT_MERGED = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id, len({TOKS_SQL}) AS n_tokens FROM documents
UNION ALL SELECT '__files__', count(*) FROM documents
UNION ALL SELECT '__total_words__', CAST(sum(len({TOKS_SQL})) AS BIGINT) FROM documents
UNION ALL SELECT '__vocab__', CAST(count(DISTINCT tok) AS BIGINT)
FROM (SELECT unnest({TOKS_SQL}) AS tok FROM documents)
"""


def q_media_features_merged(spark, sf_dir):
    """Multimodal plumbing, every modality, one tall entry: the stub
    (md5-deterministic) feature extractor, the real stdlib PPM pixel
    decode, the real RIFF/WAVE PCM audio decode, and the frame-sampled
    concatenated-PPM video decode, unpivoted to
    (media_ref, fmt, feat, value)."""
    stub = q_media_features(spark, sf_dir).selectExpr(
        "media_ref",
        "'stub' AS fmt",
        "stack(2, 'dim', CAST(dim AS BIGINT), 'f0_bp', f0_bp) AS (feat, value)",
    )
    ppm = q_media_ppm_features(spark, sf_dir).selectExpr(
        "media_ref",
        "'ppm' AS fmt",
        "stack(6, 'width', CAST(width AS BIGINT), 'height', CAST(height AS BIGINT),"
        " 'mean_r_bp', mean_r_bp, 'mean_g_bp', mean_g_bp, 'mean_b_bp', mean_b_bp,"
        " 'lum_bp', lum_bp) AS (feat, value)",
    )
    wav = q_media_wav_features(spark, sf_dir).selectExpr(
        "media_ref",
        "'wav' AS fmt",
        "stack(6, 'sample_rate', CAST(sample_rate AS BIGINT),"
        " 'frames', CAST(frames AS BIGINT), 'dur_ms', dur_ms,"
        " 'mean_abs_bp', mean_abs_bp, 'peak_bp', peak_bp,"
        " 'rms_bp', rms_bp) AS (feat, value)",
    )
    vid = q_media_video_features(spark, sf_dir).selectExpr(
        "media_ref",
        "'vid' AS fmt",
        "stack(8, 'n_frames', CAST(n_frames AS BIGINT),"
        " 'n_sampled', CAST(n_sampled AS BIGINT),"
        " 'width', CAST(width AS BIGINT), 'height', CAST(height AS BIGINT),"
        " 'lum_mean_bp', lum_mean_bp, 'lum_first_bp', lum_first_bp,"
        " 'lum_last_bp', lum_last_bp, 'lum_delta_bp', lum_delta_bp)"
        " AS (feat, value)",
    )
    return stub.unionByName(ppm).unionByName(wav).unionByName(vid)


ORACLE_MEDIA_FEATURES_MERGED = f"""
WITH stub AS ({ORACLE_MEDIA_FEATURES}),
     ppm AS ({ORACLE_MEDIA_PPM_FEATURES}),
     wav AS ({ORACLE_MEDIA_WAV_FEATURES}),
     vid AS ({ORACLE_MEDIA_VIDEO_FEATURES})
SELECT media_ref, 'stub' AS fmt, 'dim' AS feat, CAST(dim AS BIGINT) AS value FROM stub
UNION ALL SELECT media_ref, 'stub', 'f0_bp', f0_bp FROM stub
UNION ALL SELECT media_ref, 'ppm', 'width', CAST(width AS BIGINT) FROM ppm
UNION ALL SELECT media_ref, 'ppm', 'height', CAST(height AS BIGINT) FROM ppm
UNION ALL SELECT media_ref, 'ppm', 'mean_r_bp', mean_r_bp FROM ppm
UNION ALL SELECT media_ref, 'ppm', 'mean_g_bp', mean_g_bp FROM ppm
UNION ALL SELECT media_ref, 'ppm', 'mean_b_bp', mean_b_bp FROM ppm
UNION ALL SELECT media_ref, 'ppm', 'lum_bp', lum_bp FROM ppm
UNION ALL SELECT media_ref, 'wav', 'sample_rate', CAST(sample_rate AS BIGINT) FROM wav
UNION ALL SELECT media_ref, 'wav', 'frames', CAST(frames AS BIGINT) FROM wav
UNION ALL SELECT media_ref, 'wav', 'dur_ms', dur_ms FROM wav
UNION ALL SELECT media_ref, 'wav', 'mean_abs_bp', mean_abs_bp FROM wav
UNION ALL SELECT media_ref, 'wav', 'peak_bp', peak_bp FROM wav
UNION ALL SELECT media_ref, 'wav', 'rms_bp', rms_bp FROM wav
UNION ALL SELECT media_ref, 'vid', 'n_frames', CAST(n_frames AS BIGINT) FROM vid
UNION ALL SELECT media_ref, 'vid', 'n_sampled', CAST(n_sampled AS BIGINT) FROM vid
UNION ALL SELECT media_ref, 'vid', 'width', CAST(width AS BIGINT) FROM vid
UNION ALL SELECT media_ref, 'vid', 'height', CAST(height AS BIGINT) FROM vid
UNION ALL SELECT media_ref, 'vid', 'lum_mean_bp', lum_mean_bp FROM vid
UNION ALL SELECT media_ref, 'vid', 'lum_first_bp', lum_first_bp FROM vid
UNION ALL SELECT media_ref, 'vid', 'lum_last_bp', lum_last_bp FROM vid
UNION ALL SELECT media_ref, 'vid', 'lum_delta_bp', lum_delta_bp FROM vid
"""


def q_dedup_embedding_merged(spark, sf_dir):
    """Embedding near-dup pairs, their keeper clusters, AND the
    SemDeDup verdicts in one entry: 'pair' rows are the capped-bucket
    cosine pairs from the stored signature index; 'cluster' rows are
    the same pairs resolved to (doc_id, keeper) by the shared
    connected-components operator; 'semdedup' rows are the per-vector
    semantic-dedup verdicts over the stored IVF cells
    (similarity.semantic_dedup_cells — a = vec_id, b = count of
    dominating smaller-id near-twins in the cell, score_bp = strongest
    such cosine or −1 when the vector is a kept representative).

    The pair self-join materializes ONCE (lazy localCheckpoint): both
    the pair rows and the resolve branch read the checkpoint instead of
    re-running the bucket join (measured 4.2 s → ~2 s at sf0.1)."""
    pairs = q_dedup_embedding(spark, sf_dir).localCheckpoint(eager=False)
    pair_rows = pairs.select(
        F.lit("pair").alias("section"),
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("score_bp").cast("long").alias("score_bp"),
    )
    clus = D.resolve_clusters(pairs.select("a", "b")).select(
        F.lit("cluster").alias("section"),
        F.col("doc_id").cast("long").alias("a"),
        F.col("keeper").cast("long").alias("b"),
        F.lit(-1).cast("long").alias("score_bp"),
    )
    sigs = _index_tables(spark, sf_dir)["embedding_sigs"]
    sem = S.semantic_dedup_cells(sigs).select(
        F.lit("semdedup").alias("section"),
        F.col("vec_id").cast("long").alias("a"),
        F.col("n_dom").alias("b"),
        F.col("max_bp").alias("score_bp"),
    )
    return pair_rows.unionByName(clus).unionByName(sem)


_SEMDEDUP_PAIR_COS = (
    "list_sum(list_transform(range(1, len(x.embedding)+1),"
    " i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))"
    " / greatest(sqrt(list_sum(list_transform(range(1, len(x.embedding)+1),"
    " i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(range(1, len(y.embedding)+1),"
    " i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))), CAST(1e-12 AS DOUBLE))"
)

ORACLE_DEDUP_EMBEDDING_MERGED = f"""
WITH RECURSIVE pairs AS ({_build_dedup_embedding_oracle()}),
edges AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
reach(id, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
cent AS (
  SELECT cvec, cnum FROM (
    SELECT embedding AS cvec,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cnum
    FROM embeddings)
  WHERE cnum <= {S.IVF_CELLS}
),
rowd AS (
  SELECT e.vec_id, e.embedding, c.cnum, {_IVF_DOT.format(v='e.embedding')} AS d
  FROM embeddings e CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, embedding, cnum AS cell FROM (
    SELECT vec_id, embedding, cnum,
           row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cnum) AS rn
    FROM rowd)
  WHERE rn = 1
),
spairs AS (
  SELECT y.vec_id AS v,
         CAST(floor({_SEMDEDUP_PAIR_COS} * 10000) AS BIGINT) AS bp
  FROM assign x JOIN assign y ON x.cell = y.cell AND x.vec_id < y.vec_id
),
sdom AS (
  SELECT v, count(*) AS n_dom, max(bp) AS max_bp
  FROM spairs WHERE bp >= {S.SEMDEDUP_BP} GROUP BY v
)
SELECT 'pair' AS section, a, b, score_bp FROM pairs
UNION ALL
SELECT 'cluster', id, min(r), CAST(-1 AS BIGINT) FROM reach GROUP BY id
UNION ALL
SELECT 'semdedup', e.vec_id,
       CAST(coalesce(d.n_dom, 0) AS BIGINT),
       CAST(coalesce(d.max_bp, -1) AS BIGINT)
FROM embeddings e LEFT JOIN sdom d ON e.vec_id = d.v
"""


def q_ann_lsh_topk_merged(spark, sf_dir):
    """Both LSH ANN execution paths under one oracle row: the in-scan
    signature fold and the stored-index probe (identical result sets by
    construction — same planes, same Hamming≤2 multi-probe), tagged by
    variant. At scale only 'stored' runs per-query; 'inscan' is the
    index-free fallback."""
    inscan = q_ann_lsh_topk(spark, sf_dir).select(
        F.lit("inscan").alias("variant"), "vec_id", "score_bp"
    )
    stored = q_ann_lsh_topk_stored(spark, sf_dir).select(
        F.lit("stored").alias("variant"), "vec_id", "score_bp"
    )
    return inscan.unionByName(stored)


ORACLE_ANN_LSH_TOPK_MERGED = f"""
WITH r AS ({ORACLE_ANN_LSH_TOPK})
SELECT 'inscan' AS variant, vec_id, score_bp FROM r
UNION ALL
SELECT 'stored', vec_id, score_bp FROM r
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {
    # (spark_fn, oracle_sql | None)
    "extract_html": (q_extract_html, ORACLE_EXTRACT_HTML),
    "extract_media": (q_extract_media, ORACLE_EXTRACT_MEDIA),
    "extract_txt": (q_extract_txt, ORACLE_EXTRACT_TXT),
    "extract_utf8": (q_extract_utf8, ORACLE_EXTRACT_UTF8),
    "extract_txt_segmented": (q_extract_txt_segmented, ORACLE_EXTRACT_TXT_SEGMENTED),
    "extract_html_segmented": (q_extract_html_segmented, ORACLE_EXTRACT_HTML),
    "extract_xml_segmented": (q_extract_xml_segmented, ORACLE_EXTRACT_HTML),
    "index_postings": (q_index_postings, ORACLE_INDEX_POSTINGS),
    "properties_typed": (q_properties_typed, ORACLE_PROPERTIES_TYPED),
    "postings_offsets": (q_postings_offsets, ORACLE_POSTINGS_OFFSETS),
    "sample_mix": (q_sample_mix, ORACLE_SAMPLE_MIX),
    "pack_sequences": (q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "quality_topk": (q_quality_topk, ORACLE_QUALITY_TOPK),
    "reconcile_actions": (q_reconcile_actions, ORACLE_RECONCILE_ACTIONS),
    "tfidf_topterms": (q_tfidf_topterms, ORACLE_TFIDF_TOPTERMS),
    "contamination": (q_contamination, ORACLE_CONTAMINATION),
    "tokenize_count": (q_tokenize_count_merged, ORACLE_TOKENIZE_COUNT_MERGED),
    "term_frequencies": (q_term_frequencies, ORACLE_TERM_FREQUENCIES),
    "named_buffer_concat": (q_named_buffer_concat, ORACLE_NAMED_BUFFER_CONCAT),
    "parser_dispatch": (q_parser_dispatch, ORACLE_PARSER_DISPATCH),
    "doc_quality": (q_doc_quality, ORACLE_DOC_QUALITY),
    "lang_id": (q_lang_id, ORACLE_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, ORACLE_DOC_FINGERPRINT),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "dedup_keep_first": (q_dedup_keep_first, ORACLE_DEDUP_KEEP_FIRST),
    "xinclude_merge": (q_xinclude_merge, ORACLE_XINCLUDE_MERGE),
    "dedup_paragraphs": (q_dedup_paragraphs, ORACLE_DEDUP_PARAGRAPHS),
    "quality_filter": (q_quality_filter, ORACLE_QUALITY_FILTER),
    "pii_redact": (q_pii_redact, ORACLE_PII_REDACT),
    "curation_pipeline": (q_curation_pipeline, ORACLE_CURATION_PIPELINE),
    "minhash_bucket_index": (q_minhash_bucket_index, ORACLE_MINHASH_BUCKET_INDEX),
    "dedup_drop_metrics": (q_dedup_drop_metrics, ORACLE_DEDUP_DROP_METRICS),
    "neardup_incremental": (q_neardup_incremental, ORACLE_NEARDUP_INCREMENTAL),
    "dedup_ngram_spans": (q_dedup_ngram_spans, ORACLE_DEDUP_NGRAM_SPANS),
    "doc_embedding_hash": (q_doc_embedding_hash, ORACLE_DOC_EMBEDDING_HASH),
    "corpus_rarity": (q_corpus_rarity, ORACLE_CORPUS_RARITY),
    "chunk_windows": (q_chunk_windows, ORACLE_CHUNK_WINDOWS),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, ORACLE_DEDUP_MINHASH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, ORACLE_DEDUP_NGRAM_JACCARD),
    "dedup_resolved": (q_dedup_resolved, ORACLE_DEDUP_RESOLVED),
    "dedup_apply": (q_dedup_apply, ORACLE_DEDUP_APPLY),
    "dedup_simhash": (q_dedup_simhash, ORACLE_DEDUP_SIMHASH),
    "stemmed_terms": (q_stemmed_terms, ORACLE_STEMMED_TERMS),
    "bpe_token_count": (q_bpe_token_count, ORACLE_BPE_TOKEN_COUNT),
    "dedup_embedding": (q_dedup_embedding_merged, ORACLE_DEDUP_EMBEDDING_MERGED),
    "ann_cosine_topk": (q_ann_cosine_topk, ORACLE_ANN_COSINE_TOPK),
    "ann_lsh_topk": (q_ann_lsh_topk_merged, ORACLE_ANN_LSH_TOPK_MERGED),
    "ann_ivf_topk": (q_ann_ivf_topk, ORACLE_ANN_IVF_TOPK),
    "media_features": (q_media_features_merged, ORACLE_MEDIA_FEATURES_MERGED),
}
