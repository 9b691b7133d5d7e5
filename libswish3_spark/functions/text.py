"""Text analysis: tokenization, language ID, quality scoring,
fingerprinting — all as JVM-side column expressions (T9 analogues that
never leave whole-stage codegen).

The ASCII token pattern matches the engine's tokenizer on ASCII corpora
(see ``tokenizer.ASCII_TOKEN_PATTERN_SQL``) and is deliberately
expressible in both Spark SQL (Java regex) and DuckDB (RE2) so every
operator here has an independent oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# single source of truth: the engine tokenizer's SQL-parity pattern
from libswish3_spark.tokenizer import ASCII_TOKEN_PATTERN_SQL as TOKEN_PATTERN

# tiny marker-word sets for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "es": ("el", "la", "y", "los"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")


def tokens(col) -> Column:
    """Lowercased ASCII token array (vectorized, JVM-side)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_PATTERN), 0)


def token_count(col) -> Column:
    return F.size(tokens(col))


def _isin_filter(words: tuple[str, ...]):
    # single-arg lambda factory: Spark higher-order fns dispatch on arity,
    # so default-arg closures would be mis-called with (element, index)
    return lambda t: t.isin(*words)


def stopword_count(tok_col) -> Column:
    return F.size(F.filter(tok_col, _isin_filter(STOPWORDS)))


def lang_scores(tok_col) -> dict[str, Column]:
    return {
        lang: F.size(F.filter(tok_col, _isin_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def quality_features(text_col) -> dict[str, Column]:
    """Length/punct/stopword features for quality filtering.

    Ratios are returned as integer basis points (×10000) so results are
    float-free and hash-stable across engines.
    """
    tok = tokens(text_col)
    n_tok = F.size(tok)
    n_char = F.length(text_col)
    n_alpha = F.length(F.regexp_replace(text_col, "[^A-Za-z]", ""))
    n_stop = stopword_count(tok)
    return {
        "n_chars": n_char.cast("long"),
        "n_tokens": n_tok.cast("long"),
        # floor() in both engines: CAST(double AS BIGINT) rounds in DuckDB
        # but truncates in Spark — floor is the portable choice
        "alpha_bp": F.when(n_char > 0, F.floor(n_alpha * 10000 / n_char).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("alpha_bp"),
        "stopword_bp": F.when(n_tok > 0, F.floor(n_stop * 10000 / n_tok).cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("stopword_bp"),
    }


def fingerprint(text_col) -> Column:
    """Deterministic document fingerprint (md5 of lowercased text)."""
    return F.md5(F.lower(text_col))


def s_stem(tok) -> Column:
    """Harman S-stemmer — the pluggable ``analyzer->stemmer`` hook
    (reference: libswish3.h:411-412; default none, consumers may set).

    Rules: -ies→-y (unless -eies/-aies), -es→-e drop s (unless
    -aes/-ees/-oes), -s dropped (unless -us/-ss). Pure CASE/regexp —
    identical in Spark and DuckDB, so stemmed operators stay
    oracle-checkable.
    """
    return (
        F.when(
            tok.rlike("ies$") & ~tok.rlike("(eies|aies)$"),
            F.concat(tok.substr(F.lit(1), F.length(tok) - 3), F.lit("y")),
        )
        .when(
            tok.rlike("es$") & ~tok.rlike("(aes|ees|oes)$"),
            tok.substr(F.lit(1), F.length(tok) - 1),
        )
        .when(
            tok.rlike("s$") & ~tok.rlike("(us|ss)$"),
            tok.substr(F.lit(1), F.length(tok) - 1),
        )
        .otherwise(tok)
    )


S_STEM_SQL = (
    "CASE WHEN regexp_matches({t}, 'ies$') AND NOT regexp_matches({t}, '(eies|aies)$')"
    " THEN substr({t}, 1, length({t}) - 3) || 'y'"
    " WHEN regexp_matches({t}, 'es$') AND NOT regexp_matches({t}, '(aes|ees|oes)$')"
    " THEN substr({t}, 1, length({t}) - 1)"
    " WHEN regexp_matches({t}, 's$') AND NOT regexp_matches({t}, '(us|ss)$')"
    " THEN substr({t}, 1, length({t}) - 1)"
    " ELSE {t} END"
)


def bpe_ish_token_count(text_col) -> Column:
    """Sub-word-ish token estimate: words + digit runs + punct islands.

    A cheap proxy for BPE token counting (billing/packing estimates at
    corpus scale) that stays in codegen.
    """
    return F.size(
        F.regexp_extract_all(
            F.lower(text_col), F.lit("[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]"), 0
        )
    )


# Gopher-style document quality rules (Rae et al. 2021, public): word
# count bounds, mean word length band, symbol density, and a minimal
# stopword-presence requirement. All JVM column expressions; ratios are
# basis-point bigints for engine-portable hashing.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")


def gopher_rules(text_col) -> dict:
    """Rule columns: each True means the document PASSES that rule."""
    toks = tokens(text_col)
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mean_len_bp = F.when(n > 0, F.floor(total_len * 10000 / n)).otherwise(F.lit(0))
    hashes = F.length(text_col) - F.length(F.replace(text_col, F.lit("#"), F.lit("")))
    ellipsis = F.length(text_col) - F.length(
        F.replace(text_col, F.lit("..."), F.lit(""))
    )
    symbol_bp = F.when(
        F.length(text_col) > 0,
        F.floor((hashes + ellipsis) * 10000 / F.length(text_col)),
    ).otherwise(F.lit(0))
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))
    )
    return {
        "word_count_ok": (n >= 50) & (n <= 100000),
        "mean_word_len_ok": (mean_len_bp >= 30000) & (mean_len_bp <= 100000),
        "symbol_ratio_ok": symbol_bp <= 1000,
        "stopwords_ok": stop_hits >= 2,
        "n_words": n,
        "mean_word_len_bp": mean_len_bp.cast("long"),
    }


def gopher_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """df + rule columns + ``kept`` (all rules pass). The downstream
    corpus filter is ``.where("kept")`` — kept as a column here so the
    rejection REASON survives for pipeline observability."""
    rules = gopher_rules(F.col(text_col))
    out = df
    for name, col in rules.items():
        out = out.withColumn(name, col)
    return out.withColumn(
        "kept",
        F.col("word_count_ok")
        & F.col("mean_word_len_ok")
        & F.col("symbol_ratio_ok")
        & F.col("stopwords_ok"),
    )


def repetition_bp(text_col, n: int = 3) -> Column:
    """Within-document repetition: fraction of word n-gram occurrences
    that are duplicates (the Gopher repetition-rule family), in basis
    points. 0 = no repeated n-grams; high values mark loops/spam."""
    from libswish3_spark.functions.dedup import bind

    def frac(toks):
        total = F.size(toks) - (n - 1)
        gram = F.transform(
            F.sequence(F.lit(0), total - 1),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        dup = total - F.size(F.array_distinct(gram))
        return F.when(total > 0, F.floor(dup * 10000 / total)).otherwise(F.lit(0))

    return bind(tokens(text_col), frac).cast("long")


# Deterministic PII redaction patterns: semantics identical in Java
# regex (Spark) and RE2 (DuckDB) — character classes, bounded
# quantifiers, no backrefs/lookaround.
def chunk_token_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 128,
    stride: int = 128,
) -> DataFrame:
    """Context-window chunking: each document's token stream becomes
    fixed-size training rows of ``chunk_tokens`` tokens starting every
    ``stride`` tokens (stride < chunk_tokens → overlapping windows, the
    standard LM data prep; the final window is short rather than
    padded — padding is the trainer's concern).

    Narrow per-row transform + explode, no shuffle: the chunk array is
    built within the row (guarded sequence — Spark's sequence(0,-1)
    DESCENDS for empty docs) and exploded with the outer+null-filter
    form (a plain explode's inferred size()>0 filter would sink the
    tokenize into the scan; see dedup.duplicated_ngram_starts). Token-less
    documents produce no training rows, by definition of the op.

    Returns (id, chunk_idx, n_tokens, chunk_text).
    """
    toks = tokens(F.col(text_col))

    def mk(ts):
        starts = F.when(
            F.size(ts) > 0,
            F.sequence(F.lit(0), F.size(ts) - 1, F.lit(stride)),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            starts,
            lambda s: F.struct(
                (s / stride).cast("long").alias("chunk_idx"),
                F.least(F.lit(chunk_tokens), F.size(ts) - s).cast("long").alias(
                    "n_tokens"
                ),
                F.array_join(F.slice(ts, s + 1, chunk_tokens), " ").alias(
                    "chunk_text"
                ),
            ),
        )

    bound = F.element_at(F.transform(F.array(toks), mk), 1)
    return (
        df.select(F.col(id_col).alias("id"), F.explode_outer(bound).alias("c"))
        .where(F.col("c").isNotNull())
        .select("id", "c.chunk_idx", "c.n_tokens", "c.chunk_text")
    )


def corpus_rarity_features(
    df: DataFrame, id_col: str, text_col: str, rare_max_count: int = 2
) -> DataFrame:
    """Corpus-statistics quality features — the no-model stand-in for
    LM-perplexity filtering: documents dominated by corpus-rare tokens
    are gibberish/OCR noise; documents of only ultra-common tokens are
    boilerplate. Two integer-exact signals per doc:

    * ``rare_bp``      — basis points of tokens whose corpus count is
      ≤ ``rare_max_count`` (the rare-token ratio);
    * ``surprisal_c``  — 100 × mean over tokens of the DIGIT COUNT of
      floor(total_tokens / count(token)) — an exact integer bucketing
      of log10 unigram surprisal (a float log would hash differently
      across engines; digit count is the same everywhere).

    Shape at scale: one explode over tokens, one corpus frequency
    aggregate (map-side combined), one lookup join, one per-doc
    aggregate. The frequency table is NEVER broadcast: at web scale the
    distinct-token count (URLs, hashes, code, OCR junk) runs to
    billions of keys, far past any executor's broadcast budget — the
    lookup is a SHUFFLED hash join instead (hinted: the default
    sort-merge would sort the skewed probe side), where the stopword
    hot keys sit on the probe side and stream through the per-partition
    hash table. The corpus-total scalar rides a broadcast of the
    1-ROW total aggregate on a constant key — bounded by construction,
    and it keeps the whole computation one lazy plan (no eager
    ``collect`` job per invocation).
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    # the join key is 0 on both sides but DERIVED from a column via
    # pmod(x, x): a literal key (or x*0, which SimplifyArithmetic also
    # folds) constant-folds the equi-condition away and degrades the
    # join to BroadcastNestedLoopJoin (banned plan shape). cnt >= 1
    # always; total = 0 on a token-less corpus, so the modulus is
    # clamped with greatest(total, 1) — pmod(0, 0) raises
    # REMAINDER_BY_ZERO under ANSI whenever AQE's empty-relation
    # propagation doesn't happen to erase the branch first (library
    # callers run in whatever session they provide). The left join
    # below zero-fills every doc either way.
    total_1row = freq.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("total")
    ).withColumn(
        "_k",
        F.pmod(F.col("total"), F.greatest(F.col("total"), F.lit(1))).cast("int"),
    )
    scored = (
        toks.join(freq.hint("shuffle_hash"), "tok")
        .withColumn("_k", F.pmod(F.col("cnt"), F.col("cnt")).cast("int"))
        .join(F.broadcast(total_1row), "_k")
        .select(
            "id",
            (F.col("cnt") <= rare_max_count).cast("int").alias("is_rare"),
            F.length(
                F.floor(F.col("total") / F.col("cnt")).cast("long").cast("string")
            ).alias("digits"),
        )
    )
    per_doc = scored.groupBy("id").agg(
        F.count("*").alias("n_tokens"),
        F.floor(F.sum("is_rare") * 10000 / F.count("*")).cast("long").alias("rare_bp"),
        F.floor(F.sum("digits") * 100 / F.count("*")).cast("long").alias("surprisal_c"),
    )
    # token-less docs still get a row (zeroes), per the no-silent-loss
    # contract shared across this layer
    return df.select(F.col(id_col).alias("id")).join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        F.coalesce("rare_bp", F.lit(0).cast("long")).alias("rare_bp"),
        F.coalesce("surprisal_c", F.lit(0).cast("long")).alias("surprisal_c"),
    )


EMAIL_PATTERN = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
LONG_NUMBER_PATTERN = "[0-9]{9,}"


def redact_pii(text_col) -> Column:
    """Email and long-digit-run redaction over lowercased text — the
    standard pre-training scrub pass. Order matters: emails first
    (their local parts may contain digit runs)."""
    scrubbed = F.regexp_replace(F.lower(text_col), EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(scrubbed, LONG_NUMBER_PATTERN, "<NUM>")
