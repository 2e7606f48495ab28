"""Text-analysis operators for a training-data pipeline: token counting,
quality scoring, language-ID heuristic, document fingerprint summary.

These extend the reference's per-node metadata (nbytes, nnodes — the columns
its queries filter on, /root/reference/lib/System/Directory/BigTrees/
HashLine.hs:120-185) with the per-document statistics a 100 TB web-text
curation job filters on.  Everything is built-in Catalyst expressions
(whole-stage codegen, no Python) except the BPE-ish token estimate, which is
a regexp count — also JVM-side.

Each function returns the input plus new columns, so they compose into one
projection stage with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from bigtrees_spark.session import spark_memo

# language marker stopwords: tiny deterministic lists (public knowledge),
# enough for a heuristic over the 5 langs the corpus carries
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "para"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
}


def _wstrip(col: Column) -> Column:
    """Strip LEADING/TRAILING whitespace of every class the word splitter
    treats as whitespace.  F.trim strips ASCII spaces only, so text padded by
    tabs/newlines would otherwise split into a phantom empty-string first or
    last 'word', inflating word counts and bigram stats (ADVICE r04).  The
    SQL oracles replicate this regex strip."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def _word_count(col: Column) -> Column:
    """Whitespace token count; empty/whitespace-only -> 0."""
    stripped = _wstrip(col)
    return F.when(stripped == "", F.lit(0)).otherwise(
        F.size(F.split(stripped, r"\s+"))
    )


# Column sets, memoized per text_col on the live context: every expression
# below is a pure function of the text column NAME (unresolved Columns bind
# by name at analysis time), and building doc_profile's set measured 295 ms
# of driver-side py4j per call.  Each stage applies its set with one
# withColumns() call.
@spark_memo
def _token_cols(text_col: str) -> dict:
    t = F.coalesce(F.col(text_col), F.lit(""))
    # BPE-ish: count [a-zA-Z]{1,4} pieces, digit runs, non-space symbols
    bpe = F.size(
        F.regexp_extract_all(t, F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^\sA-Za-z0-9]"), F.lit(0))
    )
    return {
        "n_words": _word_count(t),
        "n_tokens_bpe": F.when(_wstrip(t) == "", F.lit(0)).otherwise(bpe),
    }


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n_words (whitespace) and n_tokens_bpe (BPE-ish regex token estimate:
    word pieces of <=4 chars + digits + punctuation as separate tokens).
    For a REAL learned-BPE count see functions/bpe.py (sample-trained merges,
    Arrow UDF) — this regex estimate stays as the zero-Python fast path."""
    return df.withColumns(_token_cols(text_col))


@spark_memo
def _quality_cols(text_col: str) -> tuple:
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    n_words = _word_count(t)
    safe_words = F.greatest(n_words, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", ""))
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    uppers = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    stop_re = r"(?i)\b(?:" + "|".join(LANG_MARKERS["en"]) + r")\b"
    stops = F.size(F.regexp_extract_all(t, F.lit(stop_re), F.lit(0)))
    stats = {
        "n_chars": n_chars,
        "mean_word_len": n_chars.cast("double") / safe_words,
        "punct_ratio": punct.cast("double") / safe_chars,
        "digit_ratio": digits.cast("double") / safe_chars,
        "upper_ratio": uppers.cast("double") / safe_chars,
        "stopword_hits": stops,
    }
    ok = {
        "quality_ok": (F.col("n_chars") >= 10)
        & (F.col("mean_word_len") >= 2.0)
        & (F.col("mean_word_len") <= 12.0)
        & (F.col("digit_ratio") <= 0.3),
    }
    return stats, ok


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style quality signals, all codegen-able:
    n_chars, mean_word_len, punct_ratio, digit_ratio, upper_ratio,
    stopword_hits (en), quality_ok boolean."""
    stats, ok = _quality_cols(text_col)
    # two withColumns: quality_ok references the stats columns by name
    return df.withColumns(stats).withColumns(ok)


def with_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_bigrams: bool = False,
) -> DataFrame:
    """Gopher-style intra-document repetition signals (the quality-filter
    siblings of corpus-wide dedup — Rae et al. 2021 §A1.3, public work):

      dup_line_frac    fraction of the document's lines that are repeats of
                       an earlier line (1 - distinct/total)
      dup_word_frac    same at whitespace-word granularity
      top_bigram_frac  occurrence-count fraction of the most frequent word
                       bigram (Gopher uses the character-mass fraction; the
                       count fraction is the same signal and stays exactly
                       replicable in portable SQL)

    Precondition: `id_col` must be unique per row — the bigram count join is
    keyed on it, so duplicate ids would pool counts across rows and fan the
    join out (ADVICE r04).  Every other column is a pure per-row projection.

    Line/word fractions are pure per-row expressions (array_distinct inside
    codegen, no shuffle).  The bigram mode needs a per-(doc, bigram) count:
    explode -> two partial-aggregatable hash aggs keyed by (id, key) then
    id -> left join back (docs with <2 words get 0.0).  The count shuffle
    carries map-side-partial-aggregated rows; by default the group key is
    xxhash64(bigram) — at 100 TB the (id, bigram, count) shuffle would carry
    the tokenized corpus roughly once, and the 8-byte key shrinks it ~4x at
    negligible 64-bit-collision risk (VERDICT r04 #4).  exact_bigrams=True
    keeps the raw string key: bit-exact mode selection, replicable in
    portable SQL — the oracle-checked driver query uses it (bounded corpus);
    tests pin that both modes agree on real text."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    stripped = _wstrip(t)
    lines = F.split(t, "\n", -1)
    words = F.split(stripped, r"\s+", -1)
    n_lines = F.size(lines).cast("double")
    n_words = F.when(stripped == "", F.lit(0)).otherwise(F.size(words)).cast("double")
    out = df.withColumn(
        "dup_line_frac",
        (n_lines - F.size(F.array_distinct(lines))) / F.greatest(n_lines, F.lit(1.0)),
    ).withColumn(
        "dup_word_frac",
        F.when(n_words == 0, F.lit(0.0)).otherwise(
            (n_words - F.size(F.array_distinct(words))) / n_words
        ),
    )
    wa = df.select(F.col(id_col).alias("_rid"), words.alias("_ws"))
    bg = wa.select(
        "_rid",
        F.explode(
            F.when(
                F.size("_ws") >= 2,
                F.zip_with(
                    F.slice("_ws", 1, F.size("_ws") - 1),
                    F.slice("_ws", 2, F.size("_ws") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array())
        ).alias("_bg"),
    )
    bg_key = F.col("_bg") if exact_bigrams else F.xxhash64("_bg")
    top = (
        bg.groupBy("_rid", bg_key.alias("_k"))
        .agg(F.count("*").alias("_c"))
        .groupBy("_rid")
        .agg(F.max("_c").alias("_top"), F.sum("_c").alias("_tot"))
        .select("_rid", (F.col("_top").cast("double") / F.col("_tot")).alias("top_bigram_frac"))
    )
    return (
        out.join(top, out[id_col] == top["_rid"], "left")
        .drop("_rid")
        .withColumn("top_bigram_frac", F.coalesce("top_bigram_frac", F.lit(0.0)))
    )


@spark_memo
def _lang_cols(text_col: str) -> tuple:
    t = F.coalesce(F.col(text_col), F.lit(""))
    hit_cols: dict[str, Column] = {}
    for lang, words in LANG_MARKERS.items():
        rex = r"(?i)\b(?:" + "|".join(words) + r")\b"
        hit_cols[f"hits_{lang}"] = F.size(
            F.regexp_extract_all(t, F.lit(rex), F.lit(0))
        )
    best = None
    for lang in LANG_MARKERS:
        cond = F.lit(True)
        for other in LANG_MARKERS:
            if other != lang:
                # strict ordering by (hits, lang): deterministic ties
                cond = cond & (
                    (F.col(f"hits_{lang}") > F.col(f"hits_{other}"))
                    | (
                        (F.col(f"hits_{lang}") == F.col(f"hits_{other}"))
                        & (F.lit(lang) < F.lit(other))
                    )
                )
        clause_cond = (F.col(f"hits_{lang}") > 0) & cond
        best = (
            F.when(clause_cond, F.lit(lang))
            if best is None
            else best.when(clause_cond, F.lit(lang))
        )
    return hit_cols, {"lang_guess": best.otherwise(F.lit("und"))}


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-stopword language heuristic: per language, count marker-word
    hits; lang_guess = argmax (ties and zero hits -> 'und').  Pure codegen —
    a greatest/when cascade over per-language regexp counts."""
    hits, guess = _lang_cols(text_col)
    # two withColumns: the cascade references the hits_* columns by name
    return df.withColumns(hits).withColumns(guess)


def doc_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full text-analysis profile in one narrow stage (no shuffle)."""
    return with_lang_id(with_quality(with_token_counts(df, text_col), text_col), text_col)
