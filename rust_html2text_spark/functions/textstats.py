"""Text-analysis operators for a large-scale training-data pipeline.

All hot-path expressions are JVM-side built-ins (whole-stage codegen, no
Python), so they scale linearly with executors: tokenization via split,
stopword scoring via higher-order array functions, fingerprinting via md5.
Each has an exact ANSI-SQL oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Tiny deterministic stopword lists for language-ID scoring.
EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]
DE_STOPWORDS = ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"]
FR_STOPWORDS = ["le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"]
ES_STOPWORDS = ["el", "que", "los", "se", "con", "por", "una", "para", "las", "está"]
IT_STOPWORDS = ["che", "di", "il", "non", "per", "sono", "gli", "questo", "della", "anche"]
PT_STOPWORDS = ["não", "uma", "você", "são", "mas", "isso", "ele", "muito", "dos", "mais"]
NL_STOPWORDS = ["het", "een", "niet", "van", "ik", "dat", "maar", "zijn", "voor", "met"]
RU_STOPWORDS = ["и", "в", "не", "на", "что", "он", "это", "как", "его", "по"]

# Word-token languages: stopword votes (case-insensitive token equality).
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": EN_STOPWORDS,
    "de": DE_STOPWORDS,
    "fr": FR_STOPWORDS,
    "es": ES_STOPWORDS,
    "it": IT_STOPWORDS,
    "pt": PT_STOPWORDS,
    "nl": NL_STOPWORDS,
    "ru": RU_STOPWORDS,
}
# Unsegmented-script languages: votes are occurrence counts of function
# characters (no word boundaries to match on).  The ja set is kana-only —
# kana never appears in Chinese text, while common kanji appear in both.
LANG_CHAR_CLASSES: dict[str, str] = {
    "zh": "的了是我不在有这就们",
    "ja": "のはにをがでとたしも",
}
# Tie-break priority (earlier wins on equal votes).  en/de/fr lead so the
# original 3-language chain's tie behavior is preserved exactly.
LANG_PRIORITY = ["en", "de", "fr", "es", "it", "pt", "nl", "ru", "zh", "ja"]


def tokens_col(text_col="text"):
    return F.split(F.trim(F.col(text_col)), r"\s+")


def normalized_text_col(text_col: str = "text"):
    """Whitespace-collapsed lowercase text: the input every exact-dup
    fingerprint hashes."""
    return F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))


# GPT-2-style pre-tokenizer, restricted to the RE2 ∩ Java-regex common
# subset (no lookarounds, no \p classes): contraction suffixes, letter
# runs, digit runs, non-space symbol runs.  Each match ≈ one BPE merge
# input, so the count upper-bounds and tracks real BPE token counts far
# better than chars/4.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s']+|'"


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace token counting, plus a BPE-ish regex pre-token count and
    the crude char/4 estimate."""
    return docs.select(
        "doc_id",
        F.size(tokens_col()).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.regexp_count("text", F.lit(BPE_ISH_PATTERN)).alias("n_bpe_tokens"),
        (F.length("text") / F.lit(4.0)).alias("est_bpe_tokens"),
    )


def _stopword_hits(words: list[str], text_col: str = "text"):
    """Count tokens equal (case-insensitively) to any stopword.

    Implemented as a codegen'd regex count over the raw text rather than a
    higher-order filter over the token array: HOF lambdas are interpreted
    per element in Spark, while regexp_count stays inside whole-stage
    codegen.  Token boundaries are the same ASCII \\s splits as
    `tokens_col`, so the count is identical to filtering the token array.
    """
    alts = "|".join(words)
    pattern = rf"(?:(?<=\s)|^)(?:{alts})(?:(?=\s)|$)"
    return F.regexp_count(F.lower(F.trim(F.col(text_col))), F.lit(pattern))


def _char_class_hits(chars: str, text_col: str = "text"):
    """Count characters of `chars` occurring anywhere in the text (the
    vote for unsegmented scripts)."""
    return F.length(F.regexp_replace(F.col(text_col), f"[^{chars}]", ""))


def lang_hits_cols(text_col: str = "text") -> dict:
    """Per-language vote expression, keyed by language code, in
    LANG_PRIORITY order."""
    hits = {}
    for lang in LANG_PRIORITY:
        if lang in LANG_STOPWORDS:
            hits[lang] = _stopword_hits(LANG_STOPWORDS[lang], text_col)
        else:
            hits[lang] = _char_class_hits(LANG_CHAR_CLASSES[lang], text_col)
    return hits


def pred_lang_col(text_col: str = "text"):
    """Vote-argmax language prediction expression over LANG_PRIORITY
    (stopword votes for word-token languages, function-character counts
    for zh/ja); ties go to the earlier language in the priority list."""
    hits = lang_hits_cols(text_col)
    expr = F.lit(LANG_PRIORITY[-1])
    for i in range(len(LANG_PRIORITY) - 2, -1, -1):
        li = LANG_PRIORITY[i]
        cond = F.lit(True)
        for lj in LANG_PRIORITY[i + 1 :]:
            cond = cond & (hits[li] >= hits[lj])
        expr = F.when(cond, F.lit(li)).otherwise(expr)
    return expr


def quality_col(text_col: str = "text"):
    """Quality score: half the alphabetic-character ratio plus half the
    English stopword ratio of the whitespace tokens."""
    n_alpha = F.length(F.regexp_replace(text_col, r"[^A-Za-z]", ""))
    n_tokens = F.size(tokens_col(text_col))
    sw = _stopword_hits(EN_STOPWORDS, text_col)
    return (n_alpha / F.length(text_col)) * 0.5 + (sw / n_tokens) * 0.5


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals."""
    n_tokens = F.size(tokens_col())
    n_chars = F.length("text")
    n_alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    sw = _stopword_hits(EN_STOPWORDS)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        (n_alpha / n_chars).alias("alpha_ratio"),
        (n_punct / n_chars).alias("punct_ratio"),
        (sw / n_tokens).alias("stopword_ratio"),
        quality_col().alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Vote-based language ID over 10 languages (en/de/fr/es/it/pt/nl/ru
    stopword votes + zh/ja function-character counts).  Entirely
    whole-stage-codegen regex counts — no UDF, no shuffle: a pure map at
    any scale."""
    hits = lang_hits_cols()
    return docs.select(
        "doc_id",
        *[hits[lang].alias(f"{lang}_hits") for lang in LANG_PRIORITY],
        pred_lang_col().alias("pred_lang"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    return docs.select("doc_id", F.md5(normalized_text_col()).alias("fingerprint"))


def token_rarity(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-frequency rarity score per document (IDF-flavoured quality
    signal: garbage/OCR noise scores high, boilerplate scores low).

    rarity = avg over the doc's tokens of total_tokens / corpus_count(tok).

    Deliberately rational arithmetic — no ln(): libm log differs across
    engines in the last ulp, which would break exact oracle certification;
    every step here (integer counts, one correctly-rounded IEEE division,
    DECIMAL-exact summation) is bit-reproducible at any parallelism.

    Plan shape: one token-explode shuffle for corpus frequencies (the same
    stream minhash shingling pays), the 1-row total broadcast-crossed, the
    per-token frequency join left to AQE (broadcast while the vocab is
    small, shuffle join at web-scale vocab), then a per-doc aggregation."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    t = docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id", F.explode(toks).alias("tok")
    )
    freq = t.groupBy("tok").agg(F.count("*").alias("c"))
    # total from the (vocab-sized) frequency table, NOT from the token
    # stream — re-aggregating t would re-run the corpus explode a third
    # time (freq + total + join); this way the stream is computed twice
    # (freq, join) and the total pass touches only the vocabulary
    total = freq.agg(F.sum("c").cast("long").alias("total"))
    ratio = (F.col("total") / F.col("c")).cast("decimal(28,10)")
    return (
        t.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                (F.sum(ratio).cast("double") / F.count("*")), 6
            ).alias("rarity"),
            F.count("*").alias("n_tokens"),
        )
    )


def rolling_fingerprint(
    docs: DataFrame, base: int = 257, mod: int = 1_000_000_007
) -> DataFrame:
    """Rabin-Karp rolling-hash document fingerprint over the normalized
    text (whitespace-collapsed, lowercased): h = fold(h*base + codepoint)
    mod a 31-bit prime.  Entirely a higher-order-function fold — no UDF,
    no shuffle; unlike md5 it extends incrementally (h(doc+suffix) derives
    from h(doc)), the property rolling fingerprints exist for."""
    chars = F.split(normalized_text_col(), "")
    h = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % mod,
    )
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", h.alias("rolling_hash")
    )


def extend_rolling_hash(
    hash_col, suffix_col, base: int = 257, mod: int = 1_000_000_007
):
    """Continue a Rabin-Karp fold from an existing hash over appended
    characters: h(stream + suffix) derived from h(stream) WITHOUT touching
    the original text — the incremental-update property rolling hashes
    exist for (re-fingerprint a crawl snapshot's appended pages/edits in
    O(|delta|) instead of O(|corpus|)).  Column-level, codegen HOF fold."""
    chars = F.split(suffix_col, "")
    return F.aggregate(
        chars,
        hash_col.cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % mod,
    )
