"""Text-analysis operators for the training-data pipeline plane.

These extend the engine beyond the reference's own operator set (per the
build brief): language-ID, quality scoring, token counting, and document
fingerprinting over a text column — all as compositions of built-in
``pyspark.sql.functions`` (JVM-side, codegen-friendly; no Python UDFs), so
they survive 100 TB scans without leaving whole-stage codegen.

Each builder returns Column expressions; query wrappers live in
__spark_entry__ with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tiny per-language stopword seeds for n-gram-free heuristic language ID;
# deliberately small + deterministic so the SQL oracle can replicate
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "los", "que", "de"],
}


def token_count(col: str = "text") -> Column:
    """Whitespace token count (JVM-side split; no UDF)."""
    return F.size(F.split(F.trim(F.col(col)), "\\s+")).alias("n_tokens")


# BPE-ish pre-tokenizer (GPT-2-style split classes, simplified to the
# portable subset shared by Java regex and DuckDB RE2): a "subword seed" is
# a letter run, digit run, or symbol run, each with an optional leading
# space. Counts approximate BPE token counts within ~10-20%.
BPE_SEED_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def subword_count(col: str = "text") -> Column:
    """BPE-ish token count via the pre-tokenizer regex (JVM regexp_count —
    stays in codegen; the whitespace count underestimates tokens for
    punctuation-heavy text, this is the training-budget estimator)."""
    return F.regexp_count(F.col(col), F.lit(BPE_SEED_PATTERN)).alias("n_subwords")


def char_classes(col: str = "text") -> list[Column]:
    """Length / punctuation / digit / uppercase counts via regexp strips —
    the quality-score raw features."""
    c = F.col(col)
    return [
        F.length(c).alias("n_chars"),
        (F.length(c) - F.length(F.regexp_replace(c, "[\\.,;:!\\?]", ""))).alias("n_punct"),
        (F.length(c) - F.length(F.regexp_replace(c, "[0-9]", ""))).alias("n_digits"),
        (F.length(c) - F.length(F.regexp_replace(c, "[A-Z]", ""))).alias("n_upper"),
        (F.length(c) - F.length(F.regexp_replace(c, " ", ""))).alias("n_spaces"),
    ]


def quality_score(col: str = "text") -> Column:
    """Heuristic quality in [0,1]: length band + punctuation presence +
    sane mean word length (compare: C4/Gopher-style filters). Pure column
    arithmetic so it pushes into codegen and the oracle can mirror it."""
    c = F.col(col)
    n_chars = F.length(c)
    n_tokens = F.size(F.split(F.trim(c), "\\s+"))
    mean_word = n_chars / F.greatest(n_tokens, F.lit(1))
    len_ok = F.when((n_chars >= 50) & (n_chars <= 20000), 0.4).otherwise(0.0)
    punct_ok = F.when(
        F.length(F.regexp_replace(c, "[^\\.,;:!\\?]", "")) > 0, 0.3
    ).otherwise(0.0)
    word_ok = F.when((mean_word >= 3) & (mean_word <= 12), 0.3).otherwise(0.0)
    return F.round(len_ok + punct_ok + word_ok, 1).alias("quality")


def lang_id(col: str = "text") -> Column:
    """Stopword-vote language ID. For each language, count hits of its
    seed stopwords (word-boundary regexp, lowercased); argmax wins, ties
    break by language order; zero hits → 'und'. JVM-side only."""
    c = F.lower(F.col(col))
    scores = []
    for lang, words in STOPWORDS.items():
        hits = None
        for w in words:
            h = F.size(F.split(c, f"\\b{w}\\b")) - 1
            hits = h if hits is None else hits + h
        scores.append((lang, hits))
    # argmax via chained when(): en > de > fr > es on ties (stable order)
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when((s == best_score) & (best_score > 0), lang).otherwise(expr)
    return expr.alias("lang_pred")


def doc_fingerprint(col: str = "text", n_chars: int = 64) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized lowercased
    prefix — the exact-dedup key (rolling-hash analogue, cheap + portable
    to any SQL engine)."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(col)), "\\s+", " "))
    return F.md5(F.substring(norm, 1, n_chars)).alias("fingerprint")
