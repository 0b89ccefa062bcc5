"""Text-analysis primitives for training-data pipelines.

Beyond the reference's operator set: token counting, quality features,
PII scrubbing, language ID, and document fingerprinting. All are pure Column
expressions — JVM-side, codegen'd, no Python on the hot path — and each
has an exact ANSI-SQL twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PUNCT_RE = r"[.,!?;:]"
WS_RE = r"\s+"

# tiny marker-word lists per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "das"],
    "fr": ["le", "et", "les"],
    "es": ["el", "los", "que"],
    "zh": ["de5", "shi4", "le5"],  # romanized placeholders for ASCII corpora
}
LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # deterministic tie-break order


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalized(text: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapsed whitespace."""
    return F.trim(F.regexp_replace(F.lower(_c(text)), WS_RE, " "))


def fingerprint(text: Column | str) -> Column:
    """md5 of the normalized text — exact-dup document fingerprint."""
    return F.md5(normalized(text).cast("binary"))


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, WS_RE))).cast("bigint")


# GPT-2-style pretokenizer, dialect-portable subset (Java regex ∩ RE2):
# contractions, space-absorbing letter runs, digit runs, symbol runs.
# Pure-whitespace runs are not counted — they are absorbed by the ` ?`
# prefixes or skipped by the scan. Single source of truth for the Spark
# expression AND the DuckDB oracle (bpe_token_count_sql).
BPE_TOKEN_RE = "'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"


# PII-ish scrubbing: dialect-portable patterns (Java regex ∩ RE2), each
# rendered into BOTH engines. Order matters (emails before bare domains
# would, if added, need care); masks are stable tokens so downstream
# dedup/fingerprints stay deterministic.
SCRUB_RULES = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s]+", "<URL>"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ("long_number", r"\b[0-9]{9,}\b", "<NUM>"),
]


def scrub_text(text: Column | str) -> Column:
    """Apply SCRUB_RULES in order; returns the masked text."""
    c = _c(text)
    for _name, pat, mask in SCRUB_RULES:
        c = F.regexp_replace(c, pat, mask)
    return c


def scrub_counts(text: Column | str) -> dict[str, Column]:
    """Per-rule match counts on the ORIGINAL text (audit columns).

    Caveat: scrub_text applies rules sequentially, so when patterns
    overlap (e.g. a URL containing an email) these counts can exceed the
    replacements actually made — they are per-rule matches on raw text,
    not applied-replacement counts. The DuckDB oracle (scrub_count_sql)
    shares the same semantics, so parity is unaffected.
    """
    c = _c(text)
    return {
        name: F.regexp_count(c, F.lit(pat)).cast("bigint")
        for name, pat, _mask in SCRUB_RULES
    }


def scrub_sql(col: str) -> str:
    out = col
    for _name, pat, mask in SCRUB_RULES:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{mask}', 'g')"
    return out


def scrub_count_sql(col: str, rule: str) -> str:
    pat = next(p for n, p, _m in SCRUB_RULES if n == rule).replace("'", "''")
    return f"len(regexp_extract_all({col}, '{pat}'))"


def bpe_token_count(text: Column | str) -> Column:
    """BPE-ish token count: number of pretokenizer matches (the unit a
    subword tokenizer would split further) — the cheap, deterministic
    proxy a 100 TB curation pass uses before real tokenization."""
    return F.regexp_count(_c(text), F.lit(BPE_TOKEN_RE)).cast("bigint")


def punct_count(text: Column | str) -> Column:
    c = _c(text)
    return (F.length(c) - F.length(F.regexp_replace(c, PUNCT_RE, ""))).cast("bigint")


def marker_count(text: Column | str, word: str) -> Column:
    r"""Occurrences of a marker word with \b boundaries."""
    return F.regexp_count(F.lower(_c(text)), F.lit(rf"\b{word}\b")).cast("bigint")


def lang_scores(text: Column | str) -> dict[str, Column]:
    return {
        lang: sum(
            (marker_count(text, w) for w in words), start=F.lit(0).cast("bigint")
        )
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """argmax of marker-word scores; ties resolved by LANG_ORDER; all-zero
    scores → 'und' (undetermined)."""
    scores = lang_scores(text)
    best = F.greatest(*[scores[lang] for lang in LANG_ORDER])
    expr = F.lit("und")
    # build reversed so earlier langs win ties
    for lang in reversed(LANG_ORDER):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_struct(text: Column | str) -> Column:
    """Quality-scoring features: char/token counts + punct/space ratios.

    Ratios are exact integer-over-integer divisions → identical doubles in
    any engine.
    """
    c = _c(text)
    n_chars = F.length(c).cast("bigint")
    n_tokens = token_count(c)
    n_punct = punct_count(c)
    n_spaces = (F.length(c) - F.length(F.regexp_replace(c, r"\s", ""))).cast("bigint")
    safe = F.when(n_chars > 0, n_chars).otherwise(F.lit(1))
    return F.struct(
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        (n_punct / safe).alias("punct_ratio"),
        (n_spaces / safe).alias("space_ratio"),
        (n_chars / F.when(n_tokens > 0, n_tokens).otherwise(F.lit(1))).alias(
            "avg_token_len"
        ),
    )


# --- SQL twins (DuckDB dialect-portable) ----------------------------------
FINGERPRINT_SQL = "md5(trim(regexp_replace(lower({col}), '\\s+', ' ', 'g')))"
TOKEN_COUNT_SQL = (
    "CASE WHEN trim({col}) = '' THEN 0 "
    "ELSE len(regexp_split_to_array(trim({col}), '\\s+')) END"
)
PUNCT_COUNT_SQL = "length({col}) - length(regexp_replace({col}, '[.,!?;:]', '', 'g'))"


def bpe_token_count_sql(col: str) -> str:
    pat = BPE_TOKEN_RE.replace("'", "''")
    return f"len(regexp_extract_all({col}, '{pat}'))"
SPACE_COUNT_SQL = "length({col}) - length(regexp_replace({col}, '\\s', '', 'g'))"


def marker_count_sql(col: str, word: str) -> str:
    return f"len(regexp_extract_all(lower({col}), '\\b{word}\\b'))"


def lang_score_sql(col: str, lang: str) -> str:
    return " + ".join(marker_count_sql(col, w) for w in LANG_MARKERS[lang])


def lang_id_sql(col: str) -> str:
    scores = {lang: lang_score_sql(col, lang) for lang in LANG_ORDER}
    best = "greatest(" + ", ".join(scores[lang] for lang in LANG_ORDER) + ")"
    whens = " ".join(
        f"WHEN ({scores[lang]}) = _best AND _best > 0 THEN '{lang}'"
        for lang in LANG_ORDER
    )
    # DuckDB lacks lateral column alias in same select; inline _best
    return f"(CASE {whens} ELSE 'und' END)".replace("_best", f"({best})")
