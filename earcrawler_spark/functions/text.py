"""Text scalar functions — whitespace normalization, PII scrub, citation
extraction, tokenization, language-ID heuristics, quality scoring.

Reference semantics (cited file:line are in /root/reference):

- whitespace collapse:  earCrawler/core/ear_crawler.py:111-112 — the
  reference does ``" ".join(text.split())`` per row in Python; here it is a
  single codegen'd ``regexp_replace`` + ``trim``.
- FR-citation regex:    earCrawler/core/ear_crawler.py:76-78 — pattern
  ``\\b\\d{1,3}\\s+FR\\s+\\d{1,6}\\b`` case-insensitive.
- PII scrub:            earCrawler/privacy/redaction.py:7-45 — ordered regex
  substitutions (email, GUID, long token, URL query strip, file path,
  phone, SSN) then whitespace collapse.
- content fingerprint:  earCrawler/corpus/identity.py:9-12 — sha256 hex of
  the normalized text (Spark's native ``sha2``; stays in codegen).
- ISO-date mining:      earCrawler/rag/temporal.py:34-44.

All of these are pure Column expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Pattern constants are kept Java/RE2-compatible so the same pattern can be
# used verbatim in the DuckDB oracle SQL.
FR_CITATION_PATTERN = r"\b\d{1,3} FR \d{1,6}\b"
ISO_DATE_PATTERN = r"\d{4}-\d{2}-\d{2}"
TOKEN_SPLIT_PATTERN = r"\s+"

# A small, fixed English stopword list (reference keeps one in
# transforms/mentions.py:20-27 for mention scoring). Used for the
# stopword-ratio quality signal and the language-ID heuristic.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "that", "this", "be", "are",
)


def normalize_ws(col: Column) -> Column:
    """Collapse runs of whitespace to single spaces and trim."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def extract_fr_citations(col: Column) -> Column:
    """All 'NN FR NNNNN' citations, in document order."""
    return F.regexp_extract_all(col, F.lit(FR_CITATION_PATTERN), F.lit(0))


def extract_iso_dates(col: Column) -> Column:
    """Distinct ISO dates mined from text (temporal.py:34-44)."""
    return F.array_distinct(
        F.regexp_extract_all(col, F.lit(ISO_DATE_PATTERN), F.lit(0))
    )


def content_sha256(col: Column) -> Column:
    """sha256 hex fingerprint of the (already normalized) text."""
    return F.sha2(col.cast("string"), 256)


# --- PII scrub (redaction.py:7-45) -------------------------------------
# Ordered substitutions matching the reference chain rule-for-rule: email,
# GUID, bearer/long token (20+ of [A-Za-z0-9-_=], optional 'bearer '
# prefix, case-insensitive), URL query/fragment strip, paths (windows
# drive, UNC, ~/ home, absolute unix with the reference's
# not-preceded-by-[A-Za-z0-9:/] guard re-expressed as a captured
# separator — RE2 has no lookbehind), NANP phone incl. +1 / (ddd) /
# dot-space separators, SSN. Each is a native regexp_replace so the whole
# chain stays inside whole-stage codegen; the same patterns run under
# DuckDB's RE2 for the oracle ($N group refs become \N there).
_PII_RULES: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (
        r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
        "<GUID>",
    ),
    (r"(?i)(?:bearer\s+)?[A-Za-z0-9_=-]{20,}", "<TOKEN>"),
    (r"(https?://[^\s?]+)\?[^\s#]+", "$1"),  # strip URL query strings
    (r"[A-Za-z]:\\[^\s]+", "<PATH>"),  # windows drive path
    (r"\\\\[^\s]+", "<PATH>"),  # UNC path
    (r"~/[^\s]+", "<PATH>"),  # home path
    (r"(^|[^A-Za-z0-9:/])/[^\s/][^\s]*", "$1<PATH>"),  # absolute unix path
    (
        r"\b(?:\+?1[-.\s]?)?(?:\(\d{3}\)|\d{3})[-.\s]?\d{3}[-.\s]?\d{4}\b",
        "<PHONE>",
    ),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def pii_scrub(col: Column) -> Column:
    out = col
    for pat, repl in _PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return normalize_ws(out)


def pii_scrub_sql(expr: str) -> str:
    """The identical scrub chain as ANSI/DuckDB SQL over ``expr``."""
    out = expr
    for pat, repl in _PII_RULES:
        # DuckDB string literals keep backslashes literal — no re-escaping;
        # RE2 rewrite strings use \N where Java uses $N.
        pat_sql = pat.replace("'", "''")
        repl_sql = repl.replace("$1", "\\1")
        out = f"regexp_replace({out}, '{pat_sql}', '{repl_sql}', 'g')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


# --- Tokenization --------------------------------------------------------
def tokens(col: Column, lowercase: bool = True) -> Column:
    """Whitespace tokens with empties removed (array<string>).

    Matches the reference's ``text.split()`` tokenizer
    (analytics/reports.py:31-40) — empty strings are filtered so leading /
    trailing whitespace can't mint phantom tokens.
    """
    base = F.lower(col) if lowercase else col
    return F.filter(F.split(base, TOKEN_SPLIT_PATTERN), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    """``tokens`` as a DuckDB expression over the SQL expression ``expr``."""
    return f"list_filter(regexp_split_to_array(lower({expr}), '\\s+'), t -> t <> '')"


# the oracles' forms of ``tokens(text)`` and of EN_STOPWORDS
TOKENS_SQL = tokens_sql("text")
STOPWORDS_SQL = "[" + ",".join(f"'{s}'" for s in EN_STOPWORDS) + "]"


BM25_TOKEN_PATTERN = r"[A-Za-z0-9]+(?:\.[A-Za-z0-9]+)*(?:\([A-Za-z0-9]+\))*"


def normalize_bm25_token(tok: Column) -> Column:
    """The reference's BM25 token normalizer
    (rag/retriever_ranking.py:66-76): lowercase, then ONE plural rule —
    'ies'→'y' (len>4), else drop 'es' (len>4), else drop 's' (len>3)."""
    t = F.lower(F.trim(tok))
    n = F.length(t)
    return (
        F.when((n > 4) & t.endswith("ies"), F.concat(F.substring(t, 1, n - 3), F.lit("y")))
        .when((n > 4) & t.endswith("es"), F.substring(t, 1, n - 2))
        .when((n > 3) & t.endswith("s"), F.substring(t, 1, n - 1))
        .otherwise(t)
    )


def bm25_tokens(col: Column) -> Column:
    """tokenize_for_bm25 (retriever_ranking.py:79-85): TOKEN_RE matches
    (word chars with optional .sub and (paren) tails) through the plural
    normalizer, empties dropped."""
    raw = F.regexp_extract_all(col, F.lit(BM25_TOKEN_PATTERN), F.lit(0))
    return F.filter(
        F.transform(raw, normalize_bm25_token), lambda t: t != ""
    )


def normalize_bm25_token_py(token: str) -> str:
    """Python mirror for constant query-term lists (same rules)."""
    token = str(token or "").strip().lower()
    if not token:
        return ""
    if token.endswith("ies") and len(token) > 4:
        return token[:-3] + "y"
    if token.endswith("es") and len(token) > 4:
        return token[:-2]
    if token.endswith("s") and len(token) > 3:
        return token[:-1]
    return token


def bm25_tokens_sql(expr: str) -> str:
    """DuckDB mirror of bm25_tokens."""
    pat = BM25_TOKEN_PATTERN  # RE2-compatible as written
    tok = "lower(trim(x))"
    norm = (
        f"CASE WHEN len({tok}) > 4 AND {tok} LIKE '%ies' "
        f"THEN substr({tok}, 1, len({tok}) - 3) || 'y' "
        f"WHEN len({tok}) > 4 AND {tok} LIKE '%es' "
        f"THEN substr({tok}, 1, len({tok}) - 2) "
        f"WHEN len({tok}) > 3 AND {tok} LIKE '%s' "
        f"THEN substr({tok}, 1, len({tok}) - 1) ELSE {tok} END"
    )
    return (
        f"list_filter(list_transform(regexp_extract_all({expr}, '{pat}'), "
        f"x -> {norm}), t -> t <> '')"
    )


def token_count(col: Column) -> Column:
    return F.size(tokens(col, lowercase=False))


# --- Quality / language heuristics --------------------------------------
def stopword_ratio(col: Column) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    toks = tokens(col)
    stop = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Deterministic [0,1] quality score from length / mean-token-length /
    stopword signals (the reference gates paragraphs on min length only —
    nsf_case_parser.py:56-64; this is the scaled-up scoring a training-data
    pipeline needs)."""
    toks = tokens(col)
    n = F.size(toks)
    mean_len = F.when(n > 0, F.length(F.concat_ws("", toks)) / n).otherwise(F.lit(0.0))
    len_sig = F.least(n / F.lit(100.0), F.lit(1.0))
    shape_sig = F.when((mean_len >= 3) & (mean_len <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_sig = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return F.round((len_sig + shape_sig + stop_sig) / 3.0, 6)


def lang_id_en(col: Column) -> Column:
    """Heuristic language flag: 'en' when stopword ratio >= 0.05 else 'other'.

    A real deployment would plug a fastText model in via pandas UDF; the
    heuristic keeps the operator SQL-expressible for the oracle gate.
    """
    return F.when(stopword_ratio(col) >= 0.05, F.lit("en")).otherwise(F.lit("other"))


# Per-language function-word profiles for the multi-language ID. Small and
# fixed on purpose: the operator contract is a deterministic,
# SQL-expressible profile argmax (the production slot for a fastText
# pandas UDF keeps this exact signature).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "für", "von",
           "ein", "eine", "den", "auf", "sich"),
    "en": EN_STOPWORDS,
    "es": ("el", "los", "las", "y", "es", "no", "para", "por", "un", "una",
           "que", "del", "se", "su"),
    "fr": ("le", "les", "et", "est", "pas", "pour", "dans", "un", "une",
           "que", "qui", "des", "du", "au"),
}
LANG_MIN_RATIO = 0.05


def _lang_hits(col: Column, words: tuple[str, ...]) -> Column:
    toks = tokens(col)
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_id(col: Column) -> Column:
    """Multi-language function-word profile argmax: the language whose
    profile hits the most tokens wins (ties break de < en < es < fr, the
    profile order); a best-ratio under LANG_MIN_RATIO yields 'und'."""
    n = F.size(tokens(col))
    hits = {lang: _lang_hits(col, words) for lang, words in LANG_PROFILES.items()}
    de, en, es, fr = hits["de"], hits["en"], hits["es"], hits["fr"]
    best_n = F.greatest(de, en, es, fr)
    best = (
        F.when(de == best_n, F.lit("de"))
        .when(en == best_n, F.lit("en"))
        .when(es == best_n, F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    ratio = F.when(n > 0, best_n / n).otherwise(F.lit(0.0))
    return F.when(ratio >= LANG_MIN_RATIO, best).otherwise(F.lit("und"))


def lang_id_sql(expr: str) -> str:
    """The identical profile argmax as DuckDB SQL over ``expr``."""
    tk = tokens_sql(expr)
    hit = {
        lang: f"len(list_filter({tk}, t -> t IN ({', '.join(repr(w) for w in words)})))"
        for lang, words in LANG_PROFILES.items()
    }
    best_n = f"greatest({hit['de']}, {hit['en']}, {hit['es']}, {hit['fr']})"
    best = (
        f"CASE WHEN {hit['de']} = {best_n} THEN 'de' "
        f"WHEN {hit['en']} = {best_n} THEN 'en' "
        f"WHEN {hit['es']} = {best_n} THEN 'es' ELSE 'fr' END"
    )
    ratio = f"CASE WHEN len({tk}) > 0 THEN {best_n} * 1.0 / len({tk}) ELSE 0.0 END"
    return f"CASE WHEN {ratio} >= {LANG_MIN_RATIO} THEN {best} ELSE 'und' END"


# --- Date normalization (corpus/metadata.py:24-31) -----------------------
DEFAULT_DATE = "1970-01-01"
# the fromisoformat-shaped inputs this normalizer attempts to parse
# (padded date, optional T/space time down to hour-only 'YYYY-MM-DDTHH',
# '.'- or ','-separated fractional seconds, optional offset/Z) — anything
# looser falls through to the dashed-shape keep / default rules exactly
# like datetime.fromisoformat's ValueError. Deliberately narrower than
# Python 3.11 fromisoformat in ways out of this corpus's domain: ISO week
# dates ('2024-W01-1'), ordinal dates, and colon-less ±HHMM offsets are
# not accepted and take the 1970-01-01 default.
_ISO_SHAPE = (
    r"^\d{4}-\d{2}-\d{2}([T ]\d{2}(:\d{2}(:\d{2}([.,]\d+)?)?)?"
    r"(Z|[+-]\d{2}:\d{2})?)?$"
)


def normalise_date(col: Column) -> Column:
    """Reference date normalization (corpus/metadata.py:24-31): parseable
    ISO values canonicalize to their date part (incl. Python 3.11
    fromisoformat's compact YYYYMMDD form); 10-char dashed strings that
    fail parsing are kept verbatim; everything else (null, empty,
    unshaped) becomes 1970-01-01."""
    raw = F.trim(F.coalesce(col, F.lit(DEFAULT_DATE)))
    raw = F.when(raw == "", F.lit(DEFAULT_DATE)).otherwise(raw)
    parsed = F.when(
        raw.rlike(_ISO_SHAPE), F.try_to_date(F.substring(raw, 1, 10))
    ).when(raw.rlike(r"^\d{8}$"), F.try_to_date(raw, "yyyyMMdd"))
    dashed = (
        (F.length(raw) == 10)
        & (F.substring(raw, 5, 1) == "-")
        & (F.substring(raw, 8, 1) == "-")
    )
    return (
        F.when(parsed.isNotNull(), F.date_format(parsed, "yyyy-MM-dd"))
        .when(dashed, raw)
        .otherwise(F.lit(DEFAULT_DATE))
    )
