"""Snapshot corpus sources — S16 reference parity.

Reference: earCrawler/rag/ecfr_snapshot_loader.py:26-100 loads JSONL
section snapshots into contract-shaped section documents, normalizing
identifiers via rag/corpus_contract.py:58-121 and temporal fields via
rag/temporal.normalize_iso_date.

Spark-first: `spark.read.json` with an explicit schema (no sampling
pass), then the normalization chain as native Column expressions — the
loader is a projection, so schema pruning and predicate pushdown apply
to downstream queries for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from earcrawler_spark.functions.text import _ISO_SHAPE

SCHEMA_VERSION = 1
SNAPSHOT_READ_SCHEMA = (
    "doc_id string, section_id string, heading string, text string, "
    "source_ref string, url string, effective_date string, "
    "effective_from string, effective_to string"
)
# corpus_contract.py:17-22
_SECTION_BODY_RE = r"^(\d{3}(?:\.\d+[a-z0-9]*)*)((?:\([a-z0-9]+\))*)$"
_DOC_SUFFIX_RE = r"^[a-z0-9][a-z0-9:._-]{0,200}$"


def normalize_iso_date(col: Column) -> Column:
    """rag/temporal.normalize_iso_date (temporal.py:17-31): parseable ISO
    values (incl. compact YYYYMMDD per Python 3.11 fromisoformat) yield
    their canonical date part; everything else — including shaped but
    invalid dashed strings — is null (the reference omits the key)."""
    raw = F.trim(col)
    return (
        F.when(
            raw.rlike(_ISO_SHAPE),
            F.date_format(F.try_to_date(F.substring(raw, 1, 10)), "yyyy-MM-dd"),
        )
        .when(
            raw.rlike(r"^\d{8}$"),
            F.date_format(F.try_to_date(raw, "yyyyMMdd"), "yyyy-MM-dd"),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def normalize_ear_section_id(col: Column) -> Column:
    """Canonical 'EAR-<section>' ids (corpus_contract.py:58-91): strip
    NBSP/'§'/'15 CFR'/'EAR' prefixes, drop internal spaces and trailing
    dots, validate the section-body grammar, lowercase; null when the
    body does not parse."""
    v = F.trim(F.regexp_replace(col, " ", " "))
    v = F.trim(F.regexp_replace(v, "^§+", ""))
    v = F.trim(F.regexp_replace(v, r"(?i)^15\s*cfr\s*", ""))
    body = (
        F.when(F.upper(v).startswith("EAR-"), F.substring(v, 5, 1 << 20))
        .when(F.upper(v).startswith("EAR "), F.trim(F.substring(v, 5, 1 << 20)))
        .otherwise(v)
    )
    body = F.regexp_replace(
        F.trim(F.regexp_replace(body, "^§+", "")), " ", ""
    )
    body = F.lower(F.regexp_replace(body, r"\.+$", ""))
    return F.when(
        (body != "") & body.rlike(_SECTION_BODY_RE),
        F.concat(F.lit("EAR-"), body),
    )


def normalize_ear_doc_id(col: Column) -> Column:
    """Canonical doc ids (corpus_contract.py:94-121): a section id or
    section id + '#<suffix>' with a validated lowercase suffix."""
    v = F.trim(col)
    left = F.element_at(F.split(v, "#", 2), 1)
    suffix = F.lower(F.trim(F.element_at(F.split(v, "#", 2), 2)))
    left_norm = normalize_ear_section_id(left)
    with_suffix = F.when(
        left_norm.isNotNull() & suffix.rlike(_DOC_SUFFIX_RE),
        F.concat(left_norm, F.lit("#"), suffix),
    )
    return F.when(v == "", F.lit(None).cast("string")).when(
        v.contains("#"), with_suffix
    ).otherwise(normalize_ear_section_id(v))


def paginated_scan(
    spark: SparkSession,
    fetch_page,
    n_pages: int | None = None,
    probe_total=None,
    n_partitions: int | None = None,
) -> DataFrame:
    """S1/S3/S4 paginated API scan, Spark-first.

    The reference walks FR / trade.gov result pages sequentially
    (api_clients/federalregister_client.py pagination loop); those APIs
    return total_pages on the first response, so the scan parallelizes:
    one driver probe (or an explicit n_pages), then every page fetches
    in its own task. ``fetch_page(page:int) -> list[dict]`` returns the
    page's records; rows come back as (page, record_json) — callers
    apply from_json with their record schema, keeping the source generic.

    Retry/backoff wraps fetch_page the same way the fetch stage wraps its
    transport (crawler/fetch.retrying); budgets are the caller's
    max-pages argument — the reference's request-budget analog.
    """
    import json as _json

    import pandas as pd

    if n_pages is None:
        if probe_total is None:
            raise ValueError("need n_pages or probe_total")
        n_pages = int(probe_total())
    parts = n_partitions or spark.sparkContext.defaultParallelism

    def run(batches):
        for pdf in batches:
            pages, payloads = [], []
            for p in pdf["id"]:
                for rec in fetch_page(int(p)):
                    pages.append(int(p))
                    payloads.append(_json.dumps(rec, sort_keys=True))
            yield pd.DataFrame({"page": pages, "record_json": payloads})

    return (
        spark.range(1, n_pages + 1, numPartitions=min(parts, max(1, n_pages)))
        .mapInPandas(run, "page int, record_json string")
    )


def point_lookup(spark: SparkSession, keys: list[str], fetch_one) -> DataFrame:
    """S2 keyed point lookup: a (small) key list fans out across tasks;
    ``fetch_one(key) -> dict | None`` (missing keys yield no row)."""
    keys_df = spark.createDataFrame([(k,) for k in sorted(set(keys))], "key string")
    return point_lookup_df(keys_df, fetch_one)


def point_lookup_df(keys: DataFrame, fetch_one) -> DataFrame:
    """point_lookup over a DataFrame of keys (column ``key``) — the
    distributed form: missing ids fan out through tasks, never through a
    driver-side list."""
    import json as _json

    import pandas as pd

    def run(batches):
        for pdf in batches:
            out_k, out_j = [], []
            for k in pdf["key"]:
                rec = fetch_one(k)
                if rec is not None:
                    out_k.append(k)
                    out_j.append(_json.dumps(rec, sort_keys=True))
            yield pd.DataFrame({"key": out_k, "record_json": out_j})

    return keys.select("key").mapInPandas(run, "key string, record_json string")


_LISTING_SCHEMA = (
    "document_number string, id string, title string, publication_date string, "
    "html_url string, url string, body_html string, body_text string, "
    "abstract string, excerpts array<string>"
)


def _html_unescape_basic(col: Column) -> Column:
    """The named entities this synthetic domain produces; the reference
    runs Python html.unescape (full table) after tag stripping."""
    out = col
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def scan_with_detail_fallback(
    spark: SparkSession,
    fetch_page,
    fetch_one,
    n_pages: int | None = None,
    probe_total=None,
    n_partitions: int | None = None,
) -> DataFrame:
    """S3: list scan + conditional detail fetch + clean
    (federalregister_client.py:284-342): list results often omit body
    text — rows with an id but no body fan out through the detail
    lookup and left-join back; the text ladder is list body_html/
    body_text → detail body_html/body_text → abstract → joined
    excerpts → ''; tags strip, entities unescape, whitespace collapses.

    Scale shape: only the body-missing subset (typically a small
    fraction) hits the detail stage, and the join back is keyed on the
    document id — no driver-side loop, no full-listing refetch."""
    from earcrawler_spark.functions.text import normalize_ws

    listing = (
        paginated_scan(
            spark, fetch_page, n_pages=n_pages, probe_total=probe_total,
            n_partitions=n_partitions,
        )
        .select("page", F.from_json("record_json", _LISTING_SCHEMA).alias("r"))
        .select("page", "r.*")
        .withColumn(
            "doc_id",
            F.coalesce(
                F.nullif(F.col("document_number"), F.lit("")),
                F.nullif(F.col("id"), F.lit("")),
                F.lit(""),
            ),
        )
    )
    list_text = F.coalesce(
        F.nullif(F.col("body_html"), F.lit("")),
        F.nullif(F.col("body_text"), F.lit("")),
    )
    listing = listing.withColumn("_list_text", list_text)
    missing = (
        listing.filter(F.col("_list_text").isNull() & (F.col("doc_id") != ""))
        .select(F.col("doc_id").alias("key"))
        .distinct()
    )
    details = (
        point_lookup_df(missing, fetch_one)
        .select(
            F.col("key").alias("doc_id"),
            F.from_json(
                "record_json", "body_html string, body_text string"
            ).alias("d"),
        )
        .select(
            "doc_id",
            F.coalesce(
                F.nullif(F.col("d.body_html"), F.lit("")),
                F.nullif(F.col("d.body_text"), F.lit("")),
            ).alias("_detail_text"),
        )
    )
    joined = listing.join(details, "doc_id", "left")
    text_raw = F.coalesce(
        F.col("_list_text"),
        F.col("_detail_text"),
        F.nullif(F.col("abstract"), F.lit("")),
        F.nullif(F.array_join(F.coalesce(F.col("excerpts"), F.array()), " "), F.lit("")),
        F.lit(""),
    )
    cleaned = normalize_ws(
        _html_unescape_basic(F.regexp_replace(text_raw, r"<[^>]+>", " "))
    )
    return joined.select(
        F.col("doc_id").alias("id"),
        F.coalesce(F.col("title"), F.lit("")).alias("title"),
        F.coalesce(F.col("publication_date"), F.lit("")).alias("publication_date"),
        F.coalesce(
            F.nullif(F.col("html_url"), F.lit("")),
            F.nullif(F.col("url"), F.lit("")),
            F.lit(""),
        ).alias("source_url"),
        cleaned.alias("text"),
    ).orderBy("id")


def load_section_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """S16: JSONL section snapshot -> contract-shaped section documents
    (ecfr_snapshot_loader.py:26-100). Section ids normalize to EAR- form
    (raw value kept when normalization fails, as the reference does),
    doc_id falls back to the section value, temporal fields normalize to
    ISO dates (null when absent — the reference omits the key)."""
    raw = spark.read.schema(SNAPSHOT_READ_SCHEMA).json(path)
    section_norm = normalize_ear_section_id(F.col("section_id"))
    section_value = F.coalesce(
        section_norm, F.trim(F.coalesce(F.col("section_id"), F.lit("")))
    )
    doc_norm = F.when(
        F.col("doc_id").isNotNull(), normalize_ear_doc_id(F.col("doc_id"))
    )

    def temporal(name: str) -> Column:
        return normalize_iso_date(F.col(name))

    return raw.select(
        F.lit(SCHEMA_VERSION).alias("schema_version"),
        F.coalesce(doc_norm, section_value).alias("doc_id"),
        section_value.alias("section_id"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.lit("section").alias("chunk_kind"),
        F.lit("ecfr_snapshot").alias("source"),
        F.trim(F.coalesce(F.col("source_ref"), F.lit(""))).alias("source_ref"),
        F.when(F.trim(F.col("heading")) != "", F.trim(F.col("heading"))).alias("title"),
        F.when(F.trim(F.col("url")) != "", F.trim(F.col("url"))).alias("url"),
        temporal("effective_date").alias("effective_date"),
        temporal("effective_from").alias("effective_from"),
        temporal("effective_to").alias("effective_to"),
    )
