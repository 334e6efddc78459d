"""Entity reconciliation: blocking-key candidate generation, pair scoring,
threshold decisions, connected-component merge chaining.

Reference: earCrawler/kg/reconcile.py —
- blocking keys + bucket-size cap 64 (:224-265) → explode keys, pre-join
  groupBy count filter (the skew guard), self equi-join with id < id;
- pair features + weighted score (:156-202) → post-join projection
  (token Jaccard, first-token match, attribute equality — all native;
  Jaro-Winkler deliberately omitted from the oracle surface because its
  variant definitions differ across engines);
- decisions (:209-217,278-320) → when/otherwise thresholds;
- canonical-ID union / owl:sameAs chaining (:287,305-307) → iterative
  min-label propagation (small-step transitive closure).

Scale: blocking bounds the pair space; the bucket cap kills quadratic hot
keys exactly like frontier skew salting; label propagation is
O(diameter) shuffles on the (pairs-only) edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from earcrawler_spark.operators.similarity import jaccard


def normalize_name(col):
    """casefold + punctuation→space + whitespace collapse (reconcile.py:63-71)."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "), r"\s+", " ")
    )


def blocking_pairs(
    entities: DataFrame,
    id_col: str,
    name_col: str,
    block_keys: list,
    max_bucket: int = 64,
) -> DataFrame:
    """Self-join candidate pairs within blocking buckets, hot buckets
    (> max_bucket) dropped before the join (reconcile.py:232,257-258)."""
    keyed = entities.select(
        F.col(id_col).alias("id"),
        normalize_name(F.col(name_col)).alias("name"),
        *[k.alias(f"bk{i}") for i, k in enumerate(block_keys)],
    )
    out = None
    for i in range(len(block_keys)):
        k = f"bk{i}"
        sizes = keyed.groupBy(k).agg(F.count(F.lit(1)).alias("n"))
        ok = keyed.join(
            F.broadcast(sizes.filter(F.col("n") <= max_bucket).drop("n")), k
        )
        a, b = ok.alias("a"), ok.alias("b")
        pairs = a.join(
            b, (F.col(f"a.{k}") == F.col(f"b.{k}")) & (F.col("a.id") < F.col("b.id"))
        ).select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
        )
        out = pairs if out is None else out.unionByName(pairs)
    return out.distinct()


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Explainable weighted score from engine-portable features."""
    ta = F.array_distinct(F.split(F.col("name_a"), " "))
    tb = F.array_distinct(F.split(F.col("name_b"), " "))
    name_exact = (F.col("name_a") == F.col("name_b")).cast("double")
    token_jac = jaccard(ta, tb)
    # first token from the RAW split (array_distinct may reorder in other
    # engines, e.g. DuckDB's list_distinct — keep the feature portable)
    first_tok = (
        F.element_at(F.split(F.col("name_a"), " "), 1)
        == F.element_at(F.split(F.col("name_b"), " "), 1)
    ).cast("double")
    return pairs.withColumn(
        "score",
        F.round(0.4 * name_exact + 0.4 * token_jac + 0.2 * first_tok, 6),
    ).withColumn(
        "decision",
        F.when(F.col("score") >= 0.8, "auto_merge")
        .when(F.col("score") >= 0.4, "review")
        .otherwise("reject"),
    )


# ---------------------------------------------------------------------------
# Reconcile v2 — full reference feature/blocking/override parity
# (kg/reconcile.py:63-108 normalize/soundex/blocking_keys, :156-202
# score_pair, :209-217 overrides, :224-265 blocked candidates,
# :293-304 decisions with the hard country reject; default weights and
# thresholds from kg/reconcile/rules.yml).

RECONCILE_STOPWORDS = ["inc", "corp", "corporation", "ltd", "llc", "company"]
RECONCILE_WEIGHTS = {
    "name_exact": 0.25,
    "token_jaccard": 0.2,
    "jaro_winkler": 0.2,
    "prefix_overlap": 0.05,
    "suffix_overlap": 0.05,
    "country_match": 0.15,
    "id_equal": 0.4,
    "url_host": 0.1,
    "source_bonus": 0.1,
}
RECONCILE_THRESHOLDS = {"high": 0.82, "low": 0.50}
RECONCILE_SOURCE_BONUS = {"tradegov": 0.5, "federalregister": 0.5}
MAX_LEXICAL_BLOCK = 64


def load_rules(spark, rules_path: str, collect_lists: bool = True) -> dict:
    """Reference load_rules (kg/reconcile.py:115-132): rules.yml plus
    sibling whitelist.csv / blacklist.csv. The YAML config (thresholds /
    weights / source bonuses / blocking params) is driver-side — it is
    plan CONFIGURATION, exactly like the reference; the CSV override
    lists load through spark.read.csv with an explicit schema (headered
    left_id,right_id,reason) so a large override table can stay
    distributed: pass ``collect_lists=False`` and join the ``*_df``
    frames directly — the driver-side tuple form (for
    decide_pairs_v2's broadcast path) is only materialized on demand."""
    import os

    import yaml

    data = yaml.safe_load(open(rules_path, encoding="utf-8").read())
    base = os.path.dirname(rules_path)
    schema = "left_id string, right_id string, reason string"
    for key, fn in (("whitelist", "whitelist.csv"), ("blacklist", "blacklist.csv")):
        p = os.path.join(base, fn)
        data[key + "_df"] = (
            spark.read.csv(p, header=True, schema=schema)
            if os.path.exists(p)
            else spark.createDataFrame([], schema)
        )
        if collect_lists:
            data[key] = [
                (r["left_id"], r["right_id"], r["reason"])
                for r in data[key + "_df"].collect()
            ]
    return data


def normalize_name_v2(col):
    """Reference normalize (reconcile.py:63-71): casefold, punctuation to
    space, whitespace collapse, corporate-stopword removal. (NFC is a
    no-op on the ASCII synthetic domain.)"""
    cleaned = F.regexp_replace(F.lower(col), r"[^\w\s]", " ")
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(cleaned, r"\s+", " ")), " "),
        lambda t: (t != "") & ~t.isin(*RECONCILE_STOPWORDS),
    )
    return F.array_join(toks, " ")


def with_norm(entities: DataFrame) -> DataFrame:
    """Entities plus the per-entity normalized name ``norm`` that
    blocking_pairs_v2 and score_pairs_v2 read.  The reference normalize()
    coerces None to '' (reconcile.py:66 `text or ""`), so a null name
    blocks and scores exactly like an empty one."""
    return entities.withColumn(
        "norm", normalize_name_v2(F.coalesce(F.col("name"), F.lit("")))
    )


def soundex_v2(norm_col):
    """The reference's simplified soundex (reconcile.py:74-95): first char
    + consonant digits (no adjacent-dedup, vowels/digits/spaces dropped),
    4 chars right-padded with '0'; empty input stays empty."""
    up = F.upper(norm_col)
    # Strip input digits 0-9 from the tail BEFORE the consonant translate:
    # the reference maps every non-consonant (incl. digits) to '', so a
    # '1'-'6' in the input must not survive as a fake vote digit.
    tail = F.translate(up.substr(F.lit(2), F.length(up)), "0123456789", "")
    digits = F.regexp_replace(
        F.translate(tail, "BFPVCGJKQSXZDTLMNR", "111122222222334556"),
        "[^1-6]",
        "",
    )
    key = F.rpad(F.substring(F.concat(F.substring(up, 1, 1), digits), 1, 4), 4, "0")
    return F.when(norm_col == "", F.lit("")).otherwise(key)


def soundex_v2_sql(norm_expr: str) -> str:
    return (
        f"CASE WHEN {norm_expr} = '' THEN '' ELSE "
        f"rpad(substr(upper({norm_expr})[1] || regexp_replace(translate("
        f"translate(substr(upper({norm_expr}), 2), '0123456789', ''), "
        f"'BFPVCGJKQSXZDTLMNR', "
        f"'111122222222334556'), '[^1-6]', '', 'g'), 1, 4), 4, '0') END"
    )


def url_host(col):
    """Host extraction (reconcile.py:149-153); null when absent."""
    h = F.lower(F.regexp_extract(col, r"https?://([^/]+)/?", 1))
    return F.when(col.isNull() | (h == ""), F.lit(None).cast("string")).otherwise(h)


def _common_prefix_len(a, b):
    """Length of the common prefix = (first differing position - 1), or
    the shorter length when no position differs. O(n) per pair — the
    earlier build-every-prefix-and-compare form was O(n^2) substring
    construction and dominated full-corpus scoring."""
    n = F.least(F.length(a), F.length(b))
    ca, cb = F.split(a, ""), F.split(b, "")
    diffs = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.element_at(ca, i) != F.element_at(cb, i),
    )
    return F.when(n == 0, F.lit(0)).otherwise(
        F.coalesce(F.array_min(diffs) - 1, n)
    )


def blocking_pairs_v2(entities: DataFrame) -> DataFrame:
    """Candidate pairs from the reference's multi-key blocking: 4 lexical
    keys capped at 64 members, plus uncapped duns/cage/fr_doc and
    url_host buckets; pair ids ordered (reconcile.py:224-265).

    Scale: one explode to (key_type, key_value) rows, a broadcast
    hot-bucket filter for the lexical families, a single self equi-join on
    the key, distinct on the pair.

    ``entities`` carries the per-entity ``norm`` (see with_norm): the
    four lexical keys share it instead of each embedding the normalize
    regex+HOF chain."""
    norm = F.col("norm")
    alnum = F.regexp_replace(norm, "[^0-9a-z]", "")
    token0 = F.element_at(F.split(norm, " "), 1)
    keyed = entities.select(
        "id",
        F.explode(
            F.filter(
                F.array(
                    F.struct(F.lit("lexical:country_name").alias("kt"),
                             F.concat_ws("-", "country", alnum).alias("kv")),
                    F.struct(F.lit("lexical:alnum").alias("kt"), alnum.alias("kv")),
                    F.struct(F.lit("lexical:country_soundex").alias("kt"),
                             F.concat_ws("-", "country", soundex_v2(norm)).alias("kv")),
                    F.struct(F.lit("lexical:country_token0").alias("kt"),
                             F.when(token0.isNotNull() & (token0 != ""),
                                    F.concat_ws("-", "country", token0)).alias("kv")),
                    F.struct(F.lit("id:duns").alias("kt"), F.col("duns").alias("kv")),
                    F.struct(F.lit("id:cage").alias("kt"), F.col("cage").alias("kv")),
                    F.struct(F.lit("id:fr_doc").alias("kt"), F.col("fr_doc").alias("kv")),
                    F.struct(F.lit("url_host").alias("kt"),
                             url_host(F.col("url")).alias("kv")),
                ),
                lambda s: s["kv"].isNotNull() & (s["kv"] != ""),
            )
        ).alias("k"),
    ).select("id", F.col("k.kt").alias("kt"), F.col("k.kv").alias("kv"))
    sizes = keyed.groupBy("kt", "kv").agg(F.countDistinct("id").alias("n"))
    ok = keyed.join(
        F.broadcast(
            sizes.filter(
                (F.col("n") >= 2)
                & (
                    ~F.col("kt").startswith("lexical:")
                    | (F.col("n") <= MAX_LEXICAL_BLOCK)
                )
            ).drop("n")
        ),
        ["kt", "kv"],
    )
    # The keyed rows are narrow, so AQE coalesces them into a couple of
    # partitions — which serializes the pair-generating self-join and the
    # distinct. Pre-partition on the join key at full parallelism.
    parallelism = entities.sparkSession.sparkContext.defaultParallelism
    ok = ok.repartition(parallelism, "kt", "kv")
    a, b = ok.alias("a"), ok.alias("b")
    return (
        a.join(
            b,
            (F.col("a.kt") == F.col("b.kt"))
            & (F.col("a.kv") == F.col("b.kv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def score_pairs_v2(pairs_with_attrs: DataFrame) -> DataFrame:
    """Full 9-feature weighted score (reconcile.py:156-202). Input columns:
    id/name/country/source/duns/cage/fr_doc/url/norm suffixed _a/_b, where
    norm is the per-entity normalized name from with_norm."""
    from earcrawler_spark.functions.similarity_udfs import jaro_winkler_udf

    # Spread the Arrow-batched JW stage across the cluster: AQE coalesces
    # the (narrow) pair rows into a couple of partitions, which serializes
    # the Python workers — a cheap shuffle here bought 2.4x end-to-end.
    parallelism = pairs_with_attrs.sparkSession.sparkContext.defaultParallelism
    d = pairs_with_attrs.repartition(parallelism, "id_a")
    # norm is never null (with_norm coalesces the name), so a null name on
    # either side cannot null the join key below and drop the pair, which
    # the id-key blocks (duns/cage/fr_doc/url_host) can reach.  Normalizing
    # per ENTITY instead of per PAIR row saves 2 regex+HOF evaluations per
    # pair, the measured hot spot of the final stage (65 CPU-s at sf0.1).
    a, b = F.col("norm_a"), F.col("norm_b")
    # ALL name-derived features compute on the DISTINCT normalized name
    # pairs and join back: blocking emits each hot name pair many times
    # (27x on the synthetic domain — 416k pair rows, 15.6k distinct name
    # pairs), and these are the expensive features (the Arrow JW stage,
    # plus token-set and per-char prefix/suffix HOFs, which Spark
    # evaluates interpreted). Per-row attribute equalities stay on the
    # pair rows — they are codegen'd comparisons. Drop the broadcast
    # hint if the distinct name-pair set ever outgrows broadcast range
    # and let AQE pick the strategy.
    ta = F.array_distinct(F.filter(F.split(a, " "), lambda t: t != ""))
    tb = F.array_distinct(F.filter(F.split(b, " "), lambda t: t != ""))
    union_n = F.size(F.array_union(ta, tb))
    jac = F.when(union_n > 0, F.size(F.array_intersect(ta, tb)) / union_n).otherwise(0.0)
    maxlen = F.greatest(F.length(a), F.length(b))
    nonempty = (F.length(a) > 0) & (F.length(b) > 0)
    prefix = F.when(nonempty, _common_prefix_len(a, b) / maxlen).otherwise(0.0)
    suffix = F.when(
        nonempty, _common_prefix_len(F.reverse(a), F.reverse(b)) / maxlen
    ).otherwise(0.0)
    name_feats = (
        d.select("norm_a", "norm_b")
        .distinct()
        .repartition(parallelism)
        .withColumn("_jw", jaro_winkler_udf(a, b))
        .withColumn("_name_exact", (a == b).cast("double"))
        .withColumn("_token_jaccard", jac)
        .withColumn("_prefix_overlap", prefix)
        .withColumn("_suffix_overlap", suffix)
    )
    d = d.join(F.broadcast(name_feats), ["norm_a", "norm_b"])
    def _both_eq(x, y):
        # null-safe: a missing attribute on either side is a non-match,
        # never a null feature (reference treats None as falsy)
        return F.col(x).isNotNull() & F.col(y).isNotNull() & (F.col(x) == F.col(y))

    id_eq = (
        _both_eq("duns_a", "duns_b")
        | _both_eq("cage_a", "cage_b")
        | _both_eq("fr_doc_a", "fr_doc_b")
    ).cast("double")
    ha, hb = url_host(F.col("url_a")), url_host(F.col("url_b"))
    host_eq = (ha.isNotNull() & hb.isNotNull() & (ha == hb)).cast("double")

    def bonus(src):
        expr = F.lit(0.0)
        for s, v in RECONCILE_SOURCE_BONUS.items():
            expr = F.when(src == s, F.lit(v)).otherwise(expr)
        return expr

    feats = {
        "name_exact": F.col("_name_exact"),
        "token_jaccard": F.col("_token_jaccard"),
        "jaro_winkler": F.col("_jw"),
        "prefix_overlap": F.col("_prefix_overlap"),
        "suffix_overlap": F.col("_suffix_overlap"),
        "country_match": (F.col("country_a") == F.col("country_b")).cast("double"),
        "id_equal": id_eq,
        "url_host": host_eq,
        "source_bonus": bonus(F.col("source_a")) + bonus(F.col("source_b")),
    }
    out = d
    for k, v in feats.items():
        out = out.withColumn(k, F.round(v, 6))
    # Exact integer score: each 6-dp feature re-expressed in micro units
    # (its double is within 1 ulp of an integer multiple of 1e-6, so the
    # round-to-integer is unambiguous), weighted by centi-weights, summed
    # as BIGINT, divided ONCE.  A float fold here differed from the
    # oracle's by 1 ulp at sf0.1 (sum association), flipping round(.,6)
    # across a .5 boundary — integer arithmetic makes the score
    # bit-stable across engines, partitionings and scales.
    score_micro = None
    for k, w in RECONCILE_WEIGHTS.items():
        w_centi = int(round(w * 100))
        term = F.round(F.col(k) * 1_000_000, 0).cast("bigint") * F.lit(w_centi)
        score_micro = term if score_micro is None else score_micro + term
    return out.withColumn(
        "score", score_micro.cast("double") / F.lit(100_000_000).cast("double")
    )


def decide_pairs_v2(
    scored: DataFrame,
    whitelist: list[tuple[str, str, str]] | None = None,
    blacklist: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Overrides + hard country reject + thresholds (reconcile.py:293-304).
    Whitelist/blacklist are (left_id, right_id, reason) rows, broadcast."""
    spark = scored.sparkSession
    schema = "id_a string, id_b string, ov_reason string"
    wl = spark.createDataFrame(whitelist or [], schema).withColumn(
        "ov", F.lit("auto_merge")
    )
    bl = spark.createDataFrame(blacklist or [], schema).withColumn(
        "ov", F.lit("reject")
    )
    ov = wl.unionByName(bl)
    d = scored.join(F.broadcast(ov), ["id_a", "id_b"], "left")
    decision = (
        F.when(F.col("ov").isNotNull(), F.col("ov"))
        .when(F.col("country_match") < 1.0, F.lit("reject"))
        .when(F.col("score") >= RECONCILE_THRESHOLDS["high"], F.lit("auto_merge"))
        .when(F.col("score") >= RECONCILE_THRESHOLDS["low"], F.lit("review"))
        .otherwise(F.lit("reject"))
    )
    reason = (
        F.when(F.col("ov").isNotNull(), F.col("ov_reason"))
        .when(F.col("country_match") < 1.0, F.lit("country mismatch"))
        .otherwise(F.lit(None).cast("string"))
    )
    return d.withColumn("decision", decision).withColumn("reason", reason).drop(
        "ov", "ov_reason"
    )


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b", max_iters: int = 20
) -> DataFrame:
    """Min-label propagation over an undirected edge set →
    (id, component) where component = min id reachable.

    Iterative small-step closure: each round joins labels across edges and
    keeps the min; stops at fixpoint. O(graph diameter) shuffles on keys
    only — the Spark shape of the reference's sequential union-find
    (reconcile.py:287,305-307)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # localCheckpoint each round: truncates the lineage chain so round k
    # re-executes k's join only, not the cumulative plan of rounds 1..k
    # (the unbroken chain re-runs quadratically at large edge sets). The
    # convergence check is batched every CHECK_EVERY rounds to amortize the
    # driver action; the final rounds cost at most CHECK_EVERY-1 no-op
    # propagations past the fixpoint.
    CHECK_EVERY = 3
    sym = sym.localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for it in range(max_iters):
        prop = (
            sym.join(labels, sym.a == labels.id)
            .select(F.col("b").alias("id"), "component")
            .unionByName(labels)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        ).localCheckpoint()
        if (it + 1) % CHECK_EVERY == 0 or it == max_iters - 1:
            changed = (
                prop.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = prop
            if changed == 0:
                break
        else:
            labels = prop
    return labels.orderBy("id")
