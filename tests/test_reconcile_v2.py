"""Reconcile v2 unit behavior: override precedence (broadcast join), hard
country reject, simplified-soundex vectors, blocking cap."""

from __future__ import annotations

from pyspark.sql import functions as F

from earcrawler_spark.operators.reconcile import (
    blocking_pairs_v2,
    decide_pairs_v2,
    normalize_name_v2,
    score_pairs_v2,
    soundex_v2,
    with_norm,
)

ENT_SCHEMA = (
    "id string, name string, country string, source string, duns string, "
    "cage string, fr_doc string, url string"
)


def _pairs(spark, rows):
    # entities carry the per-entity norm, as build_decided_pairs supplies it
    ents = with_norm(spark.createDataFrame(rows, ENT_SCHEMA))
    pairs = blocking_pairs_v2(ents)
    left = ents.select(*[F.col(c).alias(f"{c}_a") for c in ents.columns])
    right = ents.select(*[F.col(c).alias(f"{c}_b") for c in ents.columns])
    return score_pairs_v2(pairs.join(left, "id_a").join(right, "id_b"))


def test_overrides_beat_thresholds_and_country(spark):
    rows = [
        ("e1", "Acme Timber", "US", "tradegov", None, None, None, None),
        ("e2", "Acme Timber Inc", "US", "other", None, None, None, None),
        ("e3", "Acme Timber", "DE", "other", "D1", None, None, None),
        ("e4", "Acme Timber", "US", "other", "D1", None, None, None),
    ]
    scored = _pairs(spark, rows)
    decided = decide_pairs_v2(
        scored,
        whitelist=[("e3", "e4", "manual wl")],
        blacklist=[("e1", "e2", "manual bl")],
    )
    got = {
        (r["id_a"], r["id_b"]): (r["decision"], r["reason"])
        for r in decided.collect()
    }
    # blacklist rejects a pair that would auto-merge on score
    assert got[("e1", "e2")] == ("reject", "manual bl")
    # whitelist overrides even the hard country reject (override precedence,
    # reconcile.py:293-298: overrides are checked before country)
    assert got[("e3", "e4")] == ("auto_merge", "manual wl")


def test_hard_country_reject(spark):
    rows = [
        ("e1", "Acme Timber", "US", "other", None, None, None, None),
        ("e2", "Acme Timber", "DE", "other", None, None, None, None),
    ]
    decided = decide_pairs_v2(_pairs(spark, rows))
    row = decided.collect()[0]
    # identical names (score would merge) but country mismatch -> reject
    assert row["decision"] == "reject"
    assert row["reason"] == "country mismatch"
    assert row["name_exact"] == 1.0


def test_soundex_vectors(spark):
    # reference simplified soundex: no adjacent dedup, vowels dropped
    vecs = [
        ("robert", "R163"),
        ("rupert", "R163"),
        ("acme timber", "A253"),  # c->2, m->5, t->3 (space dropped), ...
        ("", ""),
        ("a", "A000"),
        # digit-bearing names: input digits must be dropped, not kept as
        # fake vote digits (reference _soundex maps non-consonants to '')
        ("a1 logistics", "A422"),
        ("route 66 freight", "R316"),
    ]
    df = spark.createDataFrame([(v,) for v, _ in vecs], "s string")
    got = dict(
        df.select("s", soundex_v2(F.col("s")).alias("k")).collect()
    )
    for s, want in vecs:
        assert got[s] == want, (s, got[s], want)


def test_normalize_strips_corporate_stopwords(spark):
    df = spark.createDataFrame([("Acme, Timber & Co Corp (LLC)",)], "s string")
    got = df.select(normalize_name_v2(F.col("s")).alias("n")).collect()[0]["n"]
    assert got == "acme timber co"  # 'co' is NOT in the v2 stopword set


def test_lexical_cap_drops_hot_bucket_but_id_keys_survive(spark):
    # 70 same-name entities -> lexical buckets exceed 64 and are dropped;
    # two of them share a duns id, which is uncapped
    rows = [
        (f"e{i:03d}", "Common Name", "US", "other",
         "D9" if i < 2 else None, None, None, None)
        for i in range(70)
    ]
    pairs = blocking_pairs_v2(
        with_norm(spark.createDataFrame(rows, ENT_SCHEMA))
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {("e000", "e001")}


def test_null_name_pair_survives_scoring(spark):
    """A duns-blocked pair with a null name on one side must still be
    scored (reference normalize() coerces None to '', kg/reconcile.py:66);
    the name-feature join-back must not silently drop it."""
    rows = [
        ("e1", None, "US", "other", "D42", None, None, None),
        ("e2", "Acme Timber", "US", "other", "D42", None, None, None),
    ]
    scored = _pairs(spark, rows).collect()
    assert len(scored) == 1
    row = scored[0]
    assert (row["id_a"], row["id_b"]) == ("e1", "e2")
    assert row["name_exact"] == 0.0
    assert row["id_equal"] == 1.0
    # both names null: normalized keys are both '' -> exact-name match on
    # empty strings, same as the reference's normalize('')==normalize('')
    rows2 = [
        ("e1", None, "US", "other", "D42", None, None, None),
        ("e2", None, "US", "other", "D42", None, None, None),
    ]
    scored2 = _pairs(spark, rows2).collect()
    assert len(scored2) == 1
    # a null name gets the same lexical blocking keys as '' (no shared id
    # key here), so the two entities still meet and match exactly
    rows3 = [
        ("e1", None, "US", "other", None, None, None, None),
        ("e2", "", "US", "other", None, None, None, None),
    ]
    scored3 = _pairs(spark, rows3).collect()
    assert [(r["id_a"], r["id_b"], r["name_exact"]) for r in scored3] == [
        ("e1", "e2", 1.0)
    ]


def test_load_rules_csv_and_yaml(spark, tmp_path):
    """load_rules parity (kg/reconcile.py:115-132): YAML config + CSV
    override lists; overrides flow into decide_pairs_v2."""
    from earcrawler_spark.operators.reconcile import (
        RECONCILE_THRESHOLDS,
        RECONCILE_WEIGHTS,
        load_rules,
    )

    (tmp_path / "rules.yml").write_text(
        "thresholds:\n  high: 0.82\n  low: 0.50\n"
        "weights:\n" + "".join(f"  {k}: {v}\n" for k, v in RECONCILE_WEIGHTS.items())
        + "sources:\n  tradegov: 0.5\n  federalregister: 0.5\n",
        encoding="utf-8",
    )
    (tmp_path / "whitelist.csv").write_text(
        "left_id,right_id,reason\nPA1,PB1,manual whitelist\n", encoding="utf-8"
    )
    (tmp_path / "blacklist.csv").write_text(
        "left_id,right_id,reason\nPA2,PB2,manual blacklist\n", encoding="utf-8"
    )
    rules = load_rules(spark, str(tmp_path / "rules.yml"))
    assert rules["thresholds"] == RECONCILE_THRESHOLDS
    assert rules["weights"] == RECONCILE_WEIGHTS
    assert rules["whitelist"] == [("PA1", "PB1", "manual whitelist")]
    assert rules["blacklist"] == [("PA2", "PB2", "manual blacklist")]
    assert rules["whitelist_df"].count() == 1

    # loaded overrides drive decisions exactly like the constants:
    # PA1/PB1 share a duns (id-key block) but have unrelated names ->
    # whitelisted merge; PA2/PB2 share a name -> blacklisted reject
    rows = [
        ("PA1", "Acme", "US", "other", "D77", None, None, None),
        ("PB1", "Zebra Corp", "US", "other", "D77", None, None, None),
        ("PA2", "Same Name", "US", "other", None, None, None, None),
        ("PB2", "Same Name", "US", "other", None, None, None, None),
    ]
    pairs = _pairs(spark, rows)
    decided = {
        (r["id_a"], r["id_b"]): (r["decision"], r["reason"])
        for r in decide_pairs_v2(
            pairs, whitelist=rules["whitelist"], blacklist=rules["blacklist"]
        ).collect()
    }
    assert decided[("PA1", "PB1")] == ("auto_merge", "manual whitelist")
    assert decided[("PA2", "PB2")] == ("reject", "manual blacklist")
