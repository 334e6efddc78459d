"""Crawl-frontier analytics batch (queries_crawlstats): semantic
invariants + plan guards.  Strict engine↔oracle parity is covered by
the oracle sweep (test_queries_oracle / scripts/check_oracles.py)."""

from __future__ import annotations

import contextlib
import io

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _host(doc_id: int, source: str) -> str:
    """Python twin of queries_crawlstats._host_col / _HOST_SQL."""
    if doc_id % 10 < 4:
        return "bis.doc.gov"
    if doc_id % 10 < 7:
        return "federalregister.gov"
    return f"{source.lower()}.example.org"


# --- url_canonicalize -----------------------------------------------------


def test_url_canonicalize_collapses_variants(spark):
    from earcrawler_spark.queries_crawlstats import q_url_canonicalize

    rows = q_url_canonicalize(spark, SF).collect()
    # 2 canonical URLs per doc: 3 http variants collapse, https distinct
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) == 2 * n_docs
    by_scheme = {}
    for r in rows:
        by_scheme.setdefault(r.canonical_url.split(":")[0], []).append(r)
    assert {r.n_variants for r in by_scheme["http"]} == {3}
    assert {r.n_variants for r in by_scheme["https"]} == {1}
    # canonical form carries no fragment / port / utm / double slash
    for r in rows:
        assert "#" not in r.canonical_url
        assert ":80" not in r.canonical_url and ":443" not in r.canonical_url
        assert "utm_" not in r.canonical_url
        assert "//docs" not in r.canonical_url
        assert len(r.url_sha) == 64


def test_url_canonicalize_single_arrow_stage(spark):
    """North rule: canonicalization crosses the Python boundary ONCE,
    vectorized (ArrowEvalPython) — never per-row (BatchEvalPython)."""
    from earcrawler_spark.queries_crawlstats import q_url_canonicalize

    p = _plan(q_url_canonicalize(spark, SF))
    # formatted explain prints each node twice (tree + detail section)
    assert p.count("ArrowEvalPython (") == 1
    assert "BatchEvalPython" not in p


def test_url_sha_matches_crawler_seen_set_key(spark):
    """The query's url_sha is the SAME key the frontier's seen set
    uses: sha256 of crawler/canonicalize.py's canonical form."""
    import hashlib

    from earcrawler_spark.crawler.canonicalize import canonicalize_one
    from earcrawler_spark.queries_crawlstats import q_url_canonicalize

    r = q_url_canonicalize(spark, SF).limit(5).collect()
    for row in r:
        assert canonicalize_one(row.canonical_url) == row.canonical_url
        assert hashlib.sha256(row.canonical_url.encode()).hexdigest() == row.url_sha


# --- anchor_text_agg ------------------------------------------------------


def test_anchor_text_agg_model(spark):
    """Exact match against a pure-Python model over the same
    deterministic link graph + first-token anchors."""
    import re
    from collections import Counter, defaultdict

    from earcrawler_spark.queries_crawlstats import q_anchor_text_agg
    from earcrawler_spark.queries_graph import PR_FANOUT, _STRIDE

    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    n = len(docs)
    anchor = {
        d: (re.search(r"[a-z0-9]+", t.lower()).group(0) if re.search(r"[a-z0-9]+", t.lower()) else "")
        for d, t in docs.items()
    }
    edges = set()
    for d in docs:
        for j in range(1, PR_FANOUT + 1):
            dst = (d * _STRIDE + 11 * j) % n
            if dst != d:
                edges.add((d, dst))
    per_dst = defaultdict(list)
    for s, t in edges:
        per_dst[t].append(anchor[s])
    rows = q_anchor_text_agg(spark, SF).collect()
    assert len(rows) == len(per_dst)
    for r in rows:
        anchors = per_dst[r.node]
        cnt = Counter(anchors)
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert r.in_deg == len(anchors)
        assert r.n_anchors == len(set(anchors))
        assert (r.top_anchor, r.top_anchor_n) == top
        assert r.anchors == "|".join(sorted(set(anchors)))


# --- recrawl_priority -----------------------------------------------------


def test_recrawl_priority_arithmetic_and_order(spark):
    from earcrawler_spark.queries_crawlstats import q_recrawl_priority

    rows = q_recrawl_priority(spark, SF).collect()
    assert rows, "no pages"
    for r in rows:
        assert r.priority_micro == (r.lambda_micro * r.staleness_s) // 3600
        assert 0 <= r.n_changes <= r.n_obs
        assert r.staleness_s >= 0
    # output is the recrawl order: priority desc, page_id tie-break
    keys = [(-r.priority_micro, r.page_id) for r in rows]
    assert keys == sorted(keys)
    # at least one page has an estimated change rate
    assert any(r.lambda_micro > 0 for r in rows)


def test_recrawl_priority_jvm_side(spark):
    from earcrawler_spark.queries_crawlstats import q_recrawl_priority

    p = _plan(q_recrawl_priority(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


# --- frontier_shard_skew --------------------------------------------------


def test_frontier_shard_skew_conservation(spark):
    from earcrawler_spark.queries_crawlstats import q_frontier_shard_skew

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    rows = q_frontier_shard_skew(spark, SF).collect()
    assert sum(r.shard_urls for r in rows) == n_docs
    assert all(0 <= r.shard < 16 for r in rows)
    # the hot-domain skew is visible: the busiest shard carries the
    # bis.doc.gov mass (40% of URLs) → load well above uniform
    hot = rows[0]
    assert hot.load_vs_uniform_micro > 3_000_000  # >3x uniform share
    assert hot.max_host_share_micro <= 1_000_000


def test_frontier_shard_colocates_hosts(spark):
    """Host-hash sharding: every URL of a host lands in ONE shard —
    the property repartition-by-host-hash relies on."""
    import hashlib

    from earcrawler_spark.queries_crawlstats import (
        N_SHARDS,
        q_frontier_shard_skew,
    )

    rows = q_frontier_shard_skew(spark, SF).collect()
    # recompute the expected shard of the two named hot hosts and check
    # the shard holding them reports max_host_urls consistent with the
    # 40% / 30% synth split (documents at this sf: 500 docs)
    def shard_of(host: str) -> int:
        return int(hashlib.sha256(host.encode()).hexdigest()[:4], 16) % N_SHARDS

    by_shard = {r.shard: r for r in rows}
    bis = by_shard[shard_of("bis.doc.gov")]
    assert bis.shard_urls >= 200  # 40% of 500


# --- inverted_index -------------------------------------------------------


def test_inverted_index_model(spark):
    """Exact match against a pure-Python model: whitespace tokens,
    top-200 vocab by (df desc, term), top-5 postings by (tf desc,
    doc_id)."""
    import re
    from collections import Counter, defaultdict

    from earcrawler_spark.queries_crawlstats import (
        IDX_TERMS,
        IDX_TOPK,
        q_inverted_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    tf: dict = defaultdict(Counter)
    for r in docs:
        for t in re.split(r"\s+", r.text.lower()):
            if t:
                tf[t][r.doc_id] += 1
    stats = sorted(
        ((term, len(c), sum(c.values())) for term, c in tf.items()),
        key=lambda x: (-x[1], x[0]),
    )[:IDX_TERMS]
    rows = q_inverted_index(spark, SF).collect()
    assert len(rows) == len(stats)
    for r, (term, df, cf) in zip(rows, stats):
        assert (r.term, r.df, r.cf) == (term, df, cf)
        top = sorted(tf[term].items(), key=lambda kv: (-kv[1], kv[0]))[:IDX_TOPK]
        assert r.top_postings == "|".join(f"{d}:{n}" for d, n in top)


# --- robots_compliance ----------------------------------------------------


def _robots_decide(host: str, path: str):
    from earcrawler_spark.queries_crawlstats import ROBOTS_RULES

    matches = [
        (p, allow)
        for h, p, allow in ROBOTS_RULES
        if (h == "*" or h == host) and path.startswith(p)
    ]
    if not matches:
        return True, ""
    p, allow = sorted(matches, key=lambda m: (-len(m[0]), not m[1]))[0]
    return allow, ("" if allow else p)


def test_robots_compliance_model(spark):
    from collections import Counter, defaultdict

    from earcrawler_spark.queries_crawlstats import q_robots_compliance

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    per_host: dict = defaultdict(lambda: [0, 0, Counter()])  # urls, blocked, rules
    for r in docs:
        host = _host(r.doc_id, r.source)
        path = ("/private/" if r.doc_id % 5 == 0 else "/docs/") + str(r.doc_id)
        allow, rule = _robots_decide(host, path)
        st = per_host[host]
        st[0] += 1
        if not allow:
            st[1] += 1
            st[2][rule] += 1
    rows = q_robots_compliance(spark, SF).collect()
    assert len(rows) == len(per_host)
    for r in rows:
        urls, blocked, rules = per_host[r.host]
        assert (r.n_urls, r.n_blocked, r.n_allowed) == (urls, blocked, urls - blocked)
        assert r.blocked_share_micro == blocked * 1_000_000 // urls
        top = (
            sorted(rules.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            if rules
            else ""
        )
        assert r.top_block_rule == top
    # the allow-override rule actually fires: federalregister /docs/4xx
    # paths stay allowed while other /docs/ paths are blocked
    fr = next(r for r in rows if r.host == "federalregister.gov")
    assert 0 < fr.n_blocked < fr.n_urls


def test_frontier_dequeue_politeness_invariant(spark):
    """Each wave serves at most one URL per host (n_urls == n_hosts),
    waves shrink monotonically in host count, and the total equals the
    frontier size."""
    from earcrawler_spark.queries_crawlstats import q_frontier_dequeue

    rows = q_frontier_dequeue(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_urls for r in rows) == n_docs
    assert all(r.n_urls == r.n_hosts for r in rows)
    counts = [r.n_urls for r in rows]
    assert counts == sorted(counts, reverse=True)
    # wave 1 serves every live host; deep waves are the hot-host tail
    assert rows[0].n_hosts == 8
    assert rows[-1].n_hosts <= 2


def test_frontier_dequeue_matches_model(spark):
    import hashlib
    from collections import defaultdict

    from earcrawler_spark.queries_crawlstats import q_frontier_dequeue

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    per_host = defaultdict(list)
    for r in docs:
        host = _host(r.doc_id, r.source)
        url = f"http://{host}/docs/{r.doc_id}"
        prio = int(hashlib.sha256(url.encode()).hexdigest()[:8], 16) % 1_000_000
        per_host[host].append((prio, url))
    waves = defaultdict(list)
    for host, items in per_host.items():
        for i, (prio, url) in enumerate(
            sorted(items, key=lambda x: (-x[0], x[1])), start=1
        ):
            waves[i].append(prio)
    rows = q_frontier_dequeue(spark, SF).collect()
    assert len(rows) == len(waves)
    for r in rows:
        ps = waves[r.wave]
        assert (r.n_urls, r.max_prio_micro, r.min_prio_micro) == (
            len(ps), max(ps), min(ps),
        )


def test_url_templates_trap_detection(spark):
    from collections import Counter

    from earcrawler_spark.queries_crawlstats import q_url_templates

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    model: Counter = Counter()
    host_totals: Counter = Counter()
    for r in docs:
        host = _host(r.doc_id, r.source)
        tpl = "/cal/{n}-{n}-{n}" if r.doc_id % 5 == 0 else "/docs/{n}"
        model[(host, tpl)] += 1
        host_totals[host] += 1
    rows = q_url_templates(spark, SF).collect()
    assert len(rows) == len(model)
    for r in rows:
        n = model[(r.host, r.template)]
        assert r.n_urls == n
        assert r.host_share_micro == n * 1_000_000 // host_totals[r.host]
        assert r.is_trap == (n >= 50)
    # the synthetic calendar space on the hot host IS flagged
    assert any(r.is_trap and "/cal/" in r.template for r in rows)
    # and small tail hosts are not
    assert any(not r.is_trap for r in rows)


def test_sitemap_parse_discovers_only_extras(spark):
    from earcrawler_spark.queries_crawlstats import q_sitemap_parse

    rows = q_sitemap_parse(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r.n_known for r in rows) == n_docs
    # exactly the two sitemap-only /extra/ locs are new per host
    assert all(r.n_new == 2 for r in rows)
    assert all(r.n_locs == r.n_known + r.n_new for r in rows)


def test_bloom_fp_audit_model(spark):
    """Exact match against a pure-Python bloom: same sha slices, same
    positions, same FP decision — and the measured rate sits in the
    theoretical band for the observed fill."""
    import hashlib

    from earcrawler_spark.queries_crawlstats import (
        BLOOM_K,
        BLOOM_M,
        q_bloom_fp_audit,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()

    def positions(url: str):
        h = hashlib.sha256(url.encode()).hexdigest()
        return [int(h[4 * i : 4 * i + 4], 16) % BLOOM_M for i in range(BLOOM_K)]

    bits, fp = set(), 0
    urls = [
        (f"http://{_host(r.doc_id, r.source)}/docs/{r.doc_id}",
         f"http://{_host(r.doc_id, r.source)}/probe/{r.doc_id}")
        for r in docs
    ]
    for known, _ in urls:
        bits.update(positions(known))
    for _, probe in urls:
        if all(p in bits for p in positions(probe)):
            fp += 1
    row = q_bloom_fp_audit(spark, SF).collect()[0]
    assert (row.n_known, row.bits_set, row.fp_count) == (len(urls), len(bits), fp)
    assert row.fill_micro == len(bits) * 1_000_000 // BLOOM_M
    assert row.fp_rate_micro == fp * 1_000_000 // len(urls)
    # measured rate can't exceed the fill ratio (a 1-hash filter's rate)
    assert row.fp_rate_micro <= row.fill_micro


def test_robots_rules_broadcast(spark):
    """The rule table must broadcast — URLs never shuffle for the match."""
    from earcrawler_spark.queries_crawlstats import q_robots_compliance

    p = _plan(q_robots_compliance(spark, SF))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
