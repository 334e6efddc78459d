"""Training-data pipeline operators, part 2 (queries_training):
shard packing, temperature-scaled mixing, C4-style chunk dedup,
unigram-LM quality, SemDedup, embedding outliers.  Seeded-defect
fixtures assert each check FIRES, not just that clean data passes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"
EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def test_shard_packing_matches_prefix_sum_model(spark):
    """Shard assignment must equal floor(prefix_before / budget) per
    language, and per-lang shard_tokens must sum to the lang's total."""
    from earcrawler_spark.queries_training import SHARD_BUDGET, q_shard_packing

    out = q_shard_packing(spark, SF).collect()
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("lang", "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .collect()
    )
    per_lang: dict = {}
    for r in sorted(docs, key=lambda r: (r["lang"], r["doc_id"])):
        per_lang.setdefault(r["lang"], []).append(r)
    want: dict = {}
    for lang, rows in per_lang.items():
        prefix = 0
        for r in rows:
            shard = prefix // SHARD_BUDGET
            key = (lang, shard)
            want.setdefault(key, [0, 0])
            want[key][0] += 1
            want[key][1] += r["n"]
            prefix += r["n"]
    got = {(r["lang"], r["shard_no"]): (r["n_docs"], r["shard_tokens"]) for r in out}
    assert got == {k: tuple(v) for k, v in want.items()}
    for r in out:
        assert r["first_doc"] <= r["last_doc"]
        assert r["fill_ratio"] == round(r["shard_tokens"] / SHARD_BUDGET, 6)


def test_shard_packing_shard_numbers_contiguous_per_lang(spark):
    from earcrawler_spark.queries_training import q_shard_packing

    per_lang: dict = {}
    for r in q_shard_packing(spark, SF).collect():
        per_lang.setdefault(r["lang"], []).append(r["shard_no"])
    for shards in per_lang.values():
        assert sorted(shards) == list(range(len(shards)))


def test_temperature_mix_flattens_distribution(spark, tmp_path):
    """alpha=0.5 must upweight the small source relative to its raw
    token share and downweight the big one; weights sum to ~1."""
    from earcrawler_spark.queries_training import q_temperature_mix

    rows = [(i, "tok " * 100, "en", "big", 400) for i in range(16)]
    rows += [(100, "tok " * 100, "en", "small", 400)]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["source"]: r for r in q_temperature_mix(spark, str(tmp_path)).collect()}
    tot = out["big"]["tokens"] + out["small"]["tokens"]
    raw_small = out["small"]["tokens"] / tot
    assert out["small"]["mix_weight"] > raw_small          # upweighted
    assert out["big"]["mix_weight"] < out["big"]["tokens"] / tot
    # sqrt ratio: 16 docs vs 1 doc of equal length -> weight ratio 4:1
    assert abs(out["big"]["mix_weight"] / out["small"]["mix_weight"] - 4.0) < 1e-3
    assert abs(sum(r["mix_weight"] for r in out.values()) - 1.0) < 1e-5
    # epochs = sampled/tokens
    for r in out.values():
        assert r["epochs"] == round(r["sampled_tokens"] / r["tokens"], 4)


def test_chunk_dedup_flags_seeded_duplicate_span(spark, tmp_path):
    """An 8-token chunk repeated verbatim in a later doc counts as a
    duplicate there and not in the first occurrence."""
    from earcrawler_spark.queries_training import q_chunk_dedup

    span = "a1 a2 a3 a4 a5 a6 a7 a8"
    rows = [
        (1, span + " b1 b2 b3 b4 b5 b6 b7 b8", "en", "s", 40),
        (2, span + " c1 c2 c3 c4 c5 c6 c7 c8", "en", "s", 40),  # dup of doc 1 chunk 0
        (3, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12 d13 d14 d15 d16", "en", "s", 40),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in q_chunk_dedup(spark, str(tmp_path)).collect()}
    assert out[1]["dup_chunks"] == 0
    assert out[2]["dup_chunks"] == 1 and out[2]["n_chunks"] == 2
    assert out[2]["dup_ratio"] == 0.5
    assert out[3]["dup_chunks"] == 0


def test_chunk_dedup_ignores_tail_chunks(spark, tmp_path):
    """Partial tail chunks (<8 tokens) are not counted at all, so a
    repeated 5-token tail cannot fire the duplicate rule."""
    from earcrawler_spark.queries_training import q_chunk_dedup

    tail = "t1 t2 t3 t4 t5"
    rows = [
        (1, "x1 x2 x3 x4 x5 x6 x7 x8 " + tail, "en", "s", 40),
        (2, "y1 y2 y3 y4 y5 y6 y7 y8 " + tail, "en", "s", 40),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in q_chunk_dedup(spark, str(tmp_path)).collect()}
    assert out[1]["n_chunks"] == 1 and out[2]["n_chunks"] == 1
    assert out[2]["dup_chunks"] == 0


def test_unigram_quality_hand_model(spark, tmp_path):
    """Two-token vocab: doc of only the common token scores higher
    (less negative) than the doc carrying the rare token, and avg_logp
    matches the direct ln(count/total) model at micro-int precision."""
    from earcrawler_spark.queries_training import q_unigram_quality

    rows = [
        (1, "w w w w", "en", "s", 8),
        (2, "w w w rare", "en", "s", 10),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in q_unigram_quality(spark, str(tmp_path)).collect()}
    lp_w = round(math.log(7 / 8) * 1e6)
    lp_rare = round(math.log(1 / 8) * 1e6)
    assert out[1]["avg_logp"] == round(4 * lp_w / 4 / 1e6, 6)
    assert out[2]["avg_logp"] == round((3 * lp_w + lp_rare) / 4 / 1e6, 6)
    assert out[1]["avg_logp"] > out[2]["avg_logp"]


def test_unigram_quality_bands_populated_on_corpus(spark):
    from earcrawler_spark.queries_training import q_unigram_quality

    bands = {
        r["band"]
        for r in q_unigram_quality(spark, SF).select("band").distinct().collect()
    }
    assert bands == {"high", "mid", "low"}


def test_semdedup_removes_seeded_near_duplicate(spark, tmp_path):
    """Identical vectors land in one cluster; the higher vec_id is
    listed for removal with the lower one as keeper.  An orthogonal
    vector survives."""
    from earcrawler_spark.queries_training import q_semdedup

    def basis(i: int) -> list[float]:
        v = [0.0] * 64
        v[i] = 1.0
        return v

    rows = []
    # 12 spread vectors so k-means (k=10) has enough distinct points
    for i in range(12):
        rows.append((i, basis(i), 0))
    rows.append((100, basis(0), 1))          # exact dup of vec 0
    df = spark.createDataFrame(rows, EMB_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["vec_id"]: r for r in q_semdedup(spark, str(tmp_path)).collect()}
    assert 100 in out and out[100]["keeper"] == 0
    assert out[100]["max_cos"] == 1.0
    assert 0 not in out                       # keeper itself never removed


def test_semdedup_pairs_confined_to_clusters(spark):
    """Every (vec, keeper) pair must share a centroid under the same
    trained quantizer — the whole point of the coarse-quantize step."""
    from earcrawler_spark.operators.similarity import ivf_assign, kmeans_train
    from earcrawler_spark.queries_tokens import IVF_ITERS, IVF_K
    from earcrawler_spark.queries_training import q_semdedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = kmeans_train(emb, k=IVF_K, iters=IVF_ITERS)
    cid = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, cents).select("vec_id", "centroid_id").collect()
    }
    rows = q_semdedup(spark, SF).collect()
    assert rows, "corpus fixture should contain near-duplicates"
    for r in rows:
        assert cid[r["vec_id"]] == r["centroid_id"] == cid[r["keeper"]]
        assert r["keeper"] < r["vec_id"]


def test_embedding_outliers_flags_anti_aligned_vector(spark, tmp_path):
    from earcrawler_spark.queries_training import q_embedding_outliers

    base = [1.0] + [0.0] * 63
    rows = [(i, base, 0) for i in range(5)]
    rows.append((99, [-1.0] + [0.0] * 63, 7))   # anti-aligned with the mean
    df = spark.createDataFrame(rows, EMB_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = q_embedding_outliers(spark, str(tmp_path)).collect()
    assert [r["vec_id"] for r in out] == [99]
    assert out[0]["cos_mean"] == -1.0 and out[0]["label"] == 7


def test_dsir_weights_pure_python_model(spark, tmp_path):
    """dsir_weights must equal a direct hashlib/math replication of the
    hashed-ngram importance weights; a source doc sharing the target
    slice's vocabulary bands target_like, a disjoint doc source_like."""
    import hashlib

    from earcrawler_spark.queries_training import DSIR_B, q_dsir_weights

    rows = [
        (0, "quantum flux capacitor resonance", "en", "t", 30),    # target (0 % 37 == 0)
        (37, "quantum entanglement flux drive", "en", "t", 30),    # target
        (1, "quantum flux capacitor lab notes", "en", "s", 30),    # shares target vocab
        (2, "cheap viagra casino pills now", "en", "s", 28),       # disjoint
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {r["doc_id"]: r for r in q_dsir_weights(spark, str(tmp_path)).collect()}

    def feats(text):
        ts = text.lower().split()
        return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]

    def bucket(f):
        return int(hashlib.sha256(f.encode()).hexdigest()[:2], 16)

    occ = []  # (doc_id, is_target, bucket)
    for doc_id, text, *_ in rows:
        for f in feats(text):
            occ.append((doc_id, doc_id % 37 == 0, bucket(f)))
    c_t: dict = {}
    c_s: dict = {}
    for _, is_t, b in occ:
        (c_t if is_t else c_s)[b] = (c_t if is_t else c_s).get(b, 0) + 1
    buckets = set(c_t) | set(c_s)
    tot_t, tot_s = sum(c_t.values()), sum(c_s.values())
    d_micro = {
        b: round(math.log((c_t.get(b, 0) + 1) / (tot_t + DSIR_B)) * 1e6)
        - round(math.log((c_s.get(b, 0) + 1) / (tot_s + DSIR_B)) * 1e6)
        for b in buckets
    }
    want: dict = {}
    for doc_id, is_t, b in occ:
        if is_t:
            continue
        n, s = want.get(doc_id, (0, 0))
        want[doc_id] = (n + 1, s + d_micro[b])
    assert set(out) == set(want) == {1, 2}
    for doc_id, (n, s) in want.items():
        assert out[doc_id]["n_feats"] == n
        assert out[doc_id]["log_ratio"] == round(s / 1e6, 6)
    # the vocab-sharing doc must outrank the disjoint doc (the DSIR
    # selection property); absolute zero-crossing bands are corpus-sized
    assert out[1]["log_ratio"] > out[2]["log_ratio"]
    assert out[2]["band"] == "source_like"
    for r in out.values():
        assert r["band"] == (
            "target_like" if r["log_ratio"] > 0 else "source_like"
        )


def test_dsir_weights_excludes_target_slice(spark):
    from earcrawler_spark.queries_training import q_dsir_weights

    for r in q_dsir_weights(spark, SF).select("doc_id").collect():
        assert r["doc_id"] % 37 != 0


def _bpe_reference(word_counts: dict, n_merges: int):
    """Textbook BPE (Sennrich et al. 2016): greedy pair merge over the
    word-count table, ties broken (count desc, left asc, right asc)."""
    vocab = {tuple(w) + ("</w>",): c for w, c in word_counts.items()}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: dict = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        (l, r), total = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, total))
        new_vocab: dict = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_merges_matches_reference_model(spark, tmp_path):
    """The distributed trainer must reproduce the sequential reference
    implementation merge-for-merge, including the repeated-symbol
    greedy-left case (aaaa) and cross-word count pooling."""
    from earcrawler_spark.queries_training import q_bpe_merges

    rows = [
        (1, "the cat sat on the mat the cat", "en", "s", 30),
        (2, "the hat and the cat and the bat", "en", "s", 31),
        (3, "aaaa aaaa aa Mixed-CASE! tokens", "en", "s", 30),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in q_bpe_merges(spark, str(tmp_path)).collect()
    ]
    wc: dict = {}
    for _, text, *_ in rows:
        for w in text.lower().split():
            if w.isascii() and w.isalnum():
                wc[w] = wc.get(w, 0) + 1
    assert got == _bpe_reference(wc, 8)
    # the classic corpus learns real subwords: 'the' must assemble
    assert any(m[3] == "the</w>" for m in got)


def test_bpe_merges_repeated_symbol_greedy_left(spark, tmp_path):
    """'aaaa' must count pair (a,a) 3 times pre-merge but merge only
    non-overlapping occurrences left-to-right: (aa)(aa), not 3 merges."""
    from earcrawler_spark.queries_training import q_bpe_merges

    df = spark.createDataFrame([(1, "aaaa aaaa", "en", "s", 9)], DOC_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = q_bpe_merges(spark, str(tmp_path)).collect()
    # greedy-left: 3 overlapping (a,a) pair occurrences counted, but the
    # merge collapses aaaa -> (aa)(aa), so the pair survives one round
    assert (out[0]["left_sym"], out[0]["right_sym"], out[0]["pair_count"]) == ("a", "a", 6)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in out
    ]
    assert got == _bpe_reference({"aaaa": 2}, 8)
    # the single word fully merges before 8 rounds: trainer stops early
    assert len(out) < 8


def test_bpe_segment_matches_reference_segmentation(spark, tmp_path, monkeypatch):
    """Per-doc subword counts must equal segmenting each word with the
    sequential reference's merge sequence; both queries share ONE
    training pass per (session, sf_dir)."""
    from earcrawler_spark import queries_training as qt
    from earcrawler_spark import session

    rows = [
        (1, "the cat sat on the mat the cat", "en", "s", 30),
        (2, "the hat and the cat and the bat", "en", "s", 31),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    wc: dict = {}
    for _, text, *_ in rows:
        for w in text.lower().split():
            wc[w] = wc.get(w, 0) + 1
    merges = _bpe_reference(wc, qt.BPE_MERGES)

    def segment(word: str) -> int:
        syms = list(word) + ["</w>"]
        for _, l, r, _, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    trained = []
    train_pass = qt._bpe_train_pass
    monkeypatch.setattr(
        qt, "_bpe_train_pass", lambda s, d: trained.append(d) or train_pass(s, d)
    )

    def bpe_entries():
        return [k for k in session._SHARED if k[2] == "bpe_train"]

    out = {r["doc_id"]: r for r in qt.q_bpe_segment(spark, str(tmp_path)).collect()}
    assert trained == [str(tmp_path)]         # training ran, shared
    assert [k[1] for k in bpe_entries()] == [str(tmp_path)]
    for doc_id, text, *_ in rows:
        words = text.lower().split()
        assert out[doc_id]["n_words"] == len(words)
        assert out[doc_id]["n_subwords"] == sum(segment(w) for w in words)
        assert out[doc_id]["n_chars"] == sum(len(w) for w in words)
        assert out[doc_id]["subwords_per_word"] == round(
            out[doc_id]["n_subwords"] / out[doc_id]["n_words"], 6
        )
    # bpe_merges serves off the same cached pass (no retrain)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in qt.q_bpe_merges(spark, str(tmp_path)).collect()
    ]
    assert got == merges
    assert trained == [str(tmp_path)]
    assert [k[1] for k in bpe_entries()] == [str(tmp_path)]


def test_semantic_decontamination_flags_seeded_paraphrase(spark, tmp_path):
    """A pool vector aligned with an eval-slice vector must be flagged
    with that eval item as closest; orthogonal pool vectors must not.
    Eval-slice vectors themselves are never reported."""
    from earcrawler_spark.queries_training import (
        SEM_DECON_T,
        q_semantic_decontamination,
    )

    def basis(i, scale=1.0):
        v = [0.0] * 64
        v[i] = scale
        return v

    rows = [
        (0, basis(0), 0),            # eval (0 % 37 == 0)
        (37, basis(1), 0),           # eval
        (1, basis(0, 2.0), 1),       # parallel to eval 0 -> cos 1.0
        (2, basis(5), 1),            # orthogonal to both eval vectors
        (3, [x + y for x, y in zip(basis(0), basis(1))], 1),  # cos .7071 to both
    ]
    df = spark.createDataFrame(rows, EMB_SCHEMA)
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["vec_id"]: r for r in q_semantic_decontamination(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 3}
    assert out[1]["closest_eval"] == 0 and out[1]["max_cos"] == 1.0
    assert out[1]["n_eval_hits"] == 1
    # vec 3 ties between eval 0 and 37 at cos 0.707107 -> lower id wins
    assert out[3]["n_eval_hits"] == 2 and out[3]["closest_eval"] == 0
    assert out[3]["max_cos"] == round(2 ** -0.5, 6)
    assert all(r["max_cos"] >= SEM_DECON_T for r in out.values())


def test_semantic_decontamination_never_reports_eval_vectors(spark):
    from earcrawler_spark.queries_training import q_semantic_decontamination

    for r in q_semantic_decontamination(spark, SF).collect():
        assert r["vec_id"] % 37 != 0


def test_curriculum_order_ranks_and_phases(spark):
    """Ranks are a per-lang permutation ordered easiest-first (avg_logp
    descending, shard_no tie-break); terciles cover each language; shard
    identities and doc counts agree with shard_packing."""
    from earcrawler_spark.queries_training import (
        q_curriculum_order,
        q_shard_packing,
    )

    out = q_curriculum_order(spark, SF).collect()
    per_lang: dict = {}
    for r in out:
        per_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in per_lang.items():
        rows = sorted(rows, key=lambda r: r["curriculum_rank"])
        assert [r["curriculum_rank"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [(-r["avg_logp"], r["shard_no"]) for r in rows]
        assert keys == sorted(keys)
        n = len(rows)
        for r in rows:
            want = ("easy" if r["curriculum_rank"] * 3 <= n
                    else "medium" if r["curriculum_rank"] * 3 <= 2 * n
                    else "hard")
            assert r["phase"] == want
    packing = {(r["lang"], r["shard_no"]): r for r in q_shard_packing(spark, SF).collect()}
    assert {(r["lang"], r["shard_no"]) for r in out} == set(packing)
    for r in out:
        assert r["n_docs"] == packing[(r["lang"], r["shard_no"])]["n_docs"]
        assert r["shard_tokens"] == packing[(r["lang"], r["shard_no"])]["shard_tokens"]
