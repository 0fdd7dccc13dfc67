"""Tests for dedup / similarity / text / multimodal operators — the queries
without DuckDB oracles get their correctness baselines here."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.functions.text import SIMHASH_BITS, _detect_lang
from rocana_impala_udfs_spark.operators import dedup, multimodal, similarity
from rocana_impala_udfs_spark.sources.io import load_table

SF = "/root/testdata/sf0.001"


# --- dedup -----------------------------------------------------------------


def test_exact_dedup_no_dups_is_identity(spark):
    docs = load_table(spark, SF, "documents")
    out = dedup.exact_dedup(docs)
    assert out.count() == docs.count()  # sf0.001 corpus has no exact dups


def test_exact_dedup_collapses_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df).collect()
    kept = sorted(r.doc_id for r in out)
    assert kept == [1, 3]  # min-id survivor; normalization collapses 1 and 2


def test_minhash_equals_exact_jaccard(spark):
    docs = load_table(spark, SF, "documents")
    lsh = {(r.i, r.j) for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    exact = {(r.i, r.j) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    assert lsh == exact and len(exact) > 0


def _simhash_py(tokens: list[str]) -> int:
    """Independent pure-Python reference of the documented formula:
    60-bit md5 token hash, +1/-1 bit votes, bit set iff vote sum > 0."""
    import hashlib

    if not tokens:
        return 0
    acc = [0] * SIMHASH_BITS
    for tok in tokens:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for i in range(SIMHASH_BITS):
            acc[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(SIMHASH_BITS) if acc[i] > 0)


def test_simhash_pairs_match_bruteforce(spark):
    # max_hamming=6 -> 7 chunks over 60 bits, exercising the uneven
    # remainder chunk (4 chunks of 8 bits + last chunk of 12... i.e.
    # 60 // 7 = 8 with the final chunk absorbing 12 bits).
    docs = load_table(spark, SF, "documents").limit(200)
    got = {(r.i, r.j) for r in dedup.simhash_pairs(docs, max_hamming=6).collect()}
    # brute force in driver with an independent Python reimplementation
    rows = docs.select("doc_id", "text").collect()
    fps = {r.doc_id: _simhash_py((r.text or "").lower().split()) for r in rows}
    ids = sorted(fps)
    expect = {
        (i, j)
        for idx, i in enumerate(ids)
        for j in ids[idx + 1 :]
        if bin(fps[i] ^ fps[j]).count("1") <= 6
    }
    assert got == expect


# --- similarity ------------------------------------------------------------


def test_bruteforce_topk_self_consistency(spark):
    emb = load_table(spark, SF, "embeddings")
    out = similarity.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert [r.rk for r in sorted(rows, key=lambda r: r.rk)] == [1, 2, 3, 4, 5]
        cos_sorted = [r.cos for r in sorted(rows, key=lambda r: r.rk)]
        assert cos_sorted == sorted(cos_sorted, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_topk_recall(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {(r.query_id, r.neighbor_id) for r in similarity.brute_force_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in similarity.lsh_bucket_topk(emb, queries, k=5).collect()}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"


def test_hash_split_stable_and_partitioned(spark):
    from rocana_impala_udfs_spark.operators.sampling import hash_split

    docs = load_table(spark, SF, "documents")
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id").select("doc_id", "split").collect()}
    b = {r.doc_id: r.split for r in hash_split(docs.repartition(7), "doc_id").select("doc_id", "split").collect()}
    assert a == b  # content-addressed: partitioning/run order irrelevant
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.7 < frac_train < 0.9
    assert set(a.values()) == {"train", "val", "test"}


def test_stratified_sample_fractions(spark):
    from rocana_impala_udfs_spark.operators.sampling import stratified_sample

    ev = load_table(spark, SF, "events")
    fractions = {"click": 0.2, "purchase": 1.0}
    got = {
        r.event_type: r.n
        for r in stratified_sample(ev, "event_type", fractions)
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    totals = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(got) == {"click", "purchase"}  # unlisted strata dropped
    assert got["purchase"] == totals["purchase"]  # fraction 1.0 keeps all
    assert 0.05 < got["click"] / totals["click"] < 0.4  # Bernoulli ~0.2


def test_embedding_neardup_finds_planted_pairs(spark):
    """The driver corpus has no embedding near-dups (max pairwise cos ≈ 0.51
    at sf0.01), so the oracle check only proves empty-correctness; here we
    plant true near-duplicates and require the LSH pipeline to find exactly
    them."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 64))
    rows = [(i, base[i].tolist()) for i in range(40)]
    # ids 100+i are near-copies of ids 0..4 (tiny perturbation, cos > 0.999)
    for i in range(5):
        rows.append((100 + i, (base[i] + rng.standard_normal(64) * 0.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.i, r.j) for r in similarity.embedding_neardup_pairs(df, threshold=0.95).collect()}
    assert got == {(i, 100 + i) for i in range(5)}


def test_embedding_pairs_exact_is_exhaustive(spark):
    """`embedding_pairs_exact` (the non-vacuous driver gate, VERDICT r14
    #1) must equal brute-force numpy cosine over every in-range pair —
    no LSH, no recall question — and respect the id bound."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((30, 64))
    df = spark.createDataFrame(
        [(i, vecs[i].tolist()) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.i, r.j): r.cos
        for r in similarity.embedding_pairs_exact(df, threshold=0.1, id_max=20).collect()
    }
    want = {}
    for i in range(20):
        for j in range(i + 1, 20):
            c = float(
                np.dot(vecs[i], vecs[j])
                / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j]))
            )
            if round(c, 4) >= 0.1:
                want[(i, j)] = round(c, 4)
    assert got.keys() == want.keys() and len(want) > 0
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=2e-4)
    assert all(i < 20 and j < 20 for i, j in got)  # id bound enforced


def test_bruteforce_np_matches_hof_path(spark):
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    a = {(r.query_id, r.rk): (r.neighbor_id, r.cos) for r in similarity.brute_force_topk(emb, q, 5).collect()}
    b = {(r.query_id, r.rk): (r.neighbor_id, r.cos) for r in similarity.brute_force_topk_np(emb, q, 5).collect()}
    assert a == b


def test_ivf_topk_recall(spark):
    # Registry params (nlist=16, nprobe=8, queries vec_id<20) — the same
    # configuration ann_ivf_top5 and tools/weak_evidence.py measure, so
    # this anchor certifies the shipped key, not a softer variant. The 0.7
    # floor sits 0.14 under the measured 0.84 (see ivf_topk docstring for
    # the nprobe recall curve; VERDICT r15 #3 re-tightened the band).
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(emb, queries, k=5).collect()
    }
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.7, f"IVF recall {recall} too low"


def test_cosine_sim_known_values(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], "a array<double>, b array<double>")
    out = df.select(F.round(similarity.cosine_sim(F.col("a"), F.col("b")), 6).alias("c")).collect()
    assert out[0].c == pytest.approx(0.0) and out[1].c == pytest.approx(1.0)


def test_cosine_sim_named_bit_identical(spark):
    """The one-parsed-expression form (r17 build-time optimization) must be
    bit-for-bit the Column-API composition on real embedding pairs — same
    HOF tree, same fold order, same double accumulator seed."""
    emb = load_table(spark, SF, "embeddings")
    pairs = (
        emb.selectExpr("vec_id AS qid", "embedding AS q_vec")
        .crossJoin(emb.selectExpr("vec_id AS nid", "embedding AS n_vec"))
        .filter("qid < 5 AND nid < 60")
    )
    both = pairs.select(
        similarity.cosine_sim(F.col("q_vec"), F.col("n_vec")).alias("a"),
        similarity.cosine_sim_named("q_vec", "n_vec").alias("b"),
    ).collect()
    assert len(both) > 100
    assert all(r.a == r.b for r in both), "expr form diverged from Column form"


# --- text ------------------------------------------------------------------


def test_lang_id_heuristic():
    assert _detect_lang("the cat sat on the mat and it is warm") == "en"
    assert _detect_lang("der Hund ist nicht mit der Katze und das ist gut") == "de"
    assert _detect_lang("el perro y la casa que es grande en un lugar") == "es"
    assert _detect_lang("这是一个中文句子，用来测试语言检测功能的准确性。") == "zh"
    assert _detect_lang("") == "und"


def test_quality_score_bounds(spark):
    docs = load_table(spark, SF, "documents")
    from rocana_impala_udfs_spark.functions.text import quality_score

    stats = docs.select(quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).collect()[0]
    assert 0.0 <= stats.lo <= stats.hi <= 1.0


# --- multimodal ------------------------------------------------------------


def test_udtf_top_tokens(spark):
    from rocana_impala_udfs_spark.register import register_all

    register_all(spark)
    spark.createDataFrame(
        [(1, "b a a c b a")], "doc_id long, text string"
    ).createOrReplaceTempView("_one_doc")
    got = spark.sql(
        "SELECT t.token, t.n FROM _one_doc, LATERAL top_tokens(text, 2) t ORDER BY t.n DESC"
    ).collect()
    assert [(r.token, r.n) for r in got] == [("a", 3), ("b", 2)]


def test_multimodal_feature_plumbing(spark):
    docs = load_table(spark, SF, "documents").limit(60)
    media = multimodal.synthetic_media(spark, docs)
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == 60
    for r in rows[:5]:
        assert len(r.features) == multimodal.FEATURE_DIM
        assert abs(sum(r.features) - 1.0) < 1e-5  # L1-normalized histogram
    assert {r.modality for r in rows} == {"image", "audio", "video"}


def test_multimodal_frame_sampling(spark):
    docs = load_table(spark, SF, "documents").limit(30)
    media = multimodal.synthetic_media(spark, docs)
    frames = multimodal.sample_frames(media, num_frames=4)
    rows = frames.collect()
    n_videos = media.filter(F.col("modality") == "video").count()
    assert len(rows) == 4 * n_videos
    one = [r for r in rows if r.media_id == rows[0].media_id]
    assert sorted(r.frame_idx for r in one) == [0, 1, 2, 3]
    assert all(r.frame_offset_ms >= 0 for r in rows)


def test_multimodal_real_path_raises(spark):
    docs = load_table(spark, SF, "documents").limit(3)
    media = multimodal.synthetic_media(spark, docs)
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        multimodal.extract_features(media, fake=False).collect()


def test_contamination_matches_bruteforce(spark):
    """Flagged doc set == brute-force recomputation of shared 8-shingles."""
    from rocana_impala_udfs_spark.operators.dedup import contamination_hits

    docs = load_table(spark, SF, "documents")
    got = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits(docs, F.col("source") == "src0", k=8).collect()
    }

    def shingles(text: str) -> set[str]:
        w = " ".join(text.lower().split()).split(" ")
        return {" ".join(w[i : i + 8]) for i in range(len(w) - 7)} if len(w) >= 8 else set()

    rows = docs.select("doc_id", "source", "text").collect()
    eval_sh = set().union(*(shingles(r.text) for r in rows if r.source == "src0"))
    want = set()
    for r in rows:
        if r.source == "src0":
            continue
        hits = len(shingles(r.text) & eval_sh)
        if hits:
            want.add((r.doc_id, hits))
    assert got == want


def test_tfidf_ranks_are_dense_per_doc(spark):
    from rocana_impala_udfs_spark.plans.pipeline import q_tfidf_top_terms

    rows = q_tfidf_top_terms(spark, SF).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc  # docs 0..99 exist at smoke scale
    for doc_id, rs in by_doc.items():
        assert sorted(r.rk for r in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        # scores non-increasing in rank order
        ordered = sorted(rs, key=lambda r: r.rk)
        assert all(a.tfidf >= b.tfidf for a, b in zip(ordered, ordered[1:]))


def test_connected_components_paths_agree(spark):
    """Driver union-find and distributed label propagation must label
    identically: chain, clique, isolated pair, and cross-cluster ids."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "i long, j long",
    )
    fast = {(r.id, r.component) for r in dedup.connected_components(pairs).collect()}
    # force distributed label propagation
    slow = {(r.id, r.component) for r in dedup.connected_components(pairs, driver_max_edges=-1).collect()}
    assert fast == slow
    assert fast == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


# --- heavy hitters / chunk dedup -------------------------------------------


def test_heavy_hitters_matches_exact_groupby(spark):
    """Zipf-ish skew over many partitions: the MG+recount result must equal
    the exact GROUP BY / HAVING result, values and counts both."""
    import math
    import random

    from rocana_impala_udfs_spark.operators.frequency import heavy_hitters

    rng = random.Random(7)
    vals = [f"v{int(rng.paretovariate(1.2)) % 50}" for _ in range(20_000)]
    df = spark.createDataFrame([(v,) for v in vals], "tok string").repartition(16)
    min_frac = 0.02
    got = {(r.tok, r.cnt) for r in heavy_hitters(df, "tok", min_frac).collect()}
    thresh = math.ceil(min_frac * len(vals))
    exact = {
        (r.tok, r.cnt)
        for r in df.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).filter(F.col("cnt") >= thresh).collect()
    }
    assert got == exact and len(exact) > 0


def test_misra_gries_candidate_bound(spark):
    """Phase 1 must emit at most m candidates per partition (bounded shuffle)."""
    from rocana_impala_udfs_spark.operators.frequency import misra_gries_candidates

    df = spark.createDataFrame([(f"u{i}",) for i in range(5_000)], "tok string").repartition(8)
    m = 10
    assert misra_gries_candidates(df, "tok", m).count() <= m * 8


def test_chunk_dedup_stats_duplicate_and_short_docs(spark):
    """Doc 2 repeats doc 1 exactly → keeps 0 chunks; a short doc is one
    chunk; a 25-word doc is two chunks (partial tail chunk counted)."""
    w25 = " ".join(f"w{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, w25), (2, w25), (3, "tiny doc")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.total_chunks, r.kept_chunks) for r in dedup.chunk_dedup_stats(df, chunk_words=20).collect()}
    assert out == {1: (2, 2), 2: (2, 0), 3: (1, 1)}


def test_semantic_dedup_finds_planted_pairs(spark):
    """SemDeDup path: near-identical planted vectors must share a k-means
    cluster and be emitted; nothing else in the corpus clears cos >= 0.95."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 64))
    rows = [(i, base[i].tolist()) for i in range(40)]
    for i in range(5):
        rows.append((100 + i, (base[i] + rng.standard_normal(64) * 0.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {(r.i, r.j) for r in similarity.semantic_dedup_pairs(df, threshold=0.95, nlist=8).collect()}
    assert got == {(i, 100 + i) for i in range(5)}


def test_semantic_dedup_fixed_finds_planted_pairs_and_kernel_parity(spark):
    """Frozen-codebook SemDeDup twin: (a) planted near-identical vectors
    share their nearest frozen centroid and are emitted; (b) the Arrow
    pair-cosine kernel is BIT-IDENTICAL to the HOF chain (the property
    that lets the key keep the HOF-certified oracle while escaping the
    interpreted per-element fold — the sf1x blowup class)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 64))
    rows = [(i, base[i].tolist()) for i in range(40)]
    for i in range(5):
        rows.append((100 + i, (base[i] + rng.standard_normal(64) * 0.01).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.i, r.j)
        for r in similarity.semantic_dedup_fixed_pairs(df, threshold=0.95).collect()
    }
    assert got == {(i, 100 + i) for i in range(5)}

    # kernel parity: raw (unrounded) doubles equal bit-for-bit
    pairs = spark.createDataFrame(
        [(base[i].tolist(), base[j].tolist()) for i in range(10) for j in range(10)],
        "a array<double>, b array<double>",
    )
    hof = [
        r.c
        for r in pairs.select(
            similarity.cosine_sim(F.col("a"), F.col("b")).alias("c")
        ).collect()
    ]
    arrow = [
        r.c
        for r in pairs.select(
            similarity._pair_cosine_udf()(F.col("a"), F.col("b")).alias("c")
        ).collect()
    ]
    assert hof == arrow  # exact equality, not approx


def test_fuzzy_pairs_edit_distance_semantics(spark):
    """Substitution, insertion, deletion at distance 1 all match over the
    DISTINCT value domain; duplicates collapse; distance-2 strings don't
    match."""
    from rocana_impala_udfs_spark.operators.fuzzy import fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "ab"), (4, "abcd"), (5, "xyz"), (6, "abc"), (7, "azd")],
        "p_partkey long, p_name string",
    )
    got = {(r.a, r.b): r.dist for r in fuzzy_pairs(df, "p_name").collect()}
    assert got == {
        ("ab", "abc"): 1,    # deletion
        ("ab", "abd"): 1,
        ("abc", "abd"): 1,   # substitution
        ("abc", "abcd"): 1,  # insertion
        ("abcd", "abd"): 1,
        ("abd", "azd"): 1,
    }


def test_fuzzy_pairs_distance2_matches_brute_force(spark):
    """The depth-2 deletion closure has recall 1 at d=2: compare against a
    brute-force all-pairs Levenshtein over a corpus mixing 1-char strings,
    double-edits (substitute+insert, two deletes), and >2-distant decoys."""
    from pyspark.sql import functions as F

    from rocana_impala_udfs_spark.operators.fuzzy import fuzzy_pairs

    vals = ["abc", "abd", "ab", "abcd", "xyz", "azd", "azz", "a", "abcde",
            "bcd", "hello", "help", "hero", "zzzz"]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "p_partkey long, p_name string")
    got = {(r.a, r.b): r.dist for r in fuzzy_pairs(df, "p_name", max_dist=2).collect()}

    names = df.select(F.col("p_name").alias("name")).distinct()
    brute = (
        names.alias("x").join(names.alias("y"), F.col("x.name") < F.col("y.name"))
        .select(F.col("x.name").alias("a"), F.col("y.name").alias("b"),
                F.levenshtein("x.name", "y.name").alias("dist"))
        .filter(F.col("dist") <= 2)
    )
    want = {(r.a, r.b): r.dist for r in brute.collect()}
    assert got == want
    assert any(d == 2 for d in want.values())  # the corpus exercises d=2


def test_fuzzy_pairs_rejects_unsupported_distance(spark):
    import pytest as _pytest

    from rocana_impala_udfs_spark.operators.fuzzy import fuzzy_pairs

    df = spark.createDataFrame([(1, "abc")], "p_partkey long, p_name string")
    with _pytest.raises(NotImplementedError):
        fuzzy_pairs(df, "p_name", max_dist=3)


def test_pack_sequences_invariants(spark):
    """Every doc assigned exactly once; no bin over budget (unless a single
    oversized doc owns it); first-fit-decreasing keeps bins reasonably
    full."""
    from rocana_impala_udfs_spark.operators.packing import pack_sequences

    docs = load_table(spark, SF, "documents")
    out = pack_sequences(docs, max_tokens=128).collect()
    assert len(out) == docs.count()  # every doc exactly once
    assert len({r.doc_id for r in out}) == len(out)
    by_bin = {}
    for r in out:
        by_bin.setdefault(r.bin_id, []).append(r)
    for rows in by_bin.values():
        fill = sum(r.n_tokens for r in rows)
        assert all(r.bin_fill == fill for r in rows)  # reported fill is real
        assert fill <= 128 or len(rows) == 1  # over budget only when alone
    # fill efficiency: average bin ≥ 60% full (FFD on ~60-90-token docs)
    fills = [sum(r.n_tokens for r in rows) for rows in by_bin.values()]
    assert sum(fills) / (len(fills) * 128) > 0.6


def test_weighted_sample_respects_weights(spark):
    """A-Res: inclusion frequency must track weights. Two weight classes
    (10:1) over 200 rows, k=20, across 30 seeds — heavy rows must win a
    large majority of slots, and output size is always exactly k."""
    from rocana_impala_udfs_spark.operators.sampling import weighted_sample

    rows = [(i, 10.0 if i < 100 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w double").cache()
    df.count()
    heavy = total = 0
    for seed in range(30):
        got = weighted_sample(df, "w", 20, seed=seed).collect()
        assert len(got) == 20
        heavy += sum(1 for r in got if r.w == 10.0)
        total += 20
    # E[heavy fraction] ≈ 0.87 for 10:1 weights at this k/n; require >> 0.5
    assert heavy / total > 0.75, heavy / total


def test_weighted_sample_excludes_nonpositive(spark):
    from rocana_impala_udfs_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 5.0)], "id long, w double"
    )
    got = {r.id for r in weighted_sample(df, "w", 10).collect()}
    assert got == {3}


def test_driver_cc_max_edges_derivation(spark):
    # default: derived from driver memory, never below the floor
    assert dedup._driver_cc_max_edges(spark) >= 10_000
    # explicit override wins
    spark.conf.set("spark.rocana.cc.maxDriverEdges", "123")
    try:
        assert dedup._driver_cc_max_edges(spark) == 123
    finally:
        spark.conf.unset("spark.rocana.cc.maxDriverEdges")


def test_kmeans_lloyd_deterministic_and_monotone(spark):
    emb = load_table(spark, SF, "embeddings")
    a1, cents1, hist1 = similarity.kmeans_lloyd(emb, k=4, iters=4)
    a2, _, hist2 = similarity.kmeans_lloyd(emb, k=4, iters=4)
    assert hist1 == hist2  # fully deterministic
    # Lloyd inertia is non-increasing
    assert all(b <= a + 1e-6 for a, b in zip(hist1, hist1[1:]))
    # every vector assigned exactly once
    n = emb.count()
    assert a1.count() == n
    got1 = {(r.vec_id, r.cluster) for r in a1.collect()}
    got2 = {(r.vec_id, r.cluster) for r in a2.collect()}
    assert got1 == got2


def test_kmeans_assign_onestep_matches_bruteforce(spark):
    import numpy as np

    emb = load_table(spark, SF, "embeddings")
    got = {r.vec_id: r.cluster for r in similarity.kmeans_assign_onestep(emb, 4).collect()}
    rows = emb.collect()
    cents = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows if r.vec_id < 4}
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64)
        best = min(sorted(cents), key=lambda c: (float(np.linalg.norm(v - cents[c])), c))
        assert got[r.vec_id] == best


def test_ppm_codec_roundtrip():
    import numpy as np

    from rocana_impala_udfs_spark.operators.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(11, 13, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    # non-PPM payloads are explicitly unsupported, not silently faked
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_ppm(b"\x89PNG\r\n\x1a\n....")


def test_ppm_resize_matches_reference(spark):
    """The distributed resize must equal an independent driver-side
    nearest-neighbor reference, byte for byte."""
    import hashlib

    import numpy as np

    from rocana_impala_udfs_spark.operators import multimodal

    docs = load_table(spark, SF, "documents").limit(50)
    media = multimodal.synthetic_ppm_images(spark, docs)
    got = {r.media_id: r.resized_md5 for r in multimodal.ppm_resize_nn(media, 8, 8).collect()}
    for r in media.collect():
        img = multimodal.decode_ppm(bytes(r.payload))
        h, w, _ = img.shape
        ref = img[np.ix_((np.arange(8) * h) // 8, (np.arange(8) * w) // 8)]
        assert got[r.media_id] == hashlib.md5(multimodal.encode_ppm(ref)).hexdigest()


def test_png_codec_roundtrip_all_filters():
    # encoder cycles filters 0-4 by row; 11 rows hit each at least twice
    rng = np.random.default_rng(42)
    for h, w in [(1, 1), (5, 3), (11, 8), (7, 20)]:
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        out = multimodal.decode_png(multimodal.encode_png(img))
        assert out.shape == img.shape
        assert (out == img).all()


def test_png_codec_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=16),
        w=st.integers(min_value=1, max_value=16),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def check(h, w, seed):
        img = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (multimodal.decode_png(multimodal.encode_png(img)) == img).all()

    check()


def test_png_decode_rejects_non_png():
    import pytest as _pt

    with _pt.raises(NotImplementedError):
        multimodal.decode_png(b"P6\n1 1\n255\nabc")


def test_png_decode_detects_corruption():
    import pytest as _pt

    payload = bytearray(multimodal.encode_png(np.zeros((4, 4, 3), dtype=np.uint8)))
    payload[40] ^= 0xFF  # flip a byte inside a chunk body
    with _pt.raises(ValueError):
        multimodal.decode_png(bytes(payload))


def test_png_decode_stats_spark_plumbing(spark):
    docs = load_table(spark, SF, "documents").limit(30)
    media = multimodal.synthetic_png_images(spark, docs)
    stats = multimodal.png_decode_stats(media).collect()
    assert len(stats) == 30
    for r in stats:
        assert 8 <= r.img_w <= 12 and 8 <= r.img_h <= 18
        for m in (r.mean_r, r.mean_g, r.mean_b):
            assert 32 <= m <= 127  # printable-ASCII pixel bytes


def test_stratified_hash_gate_fractions_and_determinism(spark):
    from rocana_impala_udfs_spark.operators.sampling import stratified_hash_gate

    ev = load_table(spark, SF, "events")
    fractions = {"click": 0.1, "purchase": 1.0, "error": 0.5}
    kept = stratified_hash_gate(ev, "event_type", "event_id", fractions)
    base = {r.event_type: r.n for r in ev.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    got = {r.event_type: r.n for r in kept.groupBy("event_type").count().withColumnRenamed("count", "n").collect()}
    assert set(got) <= set(fractions)  # absent strata dropped
    assert got["purchase"] == base["purchase"]  # fraction 1.0 keeps all
    assert 0.05 <= got["click"] / base["click"] <= 0.15
    assert 0.4 <= got["error"] / base["error"] <= 0.6
    # content-addressed: a second evaluation selects the identical id set
    ids1 = {r.event_id for r in kept.select("event_id").collect()}
    ids2 = {r.event_id for r in stratified_hash_gate(ev, "event_type", "event_id", fractions).select("event_id").collect()}
    assert ids1 == ids2


def test_weighted_sample_deterministic_exact_k_and_bias(spark):
    from rocana_impala_udfs_spark.functions.text import quality_score
    from rocana_impala_udfs_spark.operators.sampling import weighted_sample_deterministic

    docs = load_table(spark, SF, "documents").select(
        "doc_id", quality_score("text").alias("quality")
    )
    got = weighted_sample_deterministic(docs, "quality", "doc_id", 50).collect()
    assert len(got) == 50
    # repeatable row-for-row (no RNG state anywhere)
    again = weighted_sample_deterministic(docs, "quality", "doc_id", 50).collect()
    assert [r.doc_id for r in got] == [r.doc_id for r in again]
    # weighted: with strongly separated weights, heavy rows dominate the
    # sample (corpus quality is near-uniform, so bias is tested synthetically)
    synth = spark.createDataFrame(
        [(i, 0.95 if i % 2 == 0 else 0.05) for i in range(400)], "doc_id long, quality double"
    )
    heavy = weighted_sample_deterministic(synth, "quality", "doc_id", 50).collect()
    n_heavy = sum(1 for r in heavy if r.quality > 0.5)
    assert n_heavy >= 45


def test_ppm_feature_histogram_real_decode(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    media = multimodal.synthetic_ppm_images(spark, docs)
    rows = multimodal.ppm_feature_histogram(media).collect()
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r)
    assert len(by_id) == 20
    for mid, bins in by_id.items():
        # L1-normalized: fractions sum to 1 (rounding to 6dp per bin)
        assert sum(b.frac for b in bins) == pytest.approx(1.0, abs=1e-4)
        # printable-ASCII pixels land in bins 4..15 (32..127 // 8)
        assert all(4 <= b.bin <= 15 for b in bins)


def test_jpeg_codec_roundtrip_flat_blocks():
    rng = np.random.default_rng(11)
    for bh, bw in [(1, 1), (2, 3), (3, 2), (3, 1)]:
        grid = rng.integers(0, 256, size=(bh, bw))
        img = np.kron(grid, np.ones((8, 8), dtype=np.uint8)).astype(np.uint8)
        dec = multimodal.decode_jpeg_gray(multimodal.encode_jpeg_gray_flat(img))
        assert dec.shape == img.shape
        assert (dec == img).all()


def test_jpeg_codec_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        bh=st.integers(min_value=1, max_value=4),
        bw=st.integers(min_value=1, max_value=4),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def check(bh, bw, seed):
        grid = np.random.default_rng(seed).integers(0, 256, size=(bh, bw))
        img = np.kron(grid, np.ones((8, 8), dtype=np.uint8)).astype(np.uint8)
        assert (multimodal.decode_jpeg_gray(multimodal.encode_jpeg_gray_flat(img)) == img).all()

    check()


def test_jpeg_decode_rejects_non_baseline():
    import pytest as _pt

    with _pt.raises(NotImplementedError):
        multimodal.decode_jpeg_gray(b"P6\n1 1\n255\nabc")
    # progressive: swap SOF0 marker for SOF2
    payload = bytearray(multimodal.encode_jpeg_gray_flat(np.zeros((8, 8), dtype=np.uint8)))
    idx = bytes(payload).find(b"\xff\xc0")
    payload[idx + 1] = 0xC2
    with _pt.raises(NotImplementedError):
        multimodal.decode_jpeg_gray(bytes(payload))


def test_jpeg_encoder_rejects_nonflat_blocks():
    import pytest as _pt

    img = np.zeros((8, 8), dtype=np.uint8)
    img[0, 0] = 255  # non-flat block -> AC energy -> out of encoder scope
    with _pt.raises(ValueError):
        multimodal.encode_jpeg_gray_flat(img)


def test_jpeg_decode_stats_spark_plumbing(spark):
    docs = load_table(spark, SF, "documents").limit(24)
    media = multimodal.synthetic_jpeg_images(spark, docs)
    rows = multimodal.jpeg_decode_stats(media).collect()
    assert len(rows) == 24
    for r in rows:
        assert r.img_w in (8, 16) and r.img_h in (8, 16, 24)
        assert 32 <= r.mean_gray <= 127  # printable-ASCII gray levels


def test_chunk_overlap_coverage_and_stride(spark):
    import __spark_entry__ as e

    rows = e.queries()["chunk_documents_overlap"](spark, SF).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {r.doc_id: r.text for r in load_table(spark, SF, "documents").collect()}
    assert set(by_doc) <= set(docs)
    for doc_id, chunks in list(by_doc.items())[:50]:
        idxs = sorted(c.chunk_idx for c in chunks)
        assert idxs == list(range(len(idxs)))  # contiguous chunk ids from 0
        # every chunk except possibly the last is full width
        widths = [c.n_tokens for c in sorted(chunks, key=lambda c: c.chunk_idx)]
        assert all(w == 20 for w in widths[:-1])
        assert 1 <= widths[-1] <= 20
        # chunk starts advance by the stride: total covered words
        n_words = len((docs[doc_id] or "").split())
        assert (len(idxs) - 1) * 15 < max(n_words, 1) or len(idxs) == 1


def test_snapshot_diff_statuses(spark):
    from rocana_impala_udfs_spark.operators.reconcile import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, None, 4.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 2.0), (3, "CHANGED", 3.0), (4, None, 4.0), (5, "new", 5.0)],
        "k long, s string, v double",
    )
    got = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "unchanged", 5: "added"}
    # NULL-safe hashing: NULL vs empty string must differ
    old2 = spark.createDataFrame([(1, None)], "k long, s string")
    new2 = spark.createDataFrame([(1, "")], "k long, s string")
    assert snapshot_diff(old2, new2, ["k"]).collect()[0].status == "changed"
    # length-prefix: ("ab","c") vs ("a","bc") must differ
    old3 = spark.createDataFrame([(1, "ab", "c")], "k long, x string, y string")
    new3 = spark.createDataFrame([(1, "a", "bc")], "k long, x string, y string")
    assert snapshot_diff(old3, new3, ["k"]).collect()[0].status == "changed"


def test_quality_checks_detect_planted_violations(spark):
    from rocana_impala_udfs_spark.operators import quality as Q

    child = spark.createDataFrame([(1, 10), (2, 99), (2, 10), (3, None)], "k long, v long")
    parent = spark.createDataFrame([(10,), (20,)], "pk long")
    report = {
        r.check: r.violations
        for r in Q.quality_report(
            [
                Q.references(child, "v", parent, "pk", name="ref"),
                Q.unique(child, ["k"], name="uniq"),
                Q.in_range(child, "v", 0, 50, name="range"),
                Q.not_null(child, "v", name="nn"),
            ]
        ).collect()
    }
    # NULL child keys are NOT referential violations (NOT IN semantics —
    # the NULL row is the not_null check's finding, counted once below)
    assert report["ref"] == 1      # v=99 misses the parent; v=NULL excluded
    assert report["uniq"] == 1     # k=2 appears twice
    assert report["range"] == 2    # 99 out of range, NULL counts as violation
    assert report["nn"] == 1


def test_containment_catches_subset_duplication(spark):
    # a short doc fully quoted inside a long one: containment ~1, jaccard low
    short = "alpha beta gamma delta epsilon zeta eta theta"
    long_ = short + " " + " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, long_), (2, short)], "doc_id long, text string")
    cont = {(r.i, r.j): r.containment for r in dedup.ngram_containment_pairs(df, threshold=0.9).collect()}
    assert (1, 2) in cont and cont[(1, 2)] == 1.0
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.8).collect()
    assert jac == []  # symmetric jaccard misses the quoted inclusion


def test_jpeg_color_codec_roundtrip_flat_mcus():
    """decode(encode(ycbcr)) == ycbcr_to_rgb(ycbcr) bit-exactly for flat
    16x16 MCUs — the lossless-island property the oracle relies on."""
    rng = np.random.default_rng(23)
    for mh, mw in [(1, 1), (2, 3), (3, 2), (3, 1)]:
        grid = rng.integers(0, 256, size=(mh, mw, 3))
        img = np.kron(grid, np.ones((16, 16, 1))).astype(np.uint8)
        rgb = multimodal.decode_jpeg_color(multimodal.encode_jpeg_color_flat(img))
        assert rgb.shape == img.shape
        assert (rgb == multimodal.ycbcr_to_rgb(img)).all()


def test_jpeg_color_codec_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        mh=st.integers(min_value=1, max_value=3),
        mw=st.integers(min_value=1, max_value=3),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def check(mh, mw, seed):
        grid = np.random.default_rng(seed).integers(0, 256, size=(mh, mw, 3))
        img = np.kron(grid, np.ones((16, 16, 1))).astype(np.uint8)
        got = multimodal.decode_jpeg_color(multimodal.encode_jpeg_color_flat(img))
        assert (got == multimodal.ycbcr_to_rgb(img)).all()

    check()


def test_jpeg_color_decoder_scope():
    import pytest as _pt

    # single-component stream belongs to decode_jpeg_gray
    gray = multimodal.encode_jpeg_gray_flat(np.zeros((8, 8), dtype=np.uint8))
    with _pt.raises(NotImplementedError):
        multimodal.decode_jpeg_color(gray)
    # progressive: swap SOF0 for SOF2
    img = np.full((16, 16, 3), 77, dtype=np.uint8)
    payload = bytearray(multimodal.encode_jpeg_color_flat(img))
    idx = bytes(payload).find(b"\xff\xc0")
    payload[idx + 1] = 0xC2
    with _pt.raises(NotImplementedError):
        multimodal.decode_jpeg_color(bytes(payload))
    # non-flat MCU is out of encoder scope
    bad = np.zeros((16, 16, 3), dtype=np.uint8)
    bad[0, 0, 0] = 255
    with _pt.raises(ValueError):
        multimodal.encode_jpeg_color_flat(bad)


def test_jpeg_color_stats_spark_plumbing(spark):
    docs = load_table(spark, SF, "documents").limit(24)
    media = multimodal.synthetic_color_jpeg_images(spark, docs)
    rows = multimodal.jpeg_color_stats(media).collect()
    assert len(rows) == 24
    for r in rows:
        assert r.img_w in (16, 32) and r.img_h in (16, 32, 48)
        for v in (r.mean_r, r.mean_g, r.mean_b):
            assert 0.0 <= v <= 255.0


def test_decode_image_auto_dispatch():
    """Magic-byte sniffing routes each container to its real decoder."""
    import pytest as _pt

    rng = np.random.default_rng(3)
    ppm_img = rng.integers(0, 256, (4, 5, 3)).astype(np.uint8)
    assert (multimodal.decode_image_auto(multimodal.encode_ppm(ppm_img)) == ppm_img).all()
    png_img = rng.integers(0, 256, (6, 4, 3)).astype(np.uint8)
    assert (multimodal.decode_image_auto(multimodal.encode_png(png_img)) == png_img).all()
    gray = np.kron(rng.integers(0, 256, (2, 2)), np.ones((8, 8))).astype(np.uint8)
    assert (multimodal.decode_image_auto(multimodal.encode_jpeg_gray_flat(gray)) == gray).all()
    color = np.kron(rng.integers(0, 256, (1, 2, 3)), np.ones((16, 16, 1))).astype(np.uint8)
    assert (
        multimodal.decode_image_auto(multimodal.encode_jpeg_color_flat(color))
        == multimodal.ycbcr_to_rgb(color)
    ).all()
    with _pt.raises(NotImplementedError):
        multimodal.decode_image_auto(b"RIFF....WAVE")  # no audio codec in-repo


def test_media_features_real_matches_numpy(spark):
    """Features from the mixed-container Spark path equal a local numpy
    recompute from the same decoded pixels."""
    docs = load_table(spark, SF, "documents").limit(30)
    media = (
        multimodal.synthetic_ppm_images(spark, docs.filter(F.col("doc_id") % 3 == 0))
        .unionByName(multimodal.synthetic_png_images(spark, docs.filter(F.col("doc_id") % 3 == 1)))
        .unionByName(multimodal.synthetic_jpeg_images(spark, docs.filter(F.col("doc_id") % 3 == 2)))
    )
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    rows = multimodal.media_features_real(media).collect()
    assert len(rows) == 30
    for r in rows:
        img = multimodal.decode_image_auto(payloads[r.media_id])
        flat = img.reshape(-1)
        hist, _ = np.histogram(flat, bins=32, range=(0, 256))
        want = (hist / hist.sum()).astype(np.float32)
        assert np.array_equal(np.array(r.features, dtype=np.float32), want)
        assert r.mean_px == float(flat.mean(dtype=np.float64))
        assert r.container in ("ppm", "png", "jpeg")


def test_wav_codec_roundtrip_and_scope():
    import struct

    import pytest as _pt

    rng = np.random.default_rng(5)
    for _ in range(10):
        s = rng.integers(-32768, 32768, int(rng.integers(1, 500))).astype(np.int16)
        dec, rate = multimodal.decode_wav(multimodal.encode_wav(s, 8000))
        assert rate == 8000 and np.array_equal(dec, s)
    with _pt.raises(NotImplementedError):
        multimodal.decode_wav(b"OggS.....")  # compressed container
    stereo = multimodal.encode_wav(np.zeros(4, np.int16))
    stereo = stereo[:22] + struct.pack("<H", 2) + stereo[24:]
    with _pt.raises(NotImplementedError):
        multimodal.decode_wav(stereo)


def test_y4m_codec_roundtrip_and_scope():
    import pytest as _pt

    rng = np.random.default_rng(9)
    for _ in range(8):
        fr = rng.integers(
            0, 256, (int(rng.integers(1, 5)), int(rng.integers(2, 10)), int(rng.integers(2, 10)), 3)
        ).astype(np.uint8)
        dec, fps = multimodal.decode_y4m(multimodal.encode_y4m(fr, 25))
        assert fps == 25 and np.array_equal(dec, fr)
    with _pt.raises(NotImplementedError):
        multimodal.decode_y4m(b"RIFF....WAVE")
    subsampled = multimodal.encode_y4m(np.zeros((1, 2, 2, 3), np.uint8)).replace(b"C444", b"C420")
    with _pt.raises(NotImplementedError):
        multimodal.decode_y4m(subsampled)


def test_wav_and_y4m_spark_plumbing(spark):
    docs = load_table(spark, SF, "documents").limit(20)
    wav_rows = multimodal.wav_decode_stats(multimodal.synthetic_wav_audio(spark, docs)).collect()
    assert len(wav_rows) == 20
    for r in wav_rows:
        assert r.sample_rate == 8000 and r.n_samples in (64, 96, 128, 160, 192)
        assert r.duration_ms == r.n_samples / 8
        # printable-ASCII source: amplitudes live in [32, 126]*256 - 16384
        assert -8192 <= r.mean_amp <= 16384

    vid_rows = multimodal.y4m_frame_sample(
        multimodal.synthetic_y4m_videos(spark, docs), num_frames=2
    ).collect()
    assert len(vid_rows) == 40  # 2 samples per stream
    for r in vid_rows:
        assert r.n_frames in (2, 3, 4) and 0 <= r.frame_no < r.n_frames
        assert r.frame_no == (r.n_frames * r.sample_idx) // 2
        assert 32 <= r.mean_y <= 126  # flat frames carry printable ASCII


def test_wav_downsample_decimates_exactly(spark):
    docs = load_table(spark, SF, "documents").limit(12)
    media = multimodal.synthetic_wav_audio(spark, docs)
    rows = {r.media_id: r for r in multimodal.wav_downsample_stats(media, factor=4).collect()}
    raw = {r.media_id: r for r in media.collect()}
    assert rows.keys() == raw.keys()
    for mid, r in rows.items():
        samples, rate = multimodal.decode_wav(bytes(raw[mid].payload))
        dec = samples[::4].astype(np.float64)
        assert r.n_in == samples.size and r.n_out == dec.size
        assert r.out_rate == rate // 4
        assert r.mean_amp == float(dec.mean())
        assert r.rms == float(np.sqrt((dec * dec).mean()))


def test_y4m_scene_cuts_match_numpy(spark):
    docs = load_table(spark, SF, "documents").limit(12)
    media = multimodal.synthetic_y4m_videos(spark, docs)
    rows = multimodal.y4m_scene_cuts(media, threshold=32.0).collect()
    raw = {r.media_id: r for r in media.collect()}
    by_media: dict[int, int] = {}
    for r in rows:
        frames, _ = multimodal.decode_y4m(bytes(raw[r.media_id].payload))
        y = frames[..., 0].astype(np.int64)
        want = float(np.abs(y[r.frame_b] - y[r.frame_a]).mean())
        assert r.y_diff == round(want, 4)
        assert r.is_cut == (want > 32.0)
        by_media[r.media_id] = by_media.get(r.media_id, 0) + 1
    for mid, npairs in by_media.items():
        assert npairs == raw[mid].meta_frames - 1


# --- BPE tokenizer ---------------------------------------------------------


def test_bpe_train_classic_example():
    """Sennrich et al.'s hand-computable example: {low:5, lower:2,
    newest:6, widest:3} must merge (e,s), (es,t), (est,</w>) first."""
    from rocana_impala_udfs_spark.operators.tokenizer import END, train_merges

    merges = train_merges([("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)], 5)
    assert merges[:3] == [("e", "s"), ("es", "t"), ("est", END)]


def test_bpe_encode_lossless_and_greedy():
    from rocana_impala_udfs_spark.operators.tokenizer import END, encode_word, train_merges

    merges = train_merges([("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)], 10)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ["lowest", "newest", "low", "zzzq", "a"]:
        toks = encode_word(w, ranks)
        assert "".join(toks).replace(END, "") == w  # lossless round-trip
    assert encode_word("lowest", ranks) == ["low", f"est{END}"]


def test_bpe_spark_path_deterministic(spark):
    """Same corpus → same merges and stats regardless of partitioning; the
    encode output satisfies basic compression invariants."""
    from rocana_impala_udfs_spark.operators.tokenizer import bpe_encode_stats, bpe_train

    docs = load_table(spark, SF, "documents").limit(100)
    merges_a = bpe_train(docs, num_merges=50, top_n=500)
    merges_b = bpe_train(docs.repartition(7), num_merges=50, top_n=500)
    assert merges_a == merges_b

    rows = {r.doc_id: r for r in bpe_encode_stats(docs, merges_a).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(rows) == 100
    for doc_id, r in rows.items():
        words = [w for w in texts[doc_id].lower().split() if w]
        assert r.n_words == len(words)
        # every word yields >= 1 token and <= len(word)+1 symbols
        assert len(words) <= r.bpe_tokens <= sum(len(w) + 1 for w in words)
        if r.bpe_tokens:
            # column is rounded to 4 decimals in the plan
            assert r.chars_per_token == pytest.approx(
                sum(len(w) for w in words) / r.bpe_tokens, abs=1e-4
            )


def test_contamination_screen_planted(spark):
    """A corpus vector identical to a held-out vector is flagged with
    cos ≈ 1; an orthogonal one is not flagged at all."""
    dup = [1.0, 0.0, 0.0, 0.0]
    ortho = [0.0, 1.0, 0.0, 0.0]
    near = [0.9, 0.1, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [(1, dup), (2, ortho), (3, near)], "vec_id long, embedding array<double>"
    )
    heldout = spark.createDataFrame(
        [(100, dup), (101, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: (r["max_cos"], r["n_hits"])
        for r in similarity.contamination_screen(corpus, heldout, threshold=0.9).collect()
    }
    assert out[1] == (1.0, 1)
    assert 2 not in out
    assert out[3][0] == pytest.approx(0.9939, abs=1e-4)


def test_progressive_jpeg_roundtrip_and_format_guards():
    """Progressive (SOF2) encode→decode is pixel-exact on flat blocks and
    identical to the baseline codec's pixels; each decoder rejects the
    other's format explicitly; the encoder rejects non-flat blocks."""
    rng = np.random.default_rng(7)
    for _ in range(20):
        wb, hb = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        grid = rng.integers(0, 256, (hb, wb)).astype(np.uint8)
        img = np.kron(grid, np.ones((8, 8), dtype=np.uint8))
        prog = multimodal.encode_jpeg_gray_progressive(img)
        assert (multimodal.decode_jpeg_gray_progressive(prog) == img).all()
        base = multimodal.encode_jpeg_gray_flat(img)
        assert (
            multimodal.decode_jpeg_gray(base)
            == multimodal.decode_jpeg_gray_progressive(prog)
        ).all()
        with pytest.raises(NotImplementedError):
            multimodal.decode_jpeg_gray(prog)
        with pytest.raises(NotImplementedError):
            multimodal.decode_jpeg_gray_progressive(base)
    with pytest.raises(ValueError):
        bad = np.arange(64, dtype=np.uint8).reshape(8, 8)
        multimodal.encode_jpeg_gray_progressive(bad)


def test_pii_redact_replaces_all_patterns(spark):
    from rocana_impala_udfs_spark.plans.pipeline import q_text_pii_redact
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(1, "mail bob@example.com and 12345678 via https://x.org/p now")],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("_pii_probe")
    # run the same transform the query applies, on a controlled row
    from rocana_impala_udfs_spark.plans.pipeline import (
        _PII_EMAIL,
        _PII_LONGNUM,
        _PII_URL,
    )

    red = docs.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
                _PII_URL,
                "<URL>",
            ),
            _PII_LONGNUM,
            "<NUM>",
        ).alias("r")
    ).collect()[0].r
    assert red == "mail <EMAIL> and <NUM> via <URL> now"


def test_token_postings_list_is_sorted_and_complete(spark):
    from rocana_impala_udfs_spark.plans.pipeline import q_index_token_postings

    rows = q_index_token_postings(spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected a non-empty head of the index"
    for r in rows:
        # the head is a fixed 60-char prefix, so the final element may be
        # truncated mid-number — drop it before checking order
        head_ids = [int(x) for x in r.postings_head.split(",") if x][:-1]
        assert head_ids == sorted(head_ids)
        # df counts DISTINCT documents, so the head can't exceed df entries
        assert len(head_ids) <= r.df


def test_bpe_rank_order_equals_greedy():
    """Rank-order fold application (the oracle-checkable formulation) must
    agree with the greedy lowest-rank loop — on the classic trained table,
    the frozen FIXED_MERGES table, and a brute sample of words."""
    from rocana_impala_udfs_spark.operators.tokenizer import (
        FIXED_MERGES,
        END,
        apply_merges_rank_order,
        encode_word,
        train_merges,
    )

    tables = [
        train_merges([("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)], 10),
        FIXED_MERGES,
    ]
    words = ["lowest", "newest", "the", "then", "that", "with", "from",
             "weather", "thinking", "froth", "a", "zzzq", "mississippi"]
    for merges in tables:
        ranks = {p: i for i, p in enumerate(merges)}
        for w in words:
            assert apply_merges_rank_order(w, merges) == encode_word(w, ranks), (w, merges)
            assert "".join(apply_merges_rank_order(w, merges)).replace(END, "") == w


def test_bpe_fold_symbol_boundary_safe(spark):
    """The string-replace fold must NOT merge across symbol boundaries:
    with FIXED_MERGES, the (e, r</w>) merge must leave 'other' as
    [o, the, r</w>] — the old trailing-separator encoding produced
    [o, ther</w>] because 'the' merely ENDS with 'e'. Pins the folded
    symbol sequence itself (not just counts) against the python reference
    in BOTH dialects, over boundary-trap words and consecutive-occurrence
    words."""
    import duckdb

    from rocana_impala_udfs_spark.operators.tokenizer import (
        _SEP,
        FIXED_MERGES,
        apply_merges_rank_order,
        fold_tokens_sql,
    )

    words = ["other", "mother", "weather", "rather", "the", "that", "ththt",
             "withwith", "ananan", "eee", "froth", "thther"]

    def decode(folded: str) -> list[str]:
        # each symbol is SEP+sym+SEP, concatenated
        parts = folded.split(_SEP)
        return [parts[i] for i in range(1, len(parts), 2)]

    spark_expr = fold_tokens_sql("w", FIXED_MERGES, "spark")
    got_spark = {
        r.w: decode(r.f)
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .selectExpr("w", f"{spark_expr} AS f")
        .collect()
    }
    duck_expr = fold_tokens_sql("w", FIXED_MERGES, "duckdb")
    con = duckdb.connect()
    got_duck = {
        w: decode(con.execute(f"SELECT {duck_expr}", ).fetchone()[0])
        for w in words
        for duck_expr in [fold_tokens_sql(f"'{w}'", FIXED_MERGES, "duckdb")]
    }
    for w in words:
        want = apply_merges_rank_order(w, FIXED_MERGES)
        assert got_spark[w] == want, (w, got_spark[w], want)
        assert got_duck[w] == want, (w, got_duck[w], want)
    assert got_spark["other"] == ["o", "the", "r</w>"]


def test_bpe_apply_fixed_spark_matches_python(spark):
    """The JVM fold expression reproduces the python reference on real
    corpus docs — token counts, word counts, char counts."""
    import re

    from rocana_impala_udfs_spark.operators.tokenizer import (
        FIXED_MERGES,
        apply_merges_rank_order,
        bpe_apply_fixed_stats,
    )

    docs = load_table(spark, SF, "documents").limit(60)
    rows = {r.doc_id: r for r in bpe_apply_fixed_stats(docs).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(rows) == 60
    for doc_id, r in rows.items():
        words = re.findall(r"[a-z]+", (texts[doc_id] or "").lower())
        want_tokens = sum(len(apply_merges_rank_order(w, FIXED_MERGES)) for w in words)
        assert r.n_words == len(words)
        assert r.bpe_tokens == want_tokens
        assert r.n_chars == sum(len(w) for w in words)


def test_adpcm_codec_roundtrip_matches_reference():
    """Decoder output must equal the encoder's predictor chain exactly —
    the property the fold-replay oracle relies on — across random int16
    streams, including clamp-edge values."""
    import numpy as np

    from rocana_impala_udfs_spark.operators.multimodal import (
        _adpcm_fold,
        decode_adpcm_ima_ex,
        encode_adpcm_ima,
    )

    rng = np.random.default_rng(11)
    for _ in range(25):
        n = int(rng.integers(2, 250))
        s = rng.integers(-32768, 32768, size=n).astype(np.int16)
        dec, rate, mx = decode_adpcm_ima_ex(encode_adpcm_ima(s, 8000))
        assert rate == 8000 and dec.size == n
        pred, idx, ref, maxi = int(s[0]), 0, [int(s[0])], 0
        for x in s[1:]:
            _, pred, idx = _adpcm_fold(int(x), pred, idx)
            ref.append(pred)
            maxi = max(maxi, idx)
        assert np.array_equal(dec, np.asarray(ref, dtype=np.int16))
        assert mx == maxi


def test_adpcm_compresses_and_tracks_smooth_signals():
    """4 bits/sample => ~4x smaller than PCM; reconstruction error on a
    smooth signal stays far below full scale."""
    import numpy as np

    from rocana_impala_udfs_spark.operators.multimodal import (
        decode_adpcm_ima,
        encode_adpcm_ima,
        encode_wav,
    )

    s = (np.sin(np.linspace(0, 40, 2000)) * 12000).astype(np.int16)
    p = encode_adpcm_ima(s)
    assert len(p) < len(encode_wav(s)) / 3
    dec, _ = decode_adpcm_ima(p)
    rms_err = float(np.sqrt(np.mean((dec.astype(np.float64) - s) ** 2)))
    assert rms_err < 500  # < ~4% of amplitude


def test_adpcm_rejects_bad_containers():
    import pytest

    from rocana_impala_udfs_spark.operators.multimodal import (
        decode_adpcm_ima,
        encode_adpcm_ima,
    )

    with pytest.raises(NotImplementedError):
        decode_adpcm_ima(b"not a riff")
    import numpy as np

    with pytest.raises(ValueError):
        encode_adpcm_ima(np.array([], dtype=np.int16))


def test_ivf_fixed_topk_recall_and_determinism(spark):
    """Frozen-codebook IVF: useful recall vs brute force, and identical
    output across partitionings (the property the exact oracle rests on)."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    a = similarity.ivf_fixed_topk(emb, queries, k=5).collect()
    b = similarity.ivf_fixed_topk(emb.repartition(7), queries, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    got = {(r.query_id, r.neighbor_id) for r in a}
    recall = len(brute & got) / len(brute)
    assert recall >= 0.5, f"fixed-IVF recall {recall} too low"


def test_jpeg_ac_refine_roundtrip():
    """AC successive-approximation: encode (4-scan progressive) → decode
    recovers the exact integer coefficients across random sparse blocks,
    dense all-nonzero blocks, and flat blocks — every Annex G.1.2.3 path
    (newly-nonzero in refinement, history correction bits, ZRL inside
    refinement, cross-block EOB runs)."""
    import numpy as np

    from rocana_impala_udfs_spark.operators.multimodal import (
        decode_jpeg_progressive_coeffs,
        encode_jpeg_gray_progressive_coeffs,
    )

    rng = np.random.default_rng(9)
    for _ in range(60):
        hb, wb = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        n = hb * wb
        coef = np.zeros((n, 64), dtype=np.int64)
        coef[:, 0] = rng.integers(-768, -8, size=n)
        for b in range(n):
            for _k in range(int(rng.integers(0, 8))):
                coef[b, int(rng.integers(1, 64))] = int(rng.integers(-3, 4))
        payload = encode_jpeg_gray_progressive_coeffs(coef, hb * 8, wb * 8)
        dec, h, w, _q = decode_jpeg_progressive_coeffs(payload)
        assert (h, w) == (hb * 8, wb * 8)
        assert np.array_equal(dec, coef)
    dense = np.full((2, 64), 3, dtype=np.int64)
    dense[:, 0] = -100
    dense[1, 1:] = -1
    p = encode_jpeg_gray_progressive_coeffs(dense, 8, 16)
    assert np.array_equal(decode_jpeg_progressive_coeffs(p)[0], dense)
    flat = np.zeros((3, 64), dtype=np.int64)
    flat[:, 0] = -80
    p = encode_jpeg_gray_progressive_coeffs(flat, 8, 24)
    assert np.array_equal(decode_jpeg_progressive_coeffs(p)[0], flat)


def test_gif_lzw_roundtrip():
    """LZW encode→decode is lossless across noise (worst case), repetitive
    content (KwKwK + deep dictionary), and images large enough to force a
    4096-entry dictionary reset."""
    import numpy as np

    from rocana_impala_udfs_spark.operators.multimodal import (
        decode_gif_gray,
        encode_gif_gray,
    )

    rng = np.random.default_rng(13)
    for trial in range(30):
        h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
        if trial % 2:
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        else:
            img = (np.add.outer(np.arange(h), np.arange(w)) % 7 * 30).astype(np.uint8)
        assert np.array_equal(decode_gif_gray(encode_gif_gray(img)), img)
    big = rng.integers(0, 256, size=(80, 80), dtype=np.uint8)
    assert np.array_equal(decode_gif_gray(encode_gif_gray(big)), big)
    flat = np.zeros((16, 16), dtype=np.uint8)  # KwKwK-heavy
    assert np.array_equal(decode_gif_gray(encode_gif_gray(flat)), flat)
    # dictionary actually compresses repetitive content (64x64 so the LZW
    # stream dominates the fixed 781-byte header+palette)
    rep = encode_gif_gray(np.zeros((64, 64), dtype=np.uint8))
    raw = encode_gif_gray(rng.integers(0, 256, size=(64, 64), dtype=np.uint8))
    assert len(rep) < len(raw) / 2


def test_gif_rejects_unsupported():
    import pytest

    from rocana_impala_udfs_spark.operators.multimodal import decode_gif_gray

    with pytest.raises(NotImplementedError):
        decode_gif_gray(b"NOTAGIF")


def test_mulaw_sql_matches_g711_reference(spark):
    """The relational mu-law expressions reproduce the Sun g711.c
    reference bit-for-bit over the full int16 domain (Spark dialect; the
    DuckDB dialect is covered by the oracle gate)."""
    from rocana_impala_udfs_spark.operators.multimodal import (
        mulaw_decode_sql,
        mulaw_encode_sql,
    )

    def ref_encode(pcm):
        sign = 0x80 if pcm < 0 else 0
        pcm = min(abs(pcm), 32635) + 132
        exp = pcm.bit_length() - 8
        return ~(sign | (exp << 4) | ((pcm >> (exp + 3)) & 0x0F)) & 0xFF

    def ref_decode(u):
        u = ~u & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        return (0x84 - t) if (u & 0x80) else (t - 0x84)

    enc = mulaw_encode_sql("x", "spark")
    dec = mulaw_decode_sql(enc, "spark")
    rows = (
        spark.range(-32768, 32768)
        .selectExpr("id AS x", f"{enc} AS c", f"{dec} AS d")
        .collect()
    )
    for r in rows[::97] + rows[:300] + rows[-300:]:
        assert r.c == ref_encode(r.x), r.x
        assert r.d == ref_decode(ref_encode(r.x)), r.x
    # error bound: quantization error < 2^(exp+2) <= 1024 at full scale
    assert max(abs(r.x - r.d) for r in rows) <= 1024


def test_flac_roundtrip_and_integrity():
    """FLAC subset: lossless across noise / smooth / constant signals
    (exercising every fixed predictor order), real compression on smooth
    content, and hard failures on corrupted CRC or payload bytes."""
    import numpy as np
    import pytest

    from rocana_impala_udfs_spark.operators.multimodal import decode_flac, encode_flac

    rng = np.random.default_rng(21)
    for trial in range(20):
        n = int(rng.integers(5, 300))
        kind = trial % 3
        if kind == 0:
            s = rng.integers(-32768, 32768, size=n).astype(np.int16)
        elif kind == 1:
            s = (np.sin(np.linspace(0, 9, n)) * 9000).astype(np.int16)
        else:
            s = np.full(n, 77, dtype=np.int16)
        dec, rate = decode_flac(encode_flac(s, 8000))
        assert rate == 8000 and np.array_equal(dec, s)
    smooth = (np.sin(np.linspace(0, 12, 1000)) * 9000).astype(np.int16)
    p = encode_flac(smooth)
    assert len(p) < 2000 / 3  # beats raw 16-bit PCM by > 3x on smooth input
    # integrity: flip one residual byte -> CRC-16 or MD5 must catch it
    corrupted = bytearray(p)
    corrupted[-10] ^= 0x40
    with pytest.raises(ValueError):
        decode_flac(bytes(corrupted))
    with pytest.raises(NotImplementedError):
        decode_flac(b"not flac")


def test_png_adam7_roundtrip():
    """Adam7 interlaced PNG: exact roundtrip across random sizes, including
    images small enough that some of the 7 passes are empty; the interlaced
    stream differs from the plain stream but decodes to identical pixels."""
    import numpy as np

    from rocana_impala_udfs_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(17)
    for _ in range(25):
        h, w = int(rng.integers(1, 30)), int(rng.integers(1, 30))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        plain = encode_png(img, interlace=False)
        inter = encode_png(img, interlace=True)
        assert plain != inter
        assert np.array_equal(decode_png(inter), img)
        assert np.array_equal(decode_png(plain), img)


def test_doc_repetition_removal_dedupes_planted_repeat(spark):
    """A document with a repeated 10-word block keeps only the first copy;
    a repetition-free document keeps everything (n_kept == n_chunks)."""
    from rocana_impala_udfs_spark.plans.pipeline import q_doc_repetition_removal

    block = " ".join(f"w{i}" for i in range(10))
    uniq = " ".join(f"u{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, f"{block} {uniq} {block}"), (2, uniq)], "doc_id long, text string"
    )
    df.createOrReplaceTempView("documents")  # not used; call operator directly
    import rocana_impala_udfs_spark.plans.pipeline as P

    # reuse the query body by monkey-free direct construction: call the
    # same expressions through a minimal sf-free invocation
    from rocana_impala_udfs_spark.sources import io as _io

    orig = _io.load_table
    try:
        _io.load_table = lambda s, d, n: df  # noqa: E731
        P.load_table = _io.load_table
        rows = {r.doc_id: r for r in q_doc_repetition_removal(spark, "ignored").collect()}
    finally:
        _io.load_table = orig
        P.load_table = orig
    assert rows[1].n_chunks == 4 and rows[1].n_kept == 3  # repeated block dropped
    assert rows[2].n_chunks == 2 and rows[2].n_kept == 2


def test_pq_adc_planted_pair_and_partition_invariance(spark):
    """PQ ADC (operators/pq.py): a planted near-duplicate must surface as
    its probe's rank-1 neighbor with the minimum ADC distance; results are
    invariant to input partitioning (codes are per-row pure functions);
    and codes are 1-based in [1, K]."""
    import numpy as np

    from rocana_impala_udfs_spark.operators.pq import (
        K_CENTROIDS,
        M_SUBSPACES,
        _make_codes_udf,
        pq_adc_topk,
    )
    from rocana_impala_udfs_spark.sources.io import load_table

    emb = load_table(spark, SF, "embeddings")
    # plant: vec 9999 = vec 0 + tiny noise (quantizes within the same cells)
    base = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    planted = [float(v) + 1e-4 for v in base]
    extra = spark.createDataFrame(
        [(9999, planted, 0)], "vec_id bigint, embedding array<float>, label int"
    )
    corpus = emb.unionByName(extra)
    top = pq_adc_topk(corpus, n_probes=1, k=5).collect()
    rank1 = [r for r in top if r.rk == 1][0]
    assert rank1.neighbor_id == 9999
    # ADC distance is probe -> CENTROIDS of the neighbor's cells, so a
    # near-identical neighbor scores exactly the probe's own quantization
    # error — strictly under every other corpus vector here
    rank2 = [r for r in top if r.rk == 2][0]
    assert rank1.adc_score < rank2.adc_score
    a = sorted(map(tuple, pq_adc_topk(emb, n_probes=2, k=5).collect()))
    b = sorted(map(tuple, pq_adc_topk(emb.repartition(7), n_probes=2, k=5).collect()))
    assert a == b and len(a) == 10
    codes = emb.limit(50).select(_make_codes_udf()(F.col("embedding")).alias("c")).collect()
    for r in codes:
        assert len(r.c) == M_SUBSPACES
        assert all(1 <= c <= K_CENTROIDS for c in r.c)


def test_duplicated_spans_hand_cases(spark):
    """duplicated_spans on crafted docs: a 15-word span shared by two docs
    is found in both with the right extent; a doc that self-repeats a
    span counts it; disjoint islands separated by > span_words unique
    words stay separate spans; docs with no duplicated span emit no row;
    near-adjacent duplicated windows merge into ONE maximal span."""
    from rocana_impala_udfs_spark.operators.dedup import duplicated_spans

    span = " ".join(f"w{i}" for i in range(15))          # 15 shared words
    uniq = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    span2 = " ".join(f"z{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            # doc 1: shared span at words 6..20 of 40
            (1, uniq("a", 5) + " " + span + " " + uniq("b", 20)),
            # doc 2: the same span twice, separated by 20 unique words:
            # two islands (45 + 20 + 15 = repeated at pos 1 and pos 36)
            (2, span + " " + uniq("c", 20) + " " + span),
            # doc 3: no duplicated content
            (3, uniq("d", 30)),
            # doc 4: two different shared spans back to back -> ONE island
            (4, span + " " + span2),
            # doc 5: donor of span2
            (5, uniq("e", 3) + " " + span2 + " " + uniq("f", 3)),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in duplicated_spans(docs).collect()}
    assert set(rows) == {1, 2, 4, 5}
    assert rows[1].dup_spans == 1 and rows[1].dup_words == 15
    assert rows[1].max_span_words == 15 and rows[1].n_words == 40
    # doc 2: both occurrences of the span found, as separate islands
    assert rows[2].dup_spans == 2 and rows[2].dup_words == 30
    # doc 4: span + span2 adjacent -> merged maximal island of 30 words
    assert rows[4].dup_spans == 1 and rows[4].dup_words == 30
    assert rows[4].max_span_words == 30 and rows[4].dup_frac == 1.0
    assert rows[5].dup_spans == 1 and rows[5].dup_words == 15


def test_grouped_topk_two_phase_equals_plain_window(spark):
    """The salted two-phase grouped top-k equals the plain rank window
    for several k/salt combinations, including k larger than some groups
    and a skewed group, independent of partitioning."""
    import random

    from pyspark.sql import Window

    from rocana_impala_udfs_spark.operators.topk import grouped_topk_two_phase

    rng = random.Random(11)
    rows = [(g, i, rng.randrange(1000)) for g in range(5) for i in range(g * 40 + 1)]
    df = spark.createDataFrame(rows, "g int, id int, v int").repartition(7)
    for k, salts in [(1, 4), (3, 8), (10, 2), (50, 8)]:
        got = sorted(
            (r.g, r.id, r.rk)
            for r in grouped_topk_two_phase(
                df, ["g"], [F.col("v").desc(), F.col("id")], k,
                salt_col=F.hash("id"), salts=salts,
            ).collect()
        )
        w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id"))
        want = sorted(
            (r.g, r.id, r.rk)
            for r in df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .collect()
        )
        assert got == want, (k, salts)


def test_ann_recall_report_consistency(spark):
    """ann_recall_report: one row per ANN family; hits are bounded by
    n_queries*5; recall is exactly hits/(n_queries*5); and the oracle-exact
    families (frozen-codebook IVF, LSH-with-rerank) achieve non-trivial
    recall on the synthetic corpus while PQ (16x4-bit codes over 64 dims)
    is allowed to be lossier."""
    import __spark_entry__ as entry

    rows = {r.method: r for r in entry.queries()["ann_recall_report"](spark, SF).collect()}
    assert set(rows) == {"ivf_fixed", "lsh", "pq_adc"}
    for r in rows.values():
        assert 0 <= r.hits <= r.n_queries * 5
        assert abs(r.recall_at_5 - round(r.hits / (r.n_queries * 5.0), 4)) < 1e-12
    assert rows["ivf_fixed"].recall_at_5 > 0.2
    assert rows["lsh"].recall_at_5 > 0.2


def test_threshold_sweep_matches_python_allpairs(spark):
    """dedup_jaccard_threshold_sweep: every bucket matches a pure-Python
    ALL-PAIRS shingle-Jaccard recomputation (no prefix filtering — the
    recall-1 contract), and both counts are non-increasing in the
    threshold."""
    import itertools
    import re

    import __spark_entry__ as entry

    def _norm(text):
        return re.sub(r"\s+", " ", text.lower()).strip()

    rows = entry.queries()["dedup_jaccard_threshold_sweep"](spark, SF).collect()
    assert [r.threshold for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs and a.docs_affected >= b.docs_affected
    docs = load_table(spark, SF, "documents").select("doc_id", "text").collect()
    sets = {}
    for r in docs:
        w = _norm(r.text).split()
        sets[r.doc_id] = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()
    pairs = []
    for i, j in itertools.combinations(sorted(sets), 2):
        si, sj = sets[i], sets[j]
        both = len(si & sj)
        union = len(si) + len(sj) - both
        if union and both / union >= 0.5:
            pairs.append((i, j, round(both / union, 6)))
    for r in rows:
        want = [(i, j) for i, j, jac in pairs if jac >= r.threshold]
        assert r.n_pairs == len(want)
        assert r.docs_affected == len({d for p in want for d in p})


def test_matryoshka_recall_matches_numpy(spark):
    """eval_matryoshka_recall: every dim's recall equals a local numpy
    recomputation (prefix-normalized cosine, same (cos desc, id) tiebreak),
    and the full-dimension row is exactly 1.0 — the kernel-determinism
    sanity row."""
    import __spark_entry__ as entry

    rows = {r.dim: r for r in entry.queries()["eval_matryoshka_recall"](spark, SF).collect()}
    assert set(rows) == {8, 16, 32, 64}
    assert rows[64].recall_at_5 == 1.0
    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in emb])
    X = np.asarray([r.embedding for r in emb], dtype=np.float64)

    def top5(d):
        Xd = X[:, :d]
        Xn = Xd / np.maximum(np.linalg.norm(Xd, axis=1, keepdims=True), 1e-12)
        out = {}
        for qi in np.where(ids < 20)[0]:
            sims = Xn @ Xn[qi]
            order = sorted(
                (i for i in range(len(ids)) if ids[i] != ids[qi]),
                key=lambda i: (-sims[i], ids[i]),
            )[:5]
            out[int(ids[qi])] = {int(ids[i]) for i in order}
        return out

    truth = top5(X.shape[1])
    for d in (8, 16, 32, 64):
        approx = top5(d)
        hits = sum(len(approx[q] & truth[q]) for q in truth)
        assert rows[d].hits == hits
        assert rows[d].recall_at_5 == hits / 100.0


def test_hybrid_rrf_fusion_arithmetic(spark):
    """search_hybrid_rrf_top10: 10 rows, descending fused score, doc 0 (the
    query document) excluded, every returned doc ranked by at least one arm,
    and the fused score recomputes exactly from the reported integer ranks."""
    import __spark_entry__ as entry

    rows = entry.queries()["search_hybrid_rrf_top10"](spark, SF).collect()
    assert len(rows) == 10
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.doc_id != 0
        assert r.rk_lex != 0 and r.rk_sem != 0
        assert r.rk_lex > 0 or r.rk_sem > 0
        expect = (1.0 / (60.0 + r.rk_lex) if r.rk_lex > 0 else 0.0) + (
            1.0 / (60.0 + r.rk_sem) if r.rk_sem > 0 else 0.0
        )
        assert abs(r.rrf - round(expect, 6)) < 1e-12
    # both arms must contribute to the fused top-10 on this corpus
    assert any(r.rk_lex > 0 for r in rows) and any(r.rk_sem > 0 for r in rows)


def test_kendall_tau_matches_bruteforce(spark):
    """tau-b from the grid-cell plan equals the O(n²) textbook pairwise
    computation in numpy (concordant/discordant sign products + tie
    terms) — a library-free cross-check, same spirit as the Kruskal
    scipy-formula test."""
    import numpy as np

    import __spark_entry__ as entry
    from rocana_impala_udfs_spark.sources.io import load_table

    rows = {
        r.l_returnflag: r
        for r in entry.queries()["stats_kendall_tau_qty_linenumber"](spark, SF).collect()
    }
    li = load_table(spark, SF, "lineitem").select(
        "l_returnflag", "l_quantity", "l_linenumber"
    ).collect()
    by_flag = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append((float(r.l_quantity), int(r.l_linenumber)))
    for flag, pts in by_flag.items():
        q = np.array([p[0] for p in pts])
        l = np.array([p[1] for p in pts])
        sq = np.sign(q[:, None] - q[None, :])
        sl = np.sign(l[:, None] - l[None, :])
        prod = sq * sl
        nc = int((prod > 0).sum() // 2)
        nd = int((prod < 0).sum() // 2)
        n = len(pts)
        n0_2 = n * (n - 1)
        t_q = np.unique(q, return_counts=True)[1]
        t_l = np.unique(l, return_counts=True)[1]
        n1_2 = int((t_q * (t_q - 1)).sum())
        n2_2 = int((t_l * (t_l - 1)).sum())
        tau = 2.0 * (nc - nd) / np.sqrt(float(n0_2 - n1_2) * float(n0_2 - n2_2))
        got = rows[flag]
        assert got.nc == nc and got.nd == nd, (flag, got, nc, nd)
        assert got.pairs_2 == n0_2 and got.ties_q_2 == n1_2 and got.ties_l_2 == n2_2
        assert abs(got.tau_b - round(tau, 6)) <= 1e-6, (flag, got.tau_b, tau)


def test_pca_project_matches_numpy_and_basis(spark):
    """pca_project: (1) projecting the frozen basis columns themselves
    (as one-hot rows) returns the component rows; (2) corpus projections
    match the numpy per-dimension sequential fold bit-for-bit (the
    oracle-order contract); (3) the frozen basis is orthonormal to the
    6-dp rounding it ships with."""
    W = similarity.fixed_pca_components(4, 64)
    G = W.T @ W
    assert np.abs(G - np.eye(4)).max() < 1e-4  # orthonormal up to rounding
    onehots = spark.createDataFrame(
        [(d, [1.0 if i == d else 0.0 for i in range(64)]) for d in (0, 13, 63)],
        "vec_id long, embedding array<float>",
    )
    for r in similarity.pca_project(onehots).collect():
        assert r.pc == pytest.approx(list(W[r.vec_id]), abs=0)
    emb = load_table(spark, SF, "embeddings").limit(50)
    rows = similarity.pca_project(emb).select("vec_id", "embedding", "pc").collect()
    for r in rows:
        X = np.asarray(r.embedding, dtype=np.float64)
        s = np.zeros(4)
        for d in range(64):
            s += X[d] * W[d]
        assert list(s) == r.pc  # bit-identical, not approx


def test_corpus_source_overlap_pairs_are_exact(spark):
    """corpus_source_overlap vs a brute-force python recomputation on
    the sf0.001 corpus: identical pair counts and containment, and
    every reported pair is ordered a < b."""
    from rocana_impala_udfs_spark.functions.text import normalize_text
    from rocana_impala_udfs_spark.plans.pipeline import q_corpus_source_overlap

    docs = load_table(spark, SF, "documents").select(
        "source",
        F.md5(
            F.concat_ws(" ", F.slice(F.split(normalize_text("text"), " "), 1, 8))
        ).alias("fp"),
    ).collect()
    by_src: dict = {}
    for r in docs:
        by_src.setdefault(r.source, set()).add(r.fp)
    expect = {}
    srcs = sorted(by_src)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(by_src[a] & by_src[b])
            if shared:
                expect[(a, b)] = (
                    shared,
                    round(shared / min(len(by_src[a]), len(by_src[b])), 6),
                )
    got = {
        (r.source_a, r.source_b): (r.shared_fps, r.containment)
        for r in q_corpus_source_overlap(spark, SF).collect()
    }
    assert all(a < b for a, b in got)
    assert got == expect


# --- classifier-eval + governance (r9) ---------------------------------------


def test_auc_matches_pairwise_definition(spark):
    """eval_auc_doc_length vs the probabilistic AUC definition computed
    brute-force in numpy: P(score_pos > score_neg) + ½·P(tie) over all
    pos×neg pairs — the rank-sum shortcut must agree exactly."""
    from rocana_impala_udfs_spark.plans.pipeline import q_eval_auc_doc_length

    out = q_eval_auc_doc_length(spark, SF).collect()[0]
    rows = load_table(spark, SF, "documents").select("n_chars", "lang").collect()
    pos = np.array([r.n_chars for r in rows if r.lang == "en"], dtype=np.int64)
    neg = np.array([r.n_chars for r in rows if r.lang != "en"], dtype=np.int64)
    gt = (pos[:, None] > neg[None, :]).sum()
    eq = (pos[:, None] == neg[None, :]).sum()
    auc = (gt + 0.5 * eq) / (len(pos) * len(neg))
    assert out.n_pos == len(pos) and out.n_neg == len(neg)
    assert out.u2_stat == 2 * gt + eq  # doubled U counts each tie once
    assert out.auc == pytest.approx(auc, rel=1e-12)


def test_pr_curve_matches_bruteforce(spark):
    """Every (threshold, tp, fp, fn, precision, recall, f1) row equals the
    brute-force confusion computed at that threshold; recall is
    monotone nonincreasing in the threshold."""
    from rocana_impala_udfs_spark.plans.pipeline import q_eval_pr_curve_points

    got = q_eval_pr_curve_points(spark, SF).collect()
    rows = load_table(spark, SF, "documents").select("n_chars", "lang").collect()
    scores = np.array([r.n_chars for r in rows], dtype=np.int64)
    labels = np.array([r.lang == "en" for r in rows])
    assert len(got) == len(np.unique(scores))
    prev_recall = None
    for r in got:
        pred = scores >= r.threshold
        tp = int((pred & labels).sum())
        fp = int((pred & ~labels).sum())
        fn = int((~pred & labels).sum())
        assert (r.tp, r.fp, r.fn) == (tp, fp, fn)
        assert r.precision == pytest.approx(tp / (tp + fp), rel=1e-12)
        assert r.recall == pytest.approx(tp / (tp + fn), rel=1e-12)
        assert r.f1 == pytest.approx(2 * tp / (2 * tp + fp + fn), rel=1e-12)
        if prev_recall is not None:
            assert r.recall <= prev_recall + 1e-15
        prev_recall = r.recall


def test_cohens_kappa_matches_bruteforce(spark):
    """eval_cohens_kappa vs the textbook κ computed in numpy from the
    same 2×2 confusion matrix."""
    from rocana_impala_udfs_spark.functions.text import normalize_text
    from rocana_impala_udfs_spark.plans.pipeline import q_eval_cohens_kappa

    out = q_eval_cohens_kappa(spark, SF).collect()[0]
    rows = (
        load_table(spark, SF, "documents")
        .select(normalize_text("text").alias("norm"), "lang")
        .collect()
    )
    pred = np.array([f" {r.norm} ".find(" the ") >= 0 for r in rows])
    truth = np.array([r.lang == "en" for r in rows])
    n = len(rows)
    agree = int((pred == truth).sum())
    p_o = agree / n
    p_e = (pred.sum() * truth.sum() + (n - pred.sum()) * (n - truth.sum())) / n**2
    kappa = (p_o - p_e) / (1 - p_e)
    assert out.n == n and out.agree == agree
    assert out.p_o == pytest.approx(p_o, rel=1e-12)
    assert out.p_e == pytest.approx(p_e, rel=1e-12)
    assert out.kappa == pytest.approx(kappa, rel=1e-12)


def test_k_anonymity_matches_bruteforce(spark):
    """privacy_k_anonymity vs a pandas recomputation of the QI census."""
    from rocana_impala_udfs_spark.plans.pipeline import q_privacy_k_anonymity

    out = q_privacy_k_anonymity(spark, SF).collect()[0]
    orders = load_table(spark, SF, "orders").select("o_custkey", "o_orderdate").toPandas()
    cust = load_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    ).toPandas()
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    j["order_year"] = j["o_orderdate"].dt.year
    sizes = j.groupby(["c_nationkey", "c_mktsegment", "order_year"]).size()
    assert out.k == 10
    assert out.n_rows == int(sizes.sum())
    assert out.n_groups == len(sizes)
    assert out.violating_groups == int((sizes < 10).sum())
    assert out.rows_at_risk == int(sizes[sizes < 10].sum())
    assert out.min_group_size == int(sizes.min())


def test_conformal_quantile_and_guarantee(spark):
    """eval_conformal_coverage: q̂ equals numpy's ⌈(n+1)(1−α)⌉-th smallest
    calibration score (an actual element), and empirical test coverage
    meets the finite-sample bound within sampling noise of the exchange-
    ability guarantee (≥ 0.9 − 3σ for the binomial at n_test)."""
    import math

    from rocana_impala_udfs_spark.plans.pipeline import q_eval_conformal_coverage

    out = q_eval_conformal_coverage(spark, SF).collect()[0]
    rows = (
        load_table(spark, SF, "documents")
        .select(
            "n_chars",
            (
                F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
                .cast("bigint")
                % 2
            ).alias("g"),
        )
        .collect()
    )
    cal = sorted(r.n_chars for r in rows if r.g == 0)
    tes = [r.n_chars for r in rows if r.g == 1]
    k = math.ceil(9 * (len(cal) + 1) / 10)
    assert out.n_cal == len(cal) and out.k_rank == k
    assert out.qhat == cal[k - 1]
    assert out.n_test == len(tes)
    assert out.n_covered == sum(1 for s in tes if s <= out.qhat)
    sigma = math.sqrt(0.9 * 0.1 / len(tes))
    assert out.coverage >= 0.9 - 3 * sigma


def test_gini_matches_numpy_definition(spark):
    """corpus_gini_doc_length vs the sorted-values closed form computed in
    numpy per source: G = 2Σ i·xᵢ/(nS) − (n+1)/n, 1-indexed ascending."""
    from rocana_impala_udfs_spark.plans.pipeline import q_corpus_gini_doc_length

    got = {r.source: (r.n_docs, r.total_chars, r.gini)
           for r in q_corpus_gini_doc_length(spark, SF).collect()}
    rows = load_table(spark, SF, "documents").select("source", "n_chars").collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.n_chars)
    for src, xs in by_src.items():
        xs = np.sort(np.array(xs, dtype=np.int64))
        n, s = len(xs), int(xs.sum())
        g = 2 * float((np.arange(1, n + 1) * xs).sum()) / (n * s) - (n + 1) / n
        nd, tc, gini = got[src]
        assert (nd, tc) == (n, s)
        assert gini == pytest.approx(g, rel=1e-12)
        assert 0.0 <= gini < 1.0


def test_mrr_matches_bruteforce_ranks(spark):
    """eval_mrr_report: each method's MRR equals the numpy recomputation
    from its own ranked list against the brute-force rank-1 truth, and
    MRR ∈ [0, 1] with n_queries matching the method's probe set."""
    from rocana_impala_udfs_spark.operators.pq import pq_adc_topk
    from rocana_impala_udfs_spark.plans.pipeline import q_eval_mrr_report

    got = {r.method: r for r in q_eval_mrr_report(spark, SF).collect()}
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    truth = {
        r.query_id: r.neighbor_id
        for r in similarity.brute_force_topk_np(emb, queries, k=5)
        .filter(F.col("rk") == 1)
        .collect()
    }
    methods = {
        "ivf_fixed": (similarity.ivf_fixed_topk(emb, queries, k=5), 20),
        "lsh": (similarity.lsh_bucket_topk(emb, queries, k=5), 20),
        "pq_adc": (pq_adc_topk(emb, n_probes=4, k=5), 4),
    }
    for name, (appr, nq) in methods.items():
        ranks = {(r.query_id, r.neighbor_id): r.rk for r in appr.collect()}
        rr6 = sum(
            round(1e6 / ranks[(q, rel)]) if (q, rel) in ranks else 0
            for q, rel in truth.items()
            if q < nq
        )
        row = got[name]
        assert row.n_queries == nq
        assert row.sum_rr6 == rr6
        assert row.mrr == pytest.approx(rr6 / nq / 1e6, rel=1e-12)
        assert 0.0 <= row.mrr <= 1.0


def test_ndcg_matches_bruteforce_formula(spark):
    """eval_ndcg_report: each method's mean nDCG@5 equals the textbook
    graded-relevance recomputation (rel = 6 − brute rank, log2 discounts,
    per-term 1e-6 quantization) and sits in [0, 1]."""
    import math

    from rocana_impala_udfs_spark.operators.pq import pq_adc_topk
    from rocana_impala_udfs_spark.plans.pipeline import _IDCG6_AT_5, q_eval_ndcg_report

    assert _IDCG6_AT_5 == sum(
        math.floor(1e6 * (6 - i) / math.log2(i + 1) + 0.5) for i in range(1, 6)
    )
    got = {r.method: r for r in q_eval_ndcg_report(spark, SF).collect()}
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    rel = {
        (r.query_id, r.neighbor_id): 6 - r.rk
        for r in similarity.brute_force_topk_np(emb, queries, k=5).collect()
    }
    methods = {
        "ivf_fixed": (similarity.ivf_fixed_topk(emb, queries, k=5), 20),
        "lsh": (similarity.lsh_bucket_topk(emb, queries, k=5), 20),
        "pq_adc": (pq_adc_topk(emb, n_probes=4, k=5), 4),
    }
    for name, (appr, nq) in methods.items():
        s = 0
        for r in appr.collect():
            g = rel.get((r.query_id, r.neighbor_id), 0)
            s += math.floor(1e6 * g / math.log2(r.rk + 1) + 0.5)
        row = got[name]
        assert row.sum_dcg6 == s
        assert row.mean_ndcg == pytest.approx(s / nq / _IDCG6_AT_5, rel=1e-12)
        assert 0.0 <= row.mean_ndcg <= 1.0



def test_ndcg_method_without_candidates_scores_zero_on_both_engines(
    spark, monkeypatch
):
    """A method that returns no candidates scores sum_dcg6 = 0 and
    mean_ndcg = 0.0 in eval_ndcg_report and in its DuckDB oracle alike
    (not NULL), the same as a method whose candidates have no graded
    hits; the other methods are unaffected."""
    import duckdb

    from rocana_impala_udfs_spark.plans import pipeline
    from rocana_impala_udfs_spark.sources.io import TABLES

    lsh_topk, lsh_sql = similarity.lsh_bucket_topk, pipeline.ORACLE_ANN_LSH
    monkeypatch.setattr(
        similarity,
        "lsh_bucket_topk",
        lambda *a, **k: lsh_topk(*a, **k).filter(F.lit(False)),
    )
    monkeypatch.setattr(
        pipeline, "ORACLE_ANN_LSH", f"SELECT * FROM ({lsh_sql}) WHERE false"
    )
    got = [tuple(r) for r in pipeline.q_eval_ndcg_report(spark, SF).collect()]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    want = con.execute(pipeline._oracle_eval_ndcg()).fetchall()
    assert ("lsh", 20, 0, 0.0) in got
    assert got == want

def test_auc_invariant_under_monotone_transform(spark, tmp_path):
    """Property: AUC depends only on the score ORDER — writing a corpus
    whose n_chars are squared (a strictly monotone transform on the
    nonneg grid) must leave every output of eval_auc_doc_length identical
    except u2/auc recomputed over the same ranks (i.e. equal values)."""
    import os

    from rocana_impala_udfs_spark.plans.pipeline import q_eval_auc_doc_length

    base = q_eval_auc_doc_length(spark, SF).collect()[0]
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source", (F.col("n_chars") * F.col("n_chars")).alias("n_chars")
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    docs.write.parquet(f"{d}/documents.parquet")
    sq = q_eval_auc_doc_length(spark, d).collect()[0]
    assert (sq.n_pos, sq.n_neg, sq.u2_stat, sq.auc) == (
        base.n_pos,
        base.n_neg,
        base.u2_stat,
        base.auc,
    )


def test_incremental_minhash_matches_full_and_planted_pair(spark):
    """dedup_incremental_minhash: (1) cross-side pairs from the
    incremental delta-vs-corpus probe equal the cross-side subset of the
    full self-join operator (same banding math, no recall loss from the
    split); (2) the candidate join is a real two-sided join, not a
    self-join of the union."""
    from rocana_impala_udfs_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, SF, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    inc = {
        (r.new_id, r.dup_of): r.jaccard
        for r in incremental_minhash_pairs(corpus, delta, threshold=0.8).collect()
    }
    full = minhash_lsh_pairs(docs, threshold=0.8).collect()
    cross = {}
    for r in full:
        if (r.i % 10 == 0) != (r.j % 10 == 0):
            new, dup = (r.i, r.j) if r.i % 10 == 0 else (r.j, r.i)
            cross[(new, dup)] = r.jaccard
    assert inc == cross
    assert all(n % 10 == 0 and d % 10 != 0 for n, d in inc)


def test_incremental_minhash_index_probe_equals_recompute(spark):
    """The persisted-band-index probe path (corpus_bands=) returns exactly
    what the inline-recompute path returns — the r10 incrementality rework
    is value-preserving, and ensure_minhash_band_index is build-once (a
    second call returns the stored table without a rebuild)."""
    from rocana_impala_udfs_spark.operators.dedup import incremental_minhash_pairs
    from rocana_impala_udfs_spark.sources.io import ensure_minhash_band_index

    docs = load_table(spark, SF, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    tbl = "minhash_band_index_pytest"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        idx = ensure_minhash_band_index(spark, corpus, table=tbl)
        probed = sorted(
            (r.new_id, r.dup_of, r.jaccard)
            for r in incremental_minhash_pairs(
                corpus, delta, threshold=0.8, corpus_bands=idx
            ).collect()
        )
        recomputed = sorted(
            (r.new_id, r.dup_of, r.jaccard)
            for r in incremental_minhash_pairs(corpus, delta, threshold=0.8).collect()
        )
        assert probed == recomputed and probed
        # build-once: a second ensure call must serve the existing table,
        # not rewrite it (part-file names are write-unique, so an identical
        # on-disk listing proves no rebuild happened).
        import os as _os

        loc = next(
            r.data_type
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl}").collect()
            if r.col_name == "Location"
        ).replace("file:", "")
        files_before = sorted(_os.listdir(loc))
        ensure_minhash_band_index(spark, corpus, table=tbl)
        files_after = sorted(_os.listdir(loc))
        assert files_before == files_after
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_incremental_probe_plan_never_signatures_corpus(spark):
    """Plan guard for the O(|delta|) claim: with the standing index
    persisted, the candidate-probe plan scans exactly ONE documents
    parquet (the delta's shingle/signature input) plus the bucketed index
    table — no corpus-side shingle/signature stage exists anywhere in the
    plan, so probe cost cannot scale with the corpus."""
    from rocana_impala_udfs_spark.operators.dedup import (
        incremental_candidates,
        minhash_band_index,
    )
    from rocana_impala_udfs_spark.sources.io import ensure_minhash_band_index

    docs = load_table(spark, SF, "documents")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    tbl = "minhash_band_index_pytest_plan"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        idx = ensure_minhash_band_index(spark, corpus, table=tbl)
        cand = incremental_candidates(minhash_band_index(delta), idx)
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert plan.count("documents.parquet") == 1, plan
        assert tbl in plan, plan
        # exactly two file scans: the delta documents read + the index read
        assert plan.count("FileScan parquet") == 2, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_dedup_paths_leave_no_cache_registrations(spark):
    """VERDICT r10 #2: the dedup operators must not leak storage across
    repeated invocations. cache() registers the plan in the session
    CacheManager, which only unpersist() releases; the house idiom is an
    eager localCheckpoint whose blocks the ContextCleaner frees on GC. Pin
    (a) zero .cache() calls in the module source and (b) an empty
    CacheManager after two invocations of the MinHash + PPJoin paths."""
    import inspect

    src = inspect.getsource(dedup)
    assert ".cache()" not in src, "dedup.py reintroduced a cache() leak"

    docs = load_table(spark, SF, "documents")
    cm = spark._jsparkSession.sharedState().cacheManager()
    # start from a known-empty CacheManager so the post-condition is a real
    # pin, never vacuous (clearing only costs other tests recomputation)
    if not cm.isEmpty():
        spark.catalog.clearCache()
    assert cm.isEmpty()
    for _ in range(2):
        dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()
        dedup.prefix_filter_jaccard_pairs(docs, threshold=0.8).collect()
        dedup.ngram_containment_pairs(docs, threshold=0.9).collect()
    assert cm.isEmpty(), (
        "dedup invocations registered frames in the CacheManager "
        "(cache()-style leak) — they must use localCheckpoint"
    )


def test_quality_keep_sweep_matches_numpy_recomputation(spark):
    """quality_keep_threshold_sweep parity vs an independent numpy/pandas
    recomputation of the frozen logistic model (VERDICT r10 #5's Done
    condition): same features, same 6-dp rounded sigmoid, same cutoffs."""
    import math

    from rocana_impala_udfs_spark.plans.pipeline import (
        _QKEEP_THRESHOLDS,
        q_quality_keep_threshold_sweep,
        q_quality_model_scores,
    )

    got = {
        r.threshold: (r.n_kept, r.kept_tokens, r.sources_surviving, r.keep_rate)
        for r in q_quality_keep_threshold_sweep(spark, SF).collect()
    }

    docs = load_table(spark, SF, "documents").select("doc_id", "source", "text").collect()
    stop = {
        "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
        "for", "on", "with", "as", "at", "by",
    }
    punct = set(r"!\"#$%&'()*+,-./:;<=>?@[\]^_`{|}~")

    def score_and_tokens(text: str) -> tuple[float, int]:
        norm = " ".join(text.lower().split())
        toks = norm.split(" ") if norm else []
        nt = len(toks)
        nc = len(text)
        sr = (sum(1 for w in toks if w in stop) / nt) if nt else 0.0
        pr = (sum(1 for c in text if c in punct) / nc) if nc else 0.0
        mwl = nc / max(nt, 1)
        z = -1.2 + 0.004 * nt + 3.0 * sr - 6.0 * pr - 0.08 * mwl
        s = 1.0 / (1.0 + math.exp(-z))
        # HALF_UP 6dp like F.round (python round() is banker's)
        return math.floor(s * 1e6 + 0.5) / 1e6, nt

    scored = [(d.source, *score_and_tokens(d.text)) for d in docs]
    n_total = len(scored)
    for t in _QKEEP_THRESHOLDS:
        kept = [(src, s, nt) for (src, s, nt) in scored if s >= t]
        exp = (
            len(kept),
            sum(nt for _, _, nt in kept),
            len({src for src, _, _ in kept}),
            len(kept) / n_total,
        )
        assert got[t] == exp, (t, got[t], exp)

    # the sweep's score column is the quality_model_scores artifact
    model = {r.doc_id: r.model_score for r in q_quality_model_scores(spark, SF).collect()}
    recomputed = {d.doc_id: score_and_tokens(d.text)[0] for d in docs}
    assert model == recomputed


def test_quality_pii_report_planted_arithmetic(spark):
    """quality_pii_report invariants: planted spans follow the doc_id
    arithmetic exactly — email hits = |{doc_id % 3 == 0}|, phone hits =
    |{doc_id % 5 == 0}|, id hits = |{doc_id % 7 == 0}| (the corpus itself
    carries no organic matches), and every source reports."""
    from rocana_impala_udfs_spark.plans.pipeline import q_quality_pii_report

    rows = q_quality_pii_report(spark, SF).collect()
    docs = load_table(spark, SF, "documents").select("doc_id", "source").collect()
    assert {r.source for r in rows} == {d.source for d in docs}
    assert sum(r.email_hits for r in rows) == sum(1 for d in docs if d.doc_id % 3 == 0)
    assert sum(r.phone_hits for r in rows) == sum(1 for d in docs if d.doc_id % 5 == 0)
    assert sum(r.id_hits for r in rows) == sum(1 for d in docs if d.doc_id % 7 == 0)
    assert sum(r.docs_with_pii for r in rows) == sum(
        1 for d in docs if d.doc_id % 3 == 0 or d.doc_id % 5 == 0 or d.doc_id % 7 == 0
    )
    # redaction must strictly shrink any doc with a hit: every planted span
    # is longer than its placeholder token
    assert all(r.chars_redacted > 0 for r in rows if r.docs_with_pii > 0)
    assert all(r.chars_redacted == 0 for r in rows if r.docs_with_pii == 0)


def test_band_index_fingerprint_rebuilds_on_corpus_change(spark):
    """ADVICE r10 #2: the standing band index stores a corpus fingerprint
    (row count + max id) in table properties and re-checks it per read —
    a changed corpus under the same table tag must trigger a rebuild, not
    silently serve the stale index."""
    from rocana_impala_udfs_spark.sources.io import ensure_minhash_band_index

    docs = load_table(spark, SF, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    tbl = "minhash_band_index_pytest_fp"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        ids_a = {r.id for r in ensure_minhash_band_index(spark, a, table=tbl).select("id").distinct().collect()}
        assert ids_a and all(i % 2 == 0 for i in ids_a)
        # same tag, different corpus -> fingerprint mismatch -> rebuild
        ids_b = {r.id for r in ensure_minhash_band_index(spark, b, table=tbl).select("id").distinct().collect()}
        assert ids_b and all(i % 2 == 1 for i in ids_b)
        # same corpus again -> served from the table (fingerprint match)
        props = {r["key"]: r["value"] for r in spark.sql(f"SHOW TBLPROPERTIES {tbl}").collect()}
        assert "corpus_fingerprint" in props
        ids_b2 = {r.id for r in ensure_minhash_band_index(spark, b, table=tbl).select("id").distinct().collect()}
        assert ids_b2 == ids_b
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compaction_union_probe_equals_compacted_and_skips_rebuild(spark):
    """VERDICT r11 #1(b): the index lifecycle — probe(standing table ⊎
    accumulated stream band rows) before compaction, probe(compacted
    table) after, and recompute-from-scratch must all agree; and the
    ensure() call AFTER compaction must recognize the advanced corpus
    fingerprint and not rebuild (no files touched)."""
    import os
    from urllib.parse import urlparse

    from rocana_impala_udfs_spark.sources.io import (
        compact_band_delta_into_index,
        ensure_minhash_band_index,
    )
    from rocana_impala_udfs_spark.streaming.dedup_stream import md5_band_columns

    def pairs(bands):
        a, b = bands.alias("a"), bands.alias("b")
        return {
            (r.i, r.j)
            for r in a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("i"), F.col("b.id").alias("j"))
            .distinct()
            .collect()
        }

    docs = load_table(spark, SF, "documents")
    standing = docs.filter(F.col("doc_id") % 10 != 0)
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    tbl = "lsh_md5_band_index_pytest_compact"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        idx0 = ensure_minhash_band_index(
            spark, standing, table=tbl, buckets=4, banding=md5_band_columns
        )
        delta_bands = md5_band_columns(delta)
        serving = pairs(idx0.unionByName(delta_bands))  # pre-compaction path
        compacted = compact_band_delta_into_index(
            spark, tbl, delta_bands, corpus_after=docs
        )
        after = pairs(compacted)
        recompute = pairs(md5_band_columns(docs))
        assert serving == after == recompute and recompute
        # compacted table content is exactly the full-corpus banding
        got_rows = {
            (r.id, r.band_idx, r.band_hash)
            for r in spark.table(tbl).collect()
        }
        exp_rows = {
            (r.id, r.band_idx, r.band_hash)
            for r in md5_band_columns(docs).collect()
        }
        assert got_rows == exp_rows
        # recognition: ensure() with the full corpus must not rebuild
        wh = os.path.realpath(
            urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        )
        loc = os.path.join(wh, tbl.lower())
        files_before = sorted(os.listdir(loc))
        ensure_minhash_band_index(
            spark, docs, table=tbl, buckets=4, banding=md5_band_columns
        )
        assert sorted(os.listdir(loc)) == files_before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
