"""Semantics tests for the round-1 widening: PSN windows, progressive
emission orders, ExtendedQGrams combination keys, clean_text parity
with a pure-python reference-style implementation."""

import math
import re

from pyspark.sql import functions as F

from conftest import SF_DIR
import kernel_reference as KR

from pyjedai_spark.functions import text as T
from pyjedai_spark.operators import block_building as BB
from pyjedai_spark.operators import progressive as PR
from pyjedai_spark.operators import sorted_neighborhood as SN


def _tok(s):
    return sorted(set(filter(None, re.split(r"[\W_]", s.lower()))))


def _py_gpsn_acf(postings_rows, window):
    """Reference GPSN loop (comparison_cleaning.py:862-896) with the
    deterministic (key, eid) order instead of the unseeded shuffle."""
    ordered = [eid for _, eid in sorted(postings_rows)]
    weights = {}
    for pos, eid in enumerate(ordered):
        for w in range(1, window + 1):
            for p2 in (pos - w, pos + w):
                if 0 <= p2 < len(ordered) and ordered[p2] != eid:
                    pair = (min(eid, ordered[p2]), max(eid, ordered[p2]))
                    weights[pair] = weights.get(pair, 0.0) + 1.0
    # each co-occurrence is visited from both endpoints -> halve
    return {k: v / 2 for k, v in weights.items()}


def test_gpsn_acf_matches_reference_loop(spark, docs):
    sample = docs.limit(60)
    p = BB.standard_blocking(sample)
    rows = [(r["key"], r["eid"]) for r in p.collect()]
    expected = _py_gpsn_acf(rows, window=3)
    got = {(r["id1"], r["id2"]): r["weight"]
           for r in SN.global_psn(p, window=3, scheme="ACF").collect()}
    assert got == expected


def test_lpsn_weight_is_max_over_windows(spark, docs):
    sample = docs.limit(60)
    p = BB.standard_blocking(sample)
    acf_g = {(r["id1"], r["id2"]): r["weight"]
             for r in SN.global_psn(p, window=3, scheme="ACF").collect()}
    acf_l = {(r["id1"], r["id2"]): r["weight"]
             for r in SN.local_psn(p, window=3, scheme="ACF").collect()}
    assert set(acf_g) == set(acf_l)
    for pair, wl in acf_l.items():
        assert wl <= acf_g[pair] + 1e-9  # per-window max <= total count


def test_emit_hb_best_per_neighborhood_first(spark):
    edges = spark.createDataFrame(
        [(1, 2, 5.0), (1, 3, 1.0), (1, 4, 0.5), (2, 3, 4.0), (2, 5, 3.9)],
        "id1 long, id2 long, weight double")
    out = PR.emit(edges, budget=5, method="HB").collect()
    ranks = {(r["id1"], r["id2"]): r["emit_rank"] for r in out}
    # phase 1: best edge of each neighborhood, neighborhood avg order
    # nbh 2 avg 3.95, nbh 1 avg ~2.17 -> (2,3) first, then (1,2)
    assert ranks[(2, 3)] == 1 and ranks[(1, 2)] == 2
    # phase 2 drains remaining in neighborhood order
    assert ranks[(2, 5)] == 3 and ranks[(1, 3)] == 4 and ranks[(1, 4)] == 5


def test_emit_top_is_global_weight_order(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (3, 4, 9.0), (5, 6, 5.0)],
        "id1 long, id2 long, weight double")
    out = PR.emit(edges, budget=2, method="TOP").collect()
    got = [(r["id1"], r["id2"]) for r in sorted(out, key=lambda r: r["emit_rank"])]
    assert got == [(3, 4), (5, 6)]


def _py_ext_qgram_keys(text, q=4, threshold=0.95):
    """Reference ExtendedQGramsBlocking._tokenize_entity
    (block_building.py:735-757) verbatim semantics."""
    from itertools import combinations

    keys = set()
    for tok in set(filter(None, re.split(r"[\W_]", text.lower()))):
        if len(tok) < q:
            keys.add(tok)
            continue
        grams = [tok[i:i + q] for i in range(len(tok) - q + 1)]
        if len(grams) == 1:
            keys.update(grams)
            continue
        grams = grams[:15]
        lo = max(1, math.floor(len(grams) * threshold))
        for size in range(lo, len(grams) + 1):
            for c in combinations(range(len(grams)), size):
                keys.add("".join(grams[i] for i in c))
    return keys


def test_ext_qgram_column_path_matches_reference_combos(spark, docs):
    sample = docs.limit(40).select("doc_id", "text")
    got = (
        sample.select(
            "doc_id",
            T.token_qgram_combo_keys(T.tokens("text"), 4, 0.95).alias("ks"))
        .collect()
    )
    texts = {r["doc_id"]: r["text"] for r in sample.collect()}
    for r in got:
        assert set(r["ks"]) == _py_ext_qgram_keys(texts[r["doc_id"]])


def test_ext_qgram_udf_fallback_agrees(spark, docs):
    sample = docs.limit(40)
    a = BB.extended_qgrams_blocking(sample, q=4, threshold=0.95)
    b = BB.extended_qgrams_blocking(sample, q=4, threshold=0.95,
                                    udf_fallback=True)
    assert sorted((r["key"], r["eid"]) for r in a.collect()) == \
        sorted((r["key"], r["eid"]) for r in b.collect())


def test_markov_clustering_cuts_weak_bridge(spark):
    """MCL separates two dense triangles joined by a weak bridge — the
    behavior plain connected components cannot deliver (reference
    clustering.py:1055-1171)."""
    from pyjedai_spark.operators import clustering as CL

    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (1, 3, 0.9),
         (4, 5, 0.9), (5, 6, 0.9), (4, 6, 0.9), (3, 4, 0.56)],
        "id1 long, id2 long, sim double")
    out = CL.markov_clustering(edges, similarity_threshold=0.5)
    clusters = {}
    for r in out.collect():
        clusters.setdefault(r["cluster_id"], set()).add(r["eid"])
    assert sorted(sorted(v) for v in clusters.values()) == \
        [[1, 2, 3], [4, 5, 6]]
    cc = CL.connected_components(edges.select("id1", "id2"))
    assert cc.select("cluster_id").distinct().count() == 1


def test_ccer_pair_space_is_cross_dataset_only(spark, docs):
    from pyjedai_spark.operators import ccer as X

    d1 = docs.where("doc_id % 2 = 0")
    d2 = docs.where("doc_id % 2 = 1")
    pairs = X.ccer_pairs(X.ccer_blocking(d1, d2)).collect()
    assert pairs
    for r in pairs:
        assert r["id1"] % 2 == 0 and r["id2"] % 2 == 1


def test_ccer_ccc_keeps_only_size2(spark, docs):
    from pyjedai_spark.operators import ccer as X

    edges = spark.createDataFrame(
        [(0, 1, 0.9), (2, 3, 0.9), (3, 4, 0.9)],
        "id1 long, id2 long, sim double")
    out = X.ccc_size2(edges.select("id1", "id2"))
    got = {}
    for r in out.collect():
        got.setdefault(r["cluster_id"], set()).add(r["eid"])
    # the 3-chain {2,3,4} is dropped; only the clean 1-1 match remains
    assert sorted(sorted(v) for v in got.values()) == [[0, 1]]


def _py_clean_text(s):
    s = s.lower()
    s = re.sub(r"\d+", "", s)
    s = re.sub(r"[^\x00-\x7F]+", "", s)
    s = re.sub(r"[^\w\s]", "", s)
    stop = set(T.NLTK_EN_STOPWORDS)
    return " ".join(w for w in s.split() if w not in stop)


def test_clean_text_byte_identical_to_python(spark, docs):
    sample = docs.limit(80)
    got = sample.select("doc_id", T.clean_text(F.col("text")).alias("c")).collect()
    texts = {r["doc_id"]: r["text"] for r in sample.collect()}
    for r in got:
        assert r["c"] == _py_clean_text(texts[r["doc_id"]]), r["doc_id"]


def test_ivf_topk_all_probes_equals_exact(spark):
    """With nprobe = n_cells (probe everything) IVF must reduce to the
    exact brute-force top-k: same neighbors, same rounded cosines, same
    ranks for every query. At nprobe=2 results are a subset per query."""
    import random

    from pyjedai_spark.functions import vectors as V

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
             for r in V.brute_force_topk(
                 emb, k=5, probe_ids=list(range(80))).collect()}
    full = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
            for r in V.ivf_topk(emb, k=5, n_cells=8, nprobe=8).collect()}
    assert full == exact
    sub = V.ivf_topk(emb, k=5, n_cells=8, nprobe=2).collect()
    assert sub, "nprobe=2 returned nothing"
    exact_pairs = {(q, n) for (q, _), (n, _) in exact.items()}
    # every IVF hit is a true pair with the true cosine at some rank
    exact_cos = {(q, n): c for (q, _), (n, c) in exact.items()}
    for r in sub:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert abs(r["cosine"] - exact_cos[key]) < 1e-12
    assert any((r["query_id"], r["neighbor_id"]) in exact_pairs for r in sub)


def test_salted_pairs_identical_to_self_join(spark, docs):
    """block_pairs_salted must reproduce block_pairs bit-for-bit while
    bounding per-task work; chunk=4 forces every real block through the
    multi-chunk path (cross-chunk AND intra-chunk branches)."""
    p = BB.standard_blocking(docs.limit(150))
    plain = sorted((r["id1"], r["id2"]) for r in BB.block_pairs(p).collect())
    salted = sorted((r["id1"], r["id2"])
                    for r in BB.block_pairs_salted(p, chunk=4).collect())
    assert plain == salted and len(plain) > 0


def test_salted_lsh_candidates_identical(spark, docs):
    from pyjedai_spark.operators import dedup as DD
    sample = docs.limit(120)
    plain = sorted((r["id1"], r["id2"]) for r in DD.lsh_candidate_pairs(
        sample, k=32, bands=8, shingle_size=3, max_bucket=None).collect())
    salted = sorted((r["id1"], r["id2"]) for r in DD.lsh_candidate_pairs(
        sample, k=32, bands=8, shingle_size=3, max_bucket=None,
        salted_chunk=3).collect())
    assert plain == salted and len(plain) > 0


def test_line_dedup_semantics(spark):
    from pyjedai_spark.functions import analysis as A
    docs = spark.createDataFrame(
        [(0, "keep me\nshared line\nunique a"),
         (1, "shared line\nunique b"),
         (2, "shared line"),
         (3, "   \n  ")],  # only blank lines -> 0 lines
        "doc_id long, text string")
    out = {r["eid"]: r for r in A.line_dedup(docs).collect()}
    assert out[0]["clean_text"] == "keep me\nshared line\nunique a"
    assert out[0]["n_lines"] == 3 and out[0]["n_kept"] == 3
    assert out[1]["clean_text"] == "unique b"  # lost the shared line
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[3]["n_lines"] == 0 and out[3]["clean_text"] == ""
    # keep_first=False removes even the first occurrence
    out2 = {r["eid"]: r for r in
            A.line_dedup(docs, keep_first=False).collect()}
    assert out2[0]["clean_text"] == "keep me\nunique a"


def test_pii_counts_semantics(spark):
    from pyjedai_spark.functions import analysis as A
    docs = spark.createDataFrame(
        [(0, "mail a@b.com and c.d+x@e.org, ip 10.0.0.1 tel +1 555 123 4567"),
         (1, "nothing here")], "doc_id long, text string")
    out = {r["eid"]: r for r in A.pii_counts(docs).collect()}
    assert out[0]["n_emails"] == 2
    assert out[0]["n_ipv4"] == 1
    assert out[0]["n_phoneish"] == 1
    assert (out[1]["n_emails"], out[1]["n_ipv4"], out[1]["n_phoneish"]) == (0, 0, 0)


def test_per_key_top_n_matches_naive_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyjedai_spark.operators.sampling import per_key_top_n
    rows = [(k, i) for k, sz in [("a", 5), ("b", 40), ("c", 200)]
            for i in range(sz)]
    df = spark.createDataFrame(rows, "key string, id long") \
        .withColumn("_ord", F.md5(F.col("id").cast("string")))
    got = set((r["key"], r["id"]) for r in
              per_key_top_n(df, "key", "_ord", 25).collect())
    w = Window.partitionBy("key").orderBy("_ord")
    want = set((r["key"], r["id"]) for r in
               df.withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") <= 25).collect())
    assert got == want
    assert sum(1 for k, _ in got if k == "a") == 5   # under-quota key intact
    assert sum(1 for k, _ in got if k == "b") == 25
    assert sum(1 for k, _ in got if k == "c") == 25


def test_duplicate_spans_semantics(spark):
    from pyjedai_spark.operators import dedup as DD
    shared = " ".join(f"w{i}" for i in range(15))       # 15-token span
    docs = spark.createDataFrame(
        [(0, "a b c " + shared + " x y z"),
         (1, "p q " + shared + " r s"),
         (2, "completely different text here with nothing shared at all ok")],
        "doc_id long, text string")
    out = DD.duplicate_spans(docs, w=10).collect()
    assert len(out) == 1  # consecutive windows merged into ONE span
    r = out[0]
    assert (r["id1"], r["id2"]) == (0, 1)
    # doc0 tokens: a b c (3) then span at pos 3; doc1: p q (2), span at 2
    assert (r["start1"], r["start2"], r["span_tokens"]) == (3, 2, 15)


def test_corpus_clean_pipeline(spark):
    from pyjedai_spark.pipeline import corpus_clean_pipeline
    base = ("the quick brown fox jumps over that lazy dog with good text "
            * 10).strip()
    rows = [
        (0, base, "https://a.com/p?x=1"),
        (1, base, "HTTPS://A.COM:443/p/?x=1#frag"),   # url dup of 0
        (2, base, "https://b.com/p"),                  # exact dup of 0
        (3, base + " plus tail", "https://c.com/p"),   # near dup of 0
        (4, "x y z", "https://d.com/p"),               # fails gopher
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out = {r["eid"]: (r["status"], r["survivor"])
           for r in corpus_clean_pipeline(docs, url_col="url").collect()}
    assert out[0] == ("kept", 0)
    assert out[1] == ("url_dup", 0)
    assert out[2] == ("exact_dup", 0)
    assert out[3] == ("near_dup", 0)
    assert out[4][0] == "low_quality" and out[4][1] is None
    assert len(out) == 5  # every input doc labeled exactly once


def test_corpus_clean_default_is_bucket_capped(spark):
    """The production default must BOUND the LSH bucket enumeration (at
    crawl scale an uncapped boilerplate bucket enumerates ~10^16 pairs):
    the signature default is the 1000 cap, and the cap genuinely flows
    through to the pair enumerator — with max_bucket=1 every bucket is
    oversized, so no near-dup pair survives, while max_bucket=None finds
    the pair."""
    import inspect

    from pyjedai_spark.pipeline import corpus_clean_pipeline

    assert inspect.signature(corpus_clean_pipeline) \
        .parameters["max_bucket"].default == 1000

    base = ("the quick brown fox jumps over that lazy dog with good text "
            * 10).strip()
    rows = [(0, base, "https://a.com/1"),
            (1, base + " plus tail", "https://b.com/2")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    uncapped = {r["eid"]: r["status"] for r in
                corpus_clean_pipeline(docs, url_col="url",
                                      max_bucket=None).collect()}
    assert uncapped == {0: "kept", 1: "near_dup"}
    capped = {r["eid"]: r["status"] for r in
              corpus_clean_pipeline(docs, url_col="url",
                                    max_bucket=1).collect()}
    assert capped == {0: "kept", 1: "kept"}


def test_corpus_clean_resumes_from_checkpoint(spark, tmp_path):
    from pyjedai_spark.checkpoint import CheckpointManager
    from pyjedai_spark.pipeline import corpus_clean_pipeline
    base = ("the quick brown fox jumps over that lazy dog with good text "
            * 10).strip()
    docs = spark.createDataFrame(
        [(0, base, "https://a.com/p"), (1, base, "HTTPS://A.COM/p/"),
         (2, "tiny", "https://b.com/x")],
        "doc_id long, text string, url string")
    ck = CheckpointManager(str(tmp_path / "ck"))
    first = sorted(map(tuple, corpus_clean_pipeline(
        docs, url_col="url", ckpt=ck, fingerprint="v1").collect()))
    import os
    stages = {f for f in os.listdir(tmp_path / "ck")
              if f.endswith("._lineage.json")}
    assert {"clean_url._lineage.json", "clean_exact._lineage.json",
            "clean_quality._lineage.json"} <= stages
    # second run resumes from the persisted survivor sets, same output
    again = sorted(map(tuple, corpus_clean_pipeline(
        docs, url_col="url", ckpt=ck, fingerprint="v1").collect()))
    assert first == again


def test_url_canonicalization(spark):
    from pyjedai_spark.functions import urls as U
    docs = spark.createDataFrame(
        [(0, "HTTPS://Ex.COM:443/A/b/?utm_source=x&b=2&a=1#frag"),
         (1, "https://ex.com/A/b?a=1&b=2"),
         (2, "http://ex.com:80/other"),
         (3, "ex.com/no-scheme/")],
        "doc_id long, url string")
    out = {r["eid"]: r for r in U.url_dedup(docs).collect()}
    # 0 and 1 canonicalize identically: port+fragment+tracking dropped,
    # params sorted, trailing slash stripped, scheme/host lowercased
    assert out[0]["url_canon"] == "https://ex.com/A/b?a=1&b=2"
    assert out[0]["url_canon"] == out[1]["url_canon"]
    assert out[0]["survivor"] == 0 and out[1]["is_dup"] == 1
    assert out[2]["url_canon"] == "http://ex.com/other"
    assert out[3]["url_canon"] == "ex.com/no-scheme"


def test_repetition_stats_semantics(spark):
    from pyjedai_spark.functions import analysis as A
    docs = spark.createDataFrame(
        [(0, "aa bb\naa bb\ncc"),           # line 'aa bb' repeated
         (1, "p one\n\np one\n\np two"),    # para repeated
         (2, "x y x y x y"),               # top 2-gram 'x y' 3x of 5
         (3, "")],
        "doc_id long, text string")
    out = {r["eid"]: r for r in A.repetition_stats(docs).collect()}
    # doc0: 3 line occurrences, 1 duplicate -> 1/3; chars: dup 5 of 15
    assert out[0]["dup_line_frac"] == round(1 / 3, 6)
    assert out[0]["dup_line_char_frac"] == round(5 / 12, 6)
    # doc1 paragraphs: 'p one' x2 + 'p two' -> 1 dup of 3
    assert out[1]["dup_para_frac"] == round(1 / 3, 6)
    # doc2 2-grams: x y, y x, x y, y x, x y -> top 'x y' cnt 3 len 3;
    # tot_chars = 5*3 -> 9/15
    assert out[2]["top2gram_char_frac"] == 0.6
    assert out[2]["dup_line_frac"] == 0.0  # single line
    # empty doc -> all zeros, still present
    assert out[3]["dup_line_frac"] == 0.0
    assert out[3]["top4gram_char_frac"] == 0.0


def test_gopher_quality_semantics(spark):
    from pyjedai_spark.functions import analysis as A
    good = ("the quick brown fox jumps over that lazy dog with good text "
            * 10)  # 120 words, stopwords present, alpha
    bullets = "- one\n- two\n- three"
    docs = spark.createDataFrame(
        [(0, good), (1, bullets), (2, "x " * 60)],
        "doc_id long, text string")
    out = {r["eid"]: r for r in A.gopher_quality(docs).collect()}
    assert out[0]["passes"] == 1
    assert out[1]["bullet_line_frac"] == 1.0 and out[1]["passes"] == 0
    # 60 one-char words: mean_word_len 1 < 3 -> fail
    assert out[2]["passes"] == 0


# ---- tiered survivor selection (cluster_survivors) ----

def _cs_input(spark):
    from pyjedai_spark.operators import dedup as DD
    members = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "c")],
        "eid long, cluster_id string")
    # 2 is best in a; 4/5 tie in b -> min id 4; 6 singleton
    ranks = spark.createDataFrame(
        [(1, 0.25), (2, 0.75), (3, 0.5), (4, 0.5), (5, 0.5), (6, 1.0)],
        "eid long, rank double")
    return DD, members, ranks


def test_cluster_survivors_best_rank_and_ties(spark):
    DD, members, ranks = _cs_input(spark)
    out = {r["eid"]: (r["survivor"], r["is_survivor"])
           for r in DD.cluster_survivors(members, ranks).collect()}
    assert out == {1: (2, 0), 2: (2, 1), 3: (2, 0),
                   4: (4, 1), 5: (4, 0), 6: (6, 1)}


def test_cluster_survivors_ascending(spark):
    DD, members, ranks = _cs_input(spark)
    out = {r["eid"]: r["survivor"]
           for r in DD.cluster_survivors(members, ranks,
                                         descending=False).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_cluster_survivors_null_and_missing_ranks_lose(spark):
    from pyjedai_spark.operators import dedup as DD
    members = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (7, "d"), (8, "d")],
        "eid long, cluster_id string")
    # 1 has NULL rank, 3 is absent from ranks entirely, 2 has a real
    # (even negative) rank -> 2 wins; all-unranked cluster d -> min id
    ranks = spark.createDataFrame(
        [(1, None), (2, -5.0)], "eid long, rank double")
    out = {r["eid"]: r["survivor"]
           for r in DD.cluster_survivors(members, ranks).collect()}
    assert out == {1: 2, 2: 2, 3: 2, 7: 7, 8: 7}


def test_cluster_survivors_all_tied_degrades_to_min_id(spark):
    from pyjedai_spark.operators import dedup as DD
    members = spark.createDataFrame(
        [(9, 1), (4, 1), (7, 1), (12, 2)], "eid long, cluster_id int")
    ranks = members.select("eid", F.lit(1.0).alias("rank"))
    out = {r["eid"]: r["survivor"]
           for r in DD.cluster_survivors(members, ranks).collect()}
    assert out == {9: 4, 4: 4, 7: 4, 12: 12}


def test_cluster_survivors_string_ids(spark):
    """Non-numeric ids (urls) must survive intact — no silent long
    cast to NULL (r4 ADVICE). Tie-break is min on the STRING order."""
    from pyjedai_spark.operators import dedup as DD
    members = spark.createDataFrame(
        [("u/b", 1), ("u/a", 1), ("u/c", 1), ("u/z", 2)],
        "eid string, cluster_id int")
    ranks = spark.createDataFrame(
        [("u/b", 0.9), ("u/a", 0.9), ("u/c", 0.1)],
        "eid string, rank double")
    out = {r["eid"]: (r["survivor"], r["is_survivor"])
           for r in DD.cluster_survivors(members, ranks).collect()}
    assert out == {"u/a": ("u/a", 1), "u/b": ("u/a", 0),
                   "u/c": ("u/a", 0), "u/z": ("u/z", 1)}


def test_cluster_survivors_duplicate_ranks_rows(spark):
    """A duplicated ranks row must not duplicate member rows through
    the join (r4 ADVICE): output stays one row per member."""
    from pyjedai_spark.operators import dedup as DD
    members = spark.createDataFrame(
        [(1, "a"), (2, "a")], "eid long, cluster_id string")
    ranks = spark.createDataFrame(
        [(2, 0.3), (2, 0.9), (1, 0.5)], "eid long, rank double")
    rows = DD.cluster_survivors(members, ranks).collect()
    assert len(rows) == 2
    out = {r["eid"]: r["survivor"] for r in rows}
    assert out == {1: 2, 2: 2}  # max duplicate rank (0.9) wins


def test_exact_dedup_duplicate_ranks_no_group_size_inflation(spark):
    """r4 ADVICE: duplicate ids in ranks inflated group_size in the
    ranked path, flipping is_duplicate for true singletons."""
    from pyjedai_spark.operators import dedup as DD
    docs = spark.createDataFrame(
        [(1, "solo text"), (2, "twin"), (3, "twin")],
        "doc_id long, text string")
    ranks = spark.createDataFrame(
        [(1, 0.5), (1, 0.7), (3, 0.9)], "doc_id long, rank double")
    out = {r["eid"]: (r["group_size"], r["is_duplicate"], r["keep"])
           for r in DD.exact_dedup(docs, ranks=ranks).collect()}
    assert out[1] == (1, 0, 1)  # singleton stays a singleton
    assert out[2] == (2, 1, 0) and out[3] == (2, 1, 1)  # ranked survivor


def test_cluster_survivors_matches_naive_window(spark):
    """Property: the map-side-combining aggregate equals the naive
    row_number window on a pseudo-random instance."""
    import random

    from pyspark.sql import Window

    from pyjedai_spark.operators import dedup as DD
    rng = random.Random(7)
    rows = [(i, rng.randrange(40),
             None if rng.random() < 0.15 else round(rng.random(), 3))
            for i in range(400)]
    df = spark.createDataFrame(rows, "eid long, cluster_id long, rank double")
    got = DD.cluster_survivors(df.select("eid", "cluster_id"),
                               df.select("eid", "rank"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.coalesce("rank", F.lit(float("-inf"))).desc(), F.col("eid"))
    naive = (df.withColumn("survivor", F.first("eid").over(w))
             .select("eid", "cluster_id", "survivor",
                     (F.col("eid") == F.col("survivor")).cast("int")
                     .alias("is_survivor")))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, naive.collect()))


def test_corpus_clean_tiered_survivors(spark):
    """ranks= switches every dedup stage to keep-the-best-ranked: the
    url group and the near-dup cluster each keep their HIGHER-ranked
    (here: non-min-id) member, and the tiered survivor is what
    proceeds downstream."""
    from pyjedai_spark.pipeline import corpus_clean_pipeline
    base = ("the quick brown fox jumps over that lazy dog with good text "
            * 10).strip()
    rows = [
        (0, base, "https://a.com/p?x=1"),
        (1, base, "HTTPS://A.COM:443/p/?x=1#frag"),   # url dup of 0
        (2, base, "https://b.com/p"),                  # exact dup
        (3, base + " plus tail", "https://c.com/p"),   # near dup
        (4, "x y z", "https://d.com/p"),               # fails gopher
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    # rank doc 1 above 0 (url group), doc 3 above the exact-survivor
    ranks = spark.createDataFrame(
        [(0, 0.1), (1, 0.9), (2, 0.5), (3, 0.8), (4, 0.2)],
        "doc_id long, rank double")
    out = {r["eid"]: (r["status"], r["survivor"])
           for r in corpus_clean_pipeline(docs, url_col="url",
                                          ranks=ranks).collect()}
    # url group {0,1}: 1 wins (0.9 > 0.1) and proceeds
    assert out[0] == ("url_dup", 1)
    # exact group {1,2}: 1 wins (0.9 > 0.5)
    assert out[2] == ("exact_dup", 1)
    # near-dup cluster {1,3}: 1 wins (0.9 > 0.8)
    assert out[1] == ("kept", 1)
    assert out[3] == ("near_dup", 1)
    assert out[4][0] == "low_quality" and out[4][1] is None
    assert len(out) == 5


def test_corpus_clean_tiered_all_tied_equals_default(spark):
    """With a constant rank the tiered pipeline degrades to the min-id
    default bit-for-bit."""
    from pyjedai_spark.pipeline import corpus_clean_pipeline
    base = ("the quick brown fox jumps over that lazy dog with good text "
            * 10).strip()
    rows = [
        (0, base, "https://a.com/p?x=1"),
        (1, base, "HTTPS://A.COM:443/p/?x=1#frag"),
        (2, base, "https://b.com/p"),
        (3, base + " plus tail", "https://c.com/p"),
        (4, "x y z", "https://d.com/p"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, url string")
    ranks = docs.select("doc_id", F.lit(1.0).alias("rank"))
    tiered = sorted(map(tuple, corpus_clean_pipeline(
        docs, url_col="url", ranks=ranks).collect()))
    default = sorted(map(tuple, corpus_clean_pipeline(
        docs, url_col="url").collect()))
    assert tiered == default


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


def _with_reference_intersect(monkeypatch, module, build):
    """Run ``build()`` with ``module``'s verify kernel swapped for the
    ``size(array_intersect)`` reference form."""
    with monkeypatch.context() as m:
        m.setattr(module, "_make_inter_udf", lambda: KR.intersect_count)
        return build()


def test_minhash_arrow_expr_bit_identical(spark, docs):
    """The vectorized Arrow signature kernel (r5 scaling fix) must be
    bit-identical to the expression fold on both token and shingle
    paths — the DuckDB minhash oracles reproduce the EXPRESSION
    arithmetic, so any drift here breaks the oracle gate."""
    from pyjedai_spark.operators import dedup as DD

    for shingle in (1, 3):
        e = KR.minhash_signatures(docs, shingle_size=shingle) \
            .withColumnRenamed("sig", "sig_e")
        a = DD.minhash_signatures(docs, shingle_size=shingle) \
            .withColumnRenamed("sig", "sig_a")
        j = e.join(a, "eid")
        assert j.count() == docs.count()
        assert j.filter(F.col("sig_e") != F.col("sig_a")).count() == 0


def test_minhash_arrow_null_text_matches_expr(spark):
    """NULL-text docs must get a NULL signature from the kernel, as
    from the expression fold and the DuckDB oracles (the arrow kernel
    used to emit the [P]*k empty-doc sentinel instead — r5 ADVICE
    medium)."""
    from pyjedai_spark.operators import dedup as DD

    df = spark.createDataFrame([(1, None), (2, ""), (3, "real text")],
                               "doc_id long, text string")
    for shingle in (1, 3):
        e = {r["eid"]: r["sig"] for r in KR.minhash_signatures(
            df, shingle_size=shingle).collect()}
        a = {r["eid"]: r["sig"] for r in DD.minhash_signatures(
            df, shingle_size=shingle).collect()}
        assert e == a
        assert a[1] is None


def test_jaccard_verify_arrow_expr_identical(spark, docs, monkeypatch):
    """The vectorized verify kernel (r6 scaling fix) must be
    bit-identical to the array_intersect expression form — the DuckDB
    near-dup oracles reproduce the expression arithmetic. Covers both
    the shingle (production) and unit-token paths, plus NULL text."""
    from pyjedai_spark.operators import dedup as DD

    sample = docs.limit(200)
    for shingle in (1, 3):
        cands = DD.lsh_candidate_pairs(sample, k=32, bands=8,
                                       shingle_size=shingle, max_bucket=None)
        a = _sorted_rows(DD.jaccard_verify(cands, sample, 0.2, shingle))
        e = _with_reference_intersect(monkeypatch, DD, lambda: _sorted_rows(
            DD.jaccard_verify(cands, sample, 0.2, shingle)))
        assert e == a and len(e) > 0

    nulls = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, None), (4, None)],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "id1 long, id2 long")
    a = _sorted_rows(DD.jaccard_verify(pairs, nulls, 0.1, 1))
    e = _with_reference_intersect(monkeypatch, DD, lambda: _sorted_rows(
        DD.jaccard_verify(pairs, nulls, 0.1, 1)))
    assert e == a == [(1, 2, 1.0)]


def test_minhash_arrow_empty_doc_sentinel(spark):
    """Empty/whitespace docs get the [P]*k sentinel signature in the
    arrow path exactly as the expression fold's zero value does."""
    from pyjedai_spark.operators import dedup as DD

    df = spark.createDataFrame([(1, ""), (2, "   "), (3, "real text")],
                               "doc_id long, text string")
    rows = {r["eid"]: r["sig"]
            for r in DD.minhash_signatures(df).collect()}
    assert rows[1] == [DD.P] * 32 and rows[2] == [DD.P] * 32
    assert rows[3] != [DD.P] * 32


def test_ejoin_prefix_positional_parity(spark, docs):
    """The prefix-filtered ejoin (AllPairs + the r6 PPJoin positional
    upper bound) must return EXACTLY the exhaustive join's pairs: the
    bound may only prune candidates that provably fail the rounded
    threshold. Covers all three metrics, set + multiset tokenizations,
    and thresholds either side of the corpus's similarity mass."""
    from pyjedai_spark.operators import joins as J

    sample = docs.limit(120)
    for metric, tokenization, thr in [
        ("cosine", "standard", 0.82), ("cosine", "qgrams", 0.6),
        ("jaccard", "standard", 0.5), ("jaccard", "qgrams_multiset", 0.7),
        ("dice", "standard_multiset", 0.6), ("dice", "qgrams", 0.35),
    ]:
        fast = sorted(map(tuple, J.ejoin(
            sample, thr, metric, tokenization, prefix_filter=True).collect()))
        slow = sorted(map(tuple, J.ejoin(
            sample, thr, metric, tokenization, prefix_filter=False).collect()))
        assert fast == slow, (metric, tokenization, thr,
                              len(fast), len(slow))


def test_pe_topk_brute_force_parity(spark, docs):
    """pe_topk_join's residual threshold descent (now with the r6
    per-rung positional bound) must return exactly the brute-force
    per-entity top-k — every rung prune has to be lossless."""
    from pyspark.sql import Window

    from pyjedai_spark.operators import joins as J

    sample = docs.limit(100)
    out = sorted(map(tuple, J.pe_topk_join(
        sample, k=3, metric="cosine", tokenization="standard").collect()))
    sims = J._pair_sims(sample, "cosine", "standard", 2, "doc_id", "text", 6)
    w = Window.partitionBy("id1").orderBy(F.col("sim").desc(),
                                          F.col("id2").asc())
    brute = sorted(map(tuple, (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(F.col("id1").alias("eid"), F.col("id2").alias("neighbor"),
                "sim", "rank")).collect()))
    assert out == brute and len(out) > 0


def test_simhash_arrow_expr_identical(spark, docs, monkeypatch):
    """The vectorized SimHash kernel (r6: one scan, zero shuffle) must
    be bit-identical to the 32-conditional-sum aggregate form — the
    DuckDB simhash oracles reproduce the aggregate arithmetic. NULL and
    empty-token docs must be ABSENT from both (explode/unnest drops
    them; the kernel path filters them out before the UDF)."""
    from pyjedai_spark.operators import dedup as DD

    extra = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "   _ "), (9004, "naïve café naïve")],
        "doc_id long, text string")
    df = docs.select("doc_id", "text").unionByName(extra)
    e = {r["eid"]: r["simhash"]
         for r in KR.simhash_signatures(df).collect()}
    a = {r["eid"]: r["simhash"]
         for r in DD.simhash_signatures(df).collect()}
    assert e == a and len(e) > 0
    assert 9001 not in a and 9002 not in a and 9003 not in a
    assert 9004 in a

    pa = _sorted_rows(DD.simhash_candidate_pairs(df))
    with monkeypatch.context() as m:
        m.setattr(DD, "simhash_signatures", KR.simhash_signatures)
        pe = _sorted_rows(DD.simhash_candidate_pairs(df))
    assert pe == pa


def test_ejoin_arrow_expr_identical(spark, docs, monkeypatch):
    """The join verify stages share the dedup Arrow intersect kernel
    (r6): ejoin's prefix-path verify and pe_topk_join's per-rung verify
    must be bit-identical to the array_intersect expression form the
    DuckDB join oracles reproduce — across metrics and tokenizations
    (set and occurrence-suffixed multiset)."""
    from pyjedai_spark.operators import joins as J

    sample = docs.limit(150)

    def outputs():
        return {
            "ej": _sorted_rows(J.ejoin(sample, 0.6, "cosine", "qgrams")),
            "ejm": _sorted_rows(J.ejoin(
                sample, 0.5, "dice", "standard_multiset")),
            "pk": _sorted_rows(J.pe_topk_join(
                sample.limit(60), 3, "jaccard", "standard")),
        }

    bag = outputs()
    expr_bag = _with_reference_intersect(monkeypatch, J, outputs)
    assert expr_bag["ej"] == bag["ej"] and len(bag["ej"]) > 0
    assert expr_bag["ejm"] == bag["ejm"] and len(bag["ejm"]) > 0
    assert expr_bag["pk"] == bag["pk"] and len(bag["pk"]) > 0


def _arrow_eval_nodes(df) -> int:
    """ArrowEvalPython nodes in the plan ``df`` ran with (the final
    adaptive plan, not its initial plan as well)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString().count("ArrowEvalPython")


def test_verify_kernel_evaluated_once(spark, docs):
    """A threshold filter on the verify kernel's output must not copy
    the UDF into a second ArrowEvalPython node: every surviving pair
    would run the Python intersect twice (r06 plans, nodes (12)/(15)
    and (18)/(21))."""
    from pyjedai_spark.operators import dedup as DD
    from pyjedai_spark.operators import joins as J

    sample = docs.limit(120)
    cands = DD.lsh_candidate_pairs(sample, k=32, bands=8, max_bucket=None)
    assert _arrow_eval_nodes(DD.jaccard_verify(cands, sample, 0.2)) == 1
    assert _arrow_eval_nodes(J.ejoin(
        sample, 0.6, "cosine", "standard", prefix_filter=True)) == 1
