"""Set-similarity joins: EJoin / TopKJoin / PETopKJoin.

Reference (src/pyjedai/joins.py) builds a python inverted index and
probes it entity-by-entity (joins.py:59-114,244-254). Spark-first
re-expression — the token-join pattern:

    explode(tokens) on both sides -> equi-join on token
    -> groupBy(id1,id2).count() = common tokens
    -> join per-entity token counts -> similarity in SQL -> theta filter

i.e. a theta-join realized as an equi-join plus post-filter; Catalyst
gets a plain shuffle-hash/sort-merge join on the token key and AQE
handles token skew.

Similarity formulas (_calc_similarity, joins.py:209-230):
  cosine  = c / sqrt(f1*f2)
  dice    = 2c / (f1+f2)
  jaccard = c / (f1+f2-c)      (standard form here, unlike the matcher)

Tokenizers (joins.py:183-207): 'standard' word sets, 'qgrams' char
q-gram sets (q=2 default), multiset variants suffix occurrence counts.
Self-pairs (id==id), which the reference's graph quietly absorbs as
self-loops, are excluded. Dirty-ER only (one-table self-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from .dedup import _make_inter_udf


def _join_tokens(col, tokenization: str, qgrams: int):
    if tokenization == "standard":
        return T.tokens(col)
    if tokenization == "qgrams":
        return T.char_qgrams(col, qgrams)
    if tokenization == "standard_multiset":
        return _multiset(T.tokens(col, distinct=False))
    if tokenization == "qgrams_multiset":
        return _multiset(T.char_qgrams(col, qgrams, distinct=False))
    raise ValueError(f"unknown tokenization {tokenization}")


def _multiset(toks) -> "F.Column":
    """occurrence-suffixed multiset: k-th occurrence of tok -> tok||(k-1)
    (joins.py:190-205). Expressed per-row with a fold over the token
    array (aggregate keeps a map of counts)."""
    return F.aggregate(
        toks,
        F.struct(
            F.create_map().cast("map<string,int>").alias("cnt"),
            F.array().cast("array<string>").alias("out"),
        ),
        lambda acc, t: F.struct(
            F.map_concat(
                F.map_filter(acc["cnt"], lambda k, v: k != t),
                F.create_map(t, F.coalesce(acc["cnt"][t], F.lit(0)) + 1),
            ).alias("cnt"),
            F.concat(
                acc["out"],
                F.array(F.concat(t, (F.coalesce(acc["cnt"][t], F.lit(0))).cast("string"))),
            ).alias("out"),
        ),
        lambda acc: acc["out"],
    )


def _sim_expr(metric: str, c, f1, f2):
    if metric == "cosine":
        return c / F.sqrt(f1 * f2)
    if metric == "dice":
        return 2 * c / (f1 + f2)
    if metric == "jaccard":
        return c / (f1 + f2 - c)
    raise ValueError(f"unknown join metric {metric}")


def _pair_sims(docs: DataFrame, metric: str, tokenization: str, qgrams: int,
               id_col: str, text_col: str, round_to: int | None) -> DataFrame:
    toks = docs.select(
        F.col(id_col).alias("eid"),
        _join_tokens(F.col(text_col), tokenization, qgrams).alias("toks"),
    ).localCheckpoint()  # feeds sizes + both exploded self-join sides
    sizes = toks.select("eid", F.size("toks").alias("f"))
    ex = toks.select("eid", F.explode("toks").alias("tok"))
    a1 = ex.select(F.col("eid").alias("id1"), "tok")
    a2 = ex.select(F.col("eid").alias("id2"), "tok")
    common = (
        a1.join(a2, "tok")
        .where(F.col("id1") != F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("c"))
    )
    sims = (
        common.join(sizes.select(F.col("eid").alias("id1"), F.col("f").alias("f1")),
                    "id1")
        .join(sizes.select(F.col("eid").alias("id2"), F.col("f").alias("f2")), "id2")
        .withColumn("sim", _sim_expr(metric, F.col("c"), F.col("f1"), F.col("f2"))
                    .cast("double"))
    )
    if round_to is not None:
        sims = sims.withColumn("sim", F.round("sim", round_to))
    return sims


def _prefix_len(metric: str, threshold: float, f):
    """Lossless prefix size for the candidate join: a pair at sim >= t
    MUST share a token among each side's first p rarest tokens.
    Bounds (AllPairs/PPJoin family, Bayardo et al. WWW'07 — public):
      jaccard: c >= t*f1           -> p = f - ceil(t*f) + 1
      cosine : c >= t^2*f1         -> p = f - ceil(t^2*f) + 1
      dice   : c >= f1*t/(2-t)     -> p = f - ceil(f*t/(2-t)) + 1
    """
    if metric == "jaccard":
        frac = threshold
    elif metric == "cosine":
        frac = threshold * threshold
    else:  # dice
        frac = threshold / (2.0 - threshold)
    return (f - F.ceil(f * float(frac)) + 1).cast("int")


def ejoin(docs: DataFrame, similarity_threshold: float = 0.82,
          metric: str = "cosine", tokenization: str = "qgrams",
          qgrams: int = 2, id_col: str = "doc_id", text_col: str = "text",
          round_to: int | None = 6, prefix_filter: bool = True) -> DataFrame:
    """ε-join (EJoin, joins.py:350-379): all pairs with sim >= θ.
    Output canonical (id1<id2, sim).

    ``prefix_filter`` (default on, exact — same output): instead of
    joining EVERY token occurrence, each doc joins only its p rarest
    tokens (global document-frequency order, ties by token), where p is
    the metric's prefix bound; the full common-token count for the
    surviving candidates is recomputed from the complete token arrays.
    On Zipfian webtext this removes the hot-token mega-join entirely —
    the candidate join runs on the df-ascending tail (measured 71s ->
    ~8s at sf0.1, identical result set).
    """
    if not prefix_filter or similarity_threshold <= 0:
        sims = _pair_sims(docs, metric, tokenization, qgrams, id_col,
                          text_col, round_to)
        return (
            sims.where((F.col("sim") >= similarity_threshold)
                       & (F.col("id1") < F.col("id2")))
            .select("id1", "id2", "sim")
        )

    toks = docs.select(
        F.col(id_col).alias("eid"),
        _join_tokens(F.col(text_col), tokenization, qgrams).alias("toks"),
    ).localCheckpoint()  # tokenize ONCE: un-materialized, the scan +
    # tokenize re-runs on the df-count branch, the probe side of the
    # df join, and the verify token table below (3 corpus passes)
    ex = toks.select("eid", F.size("toks").alias("f"),
                     F.explode("toks").alias("tok"))
    # global document-frequency order. NOT broadcast: real webtext
    # vocabulary (typos, hashes, URLs) is billions of tokens — a full-df
    # broadcast OOMs the driver. A plain shuffle join on the token key
    # is one extra exchange and scales; AQE converts it to broadcast
    # automatically when the vocab is genuinely small.
    dfreq = ex.groupBy("tok").agg(F.count("*").alias("df"))
    exr = ex.join(dfreq, "tok")
    w = Window.partitionBy("eid").orderBy(F.col("df").asc(), F.col("tok").asc())
    prefix = (
        exr.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= _prefix_len(metric, similarity_threshold,
                                           F.col("f")))
        .select("eid", "tok", F.col("_rn").alias("p"), "f")
        # materialized ONCE: the prefix table feeds both sides of the
        # candidate self-join, and each un-materialized reference
        # re-runs the tokenize + df-count join + per-entity rank chain
        # (two identical Window subtrees in the plan otherwise)
        .localCheckpoint()
    )
    # positional overlap upper bound (PPJoin family, Xiao et al.
    # WWW'08 — public), exact: let t* be a pair's LAST matched prefix
    # token in the global (df, tok) order. Every shared token ordered
    # before t* sits at positions < p(t*) <= prefix_len on BOTH sides,
    # so it is itself a matched prefix token — the m matches count ALL
    # shared tokens up to t*; shared tokens after t* number at most
    # min(f1 - p1(t*), f2 - p2(t*)). Hence overlap c <= ub below, and
    # since every metric here is monotone increasing in c, a pair
    # whose ub-similarity fails the (rounded) threshold provably fails
    # the final filter — pruned BEFORE the token-array verify joins.
    # p1/p2 both increase with global token order, so max(struct(p1,
    # p2)) picks t*'s positions. The groupBy replaces the former
    # .distinct() — same exchange key, no extra shuffle.
    pa = prefix.select(F.col("eid").alias("id1"), "tok",
                       F.col("p").alias("p1"), F.col("f").alias("f1"))
    pb = prefix.select(F.col("eid").alias("id2"), "tok",
                       F.col("p").alias("p2"), F.col("f").alias("f2"))
    ub_agg = (
        pa.join(pb, "tok")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("m"),
             F.max(F.struct("p1", "p2")).alias("_mp"),
             F.max("f1").alias("f1"), F.max("f2").alias("f2"))
    )
    ub = (F.col("m") + F.least(F.col("f1") - F.col("_mp.p1"),
                               F.col("f2") - F.col("_mp.p2"))).cast("double")
    ub_sim = _sim_expr(metric, ub, F.col("f1"), F.col("f2"))
    if round_to is not None:
        ub_sim = F.round(ub_sim, round_to)
    cand = (
        ub_agg.where(ub_sim >= similarity_threshold)
        .select("id1", "id2")
        # feeds the candidate-id semi-join AND the verify joins below
        .localCheckpoint()
    )
    # exact verification on the full token sets, re-tokenized only for
    # docs that appear in a candidate pair (semi-join bound — the
    # jaccard_verify pattern) and materialized once for both endpoints
    cand_ids = (cand.select(F.col("id1").alias("eid"))
                .union(cand.select(F.col("id2").alias("eid")))
                .distinct())
    tv = toks.join(cand_ids, "eid", "left_semi").localCheckpoint()
    j = (
        cand.join(tv.select(F.col("eid").alias("id1"),
                            F.col("toks").alias("_t1")), "id1")
        .join(tv.select(F.col("eid").alias("id2"),
                        F.col("toks").alias("_t2")), "id2")
        .withColumn("c", _make_inter_udf()("id1", "_t1", "id2", "_t2"))
        .withColumn("f1", F.size("_t1")).withColumn("f2", F.size("_t2"))
    )
    sim = _sim_expr(metric, F.col("c"), F.col("f1"), F.col("f2")).cast("double")
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        j.withColumn("sim", sim)
        .where(F.col("sim") >= similarity_threshold)
        .select("id1", "id2", "sim")
    )


# descending threshold schedule for the top-K prefix filter: each pass
# is an EXACT prefix-filtered epsilon-join, so if enough results survive
# at threshold t the true top-K is a subset — identical output to the
# unfiltered join, but the candidate pair space shrinks by orders of
# magnitude whenever the K-th similarity is non-trivial (the common case
# for near-dup webtext). The final 0.0 rung is the exhaustive fallback.
_TOPK_DESCENT = (0.9, 0.7, 0.5, 0.3, 0.15, 0.0)


def topk_join(docs: DataFrame, k: int, metric: str = "cosine",
              tokenization: str = "standard", qgrams: int = 2,
              id_col: str = "doc_id", text_col: str = "text",
              round_to: int | None = 6) -> DataFrame:
    """Global top-K pairs by similarity (TopKJoin, joins.py:381-435 —
    there the PQ yields a global K-th-weight threshold). Deterministic
    tie-break (sim desc, id1 asc, id2 asc); canonical pairs.

    Scale path: threshold descent over exact prefix-filtered ε-joins
    (``_TOPK_DESCENT``) — the first rung that yields >= k pairs bounds
    the answer (every pair with sim >= t is found, so the global top-K
    lies inside it); only a pathological corpus where the K-th pair has
    sim < 0.15 pays the full token self-join."""
    for t in _TOPK_DESCENT:
        cand = ejoin(docs, t, metric, tokenization, qgrams, id_col,
                     text_col, round_to)
        if t <= 0 or cand.limit(k).count() >= k:
            return (
                cand.orderBy(F.col("sim").desc(), F.col("id1").asc(),
                             F.col("id2").asc())
                .limit(k)
                .select("id1", "id2", "sim")
            )
    raise AssertionError("unreachable: descent ends at 0.0")


def pe_topk_join(docs: DataFrame, k: int, metric: str = "cosine",
                 tokenization: str = "standard", qgrams: int = 2,
                 id_col: str = "doc_id", text_col: str = "text",
                 round_to: int | None = 6) -> DataFrame:
    """Per-entity top-K neighborhoods (PETopKJoin, joins.py:437-551;
    neighborhood sort by (-sim, id) at joins.py:264-269 replicated as
    the window order). Returns (eid, neighbor, sim, rank).

    Scale path — per-entity residual threshold descent: at each rung t,
    an exact asymmetric prefix-filtered join finds ALL pairs with
    sim >= t whose probe side is a still-unfinished entity; an entity
    with k verified neighbors at sim >= t is FINAL (nothing below t can
    enter its top-k). Only the residual entities — those whose k-th
    neighbor is genuinely weak — fall through to the exhaustive join,
    and that final join runs on the residual probe set alone."""
    toks = docs.select(
        F.col(id_col).alias("eid"),
        _join_tokens(F.col(text_col), tokenization, qgrams).alias("toks"),
    ).localCheckpoint()  # tokenize ONCE: toks feeds the df-count
    # branch, the probe side of the df join, the residual probe set,
    # and BOTH endpoint joins of every descent rung's verify
    ex = toks.select("eid", F.size("toks").alias("f"),
                     F.explode("toks").alias("tok"))
    dfreq = ex.groupBy("tok").agg(F.count("*").alias("df"))
    exr = ex.join(dfreq, "tok")
    w_pref = Window.partitionBy("eid").orderBy(F.col("df").asc(),
                                               F.col("tok").asc())
    # materialized once: every descent rung derives its prefix from
    # `ranked`, and each un-materialized reference re-runs the
    # tokenize + df-count join + per-entity rank chain
    ranked = exr.withColumn("_rn", F.row_number().over(w_pref)) \
        .localCheckpoint()

    w_rank = Window.partitionBy("eid").orderBy(F.col("sim").desc(),
                                               F.col("neighbor").asc())
    remaining = toks.select("eid")
    parts = []
    for t in _TOPK_DESCENT:
        if t > 0:
            pref = ranked.where(
                F.col("_rn") <= _prefix_len(metric, t, F.col("f"))
            ).select("eid", "tok")
            probe = pref.join(remaining, "eid")
            # NOTE: ejoin's r6 positional upper bound was tried on
            # these rungs too and measured a 117.6 -> 152.7s sf0.1
            # REGRESSION (identical output): on a dense-similarity
            # corpus nothing prunes, and the positions widening the
            # token-join payload plus the richer aggregate are pure
            # overhead. Reverted; the plain distinct stays.
            cand = (
                probe.select(F.col("eid"), "tok")
                .join(pref.select(F.col("eid").alias("neighbor"), "tok"), "tok")
                .where(F.col("eid") != F.col("neighbor"))
                .select("eid", "neighbor")
                .distinct()
            )
        else:  # exhaustive fallback, residual probes only
            probe_toks = toks.join(remaining, "eid").select(
                "eid", F.explode("toks").alias("tok"))
            cand = (
                probe_toks
                .join(ex.select(F.col("eid").alias("neighbor"), "tok"), "tok")
                .where(F.col("eid") != F.col("neighbor"))
                .select("eid", "neighbor")
                .distinct()
            )
        verified = (
            cand.join(toks.select(F.col("eid").alias("eid"),
                                  F.col("toks").alias("_ta")), "eid")
            .join(toks.select(F.col("eid").alias("neighbor"),
                              F.col("toks").alias("_tb")), "neighbor")
            .withColumn("c", _make_inter_udf()("eid", "_ta", "neighbor", "_tb"))
            .withColumn("sim", _sim_expr(metric, F.col("c"),
                                         F.size("_ta"), F.size("_tb"))
                        .cast("double"))
        )
        if round_to is not None:
            verified = verified.withColumn("sim", F.round("sim", round_to))
        if t > 0:
            verified = verified.where(F.col("sim") >= t)
        topk = (
            verified.withColumn("rank", F.row_number().over(w_rank))
            .where(F.col("rank") <= k)
            .select("eid", "neighbor", "sim", "rank")
        )
        if t > 0:
            # an entity is final when its k-th neighbor clears t
            finished = (topk.groupBy("eid").agg(F.count("*").alias("_n"))
                        .where(F.col("_n") == k).select("eid"))
            finished = finished.localCheckpoint(eager=True)
            done_part = topk.join(finished, "eid").localCheckpoint(eager=True)
            parts.append(done_part)
            remaining = remaining.join(finished, "eid", "left_anti") \
                                 .localCheckpoint(eager=True)
            if remaining.limit(1).count() == 0:
                break
        else:
            parts.append(topk)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
