"""Web-scale deduplication operators — the north-rule additions.

These are the scalable stand-ins for the reference's token/q-gram/suffix
exact-key blocking (SURVEY §2.3 last row): MinHash-signature + LSH
band-hash groupBys, SimHash Hamming-ball candidates, rolling w-gram
fingerprints for long-span ("suffix-array style") duplicates, exact
hash dedup, and n-gram Jaccard verification.

Every signature here is built from PORTABLE hashes (md5 hex prefix ->
uint32, affine universal hashing mod a >2^32 prime) in plain integer
arithmetic, so a DuckDB oracle can reproduce signatures bit-for-bit —
no RNG, no JVM-specific hash.

Scale design:
- signatures are computed scan-side (one pass, no shuffle);
- candidates come from groupBy(band) / groupBy(chunk) shuffles whose
  fan-out is bounded by band width, never an n^2 cross join;
- hot buckets (boilerplate pages) are size-capped before pair
  explosion, mirroring size-capped block purging (north rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as T
from .block_building import keep_multi_entity_blocks

P = T.MERSENNE_PRIME_ISH  # 4294967311, prime > 2^32


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism IF the plan
    currently has fewer partitions. Small-file scans collapse into 1-2
    input partitions (maxPartitionBytes binning), which serializes the
    per-doc signature compute; a 100TB scan already has thousands of
    partitions, so this is a no-op there — no unconditional shuffle of
    the full input."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df

# deterministic affine coefficients (a_i, b_i) for the universal hash
# family h_i(x) = (a_i * x + b_i) mod P.  Generated once from the decimal
# expansion of pi/e-flavored constants — fixed, public, seedless, and
# small enough that a_i * x < 2^63 never overflows a signed 64-bit long.
def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    coeffs = []
    a, b = 1103515245, 12345  # classic LCG multipliers as the generator
    x = 48271
    for _ in range(k):
        x = (a * x + b) % 2147483647
        ai = (x % 99999989) + 1  # 1 .. ~1e8  -> ai * u32 < 2^63
        x = (a * x + b) % 2147483647
        bi = x % P
        coeffs.append((ai, bi))
    return coeffs


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", normalize: bool = True,
                ranks: DataFrame | None = None,
                rank_col: str = "rank") -> DataFrame:
    """Exact duplicate groups by content hash: (eid, fingerprint,
    group_size, is_duplicate, keep). ``keep`` marks the minimum id of
    each group — the canonical survivor a training pipeline retains.

    ``ranks`` (optional, (id_col, rank_col) numeric): tiered survivor
    policy — ``keep`` marks the HIGHEST-ranked member instead (ties and
    unranked members sort last, break to min id); degrades to min-id
    when every rank ties. For exact groups the texts are identical, so
    the ranking is only meaningful when it carries doc-level signal
    beyond the text (source tier, recency, url quality)."""
    # NULL text hashes like empty text (all-missing docs are one exact
    # group, not silently dropped — real crawl data has null fields)
    base = F.coalesce(F.col(text_col), F.lit(""))
    norm = F.lower(F.regexp_replace(base, r"\s+", " ")) if normalize else base
    h = docs.select(F.col(id_col).alias("eid"), F.md5(norm).alias("fingerprint"))
    # groupBy + join-back, NOT Window.partitionBy(fingerprint): the
    # aggregate gets a map-side partial combine, so a 10^9-copy
    # boilerplate fingerprint reduces to one (fingerprint, count, min)
    # row per map task instead of funneling every copy through a single
    # window task. Same pattern as functions/urls.py:url_dedup.
    if ranks is None:
        groups = h.groupBy("fingerprint").agg(
            F.count("*").alias("group_size"), F.min("eid").alias("_keep_eid"))
    else:
        # dedupe ranks to one row per eid BEFORE the join: a duplicate
        # id in ranks would otherwise multiply its doc's h row and
        # inflate group_size (flipping is_duplicate for singletons)
        r = (ranks.select(F.col(id_col).alias("eid"),
                          F.col(rank_col).cast("double").alias("_rank"))
             .groupBy("eid").agg(F.max("_rank").alias("_rank")))
        # min(struct(-rank, eid)): highest rank wins, ties (and
        # unranked, -(-inf) = +inf sorts last) break to MIN eid —
        # id-type-generic, unlike max(struct(rank, -eid)) which needs
        # a negatable (numeric) id
        nk = -F.coalesce(F.col("_rank"), F.lit(float("-inf")))
        groups = (
            h.join(r, "eid", "left").groupBy("fingerprint")
            .agg(F.count("*").alias("group_size"),
                 F.min(F.struct(
                     nk.alias("nk"),
                     F.col("eid").alias("best"))).alias("_b"))
            .select("fingerprint", "group_size",
                    F.col("_b.best").alias("_keep_eid")))
    return h.join(groups, "fingerprint").select(
        "eid", "fingerprint",
        F.col("group_size"),
        (F.col("group_size") > 1).cast("int").alias("is_duplicate"),
        (F.col("eid") == F.col("_keep_eid")).cast("int").alias("keep"),
    )


# Per-Python-worker token->u32 cache for the Arrow signature kernel.
# Webtext TOKENS are Zipfian, so the hit rate is high; shingle keys
# (shingle_size > 1, low reuse) skip the cache — caching them would pin
# hundreds of MB per reused worker for near-zero hit rate (r5 ADVICE).
_TOKEN_HASH_CACHE: dict = {}
_TOKEN_HASH_CACHE_CAP = 4_000_000


def _make_sig_udf(k: int, use_cache: bool = True):
    """Vectorized Arrow kernel: array<string> tokens -> array<long>[k]
    MinHash signature: min over tokens of (a_i * md5_u32(tok) + b_i)
    mod P, the arithmetic the DuckDB oracles reproduce (numpy int64 is
    exact here because a <= 1e8 and h < 2^32 keep a*h+b below 2^63).
    NULL token arrays give a NULL signature, as in the oracles; EMPTY
    docs get the [P]*k sentinel. A column-expression fold over the
    token hashes computes the same values, but it is interpreted JVM
    code whose per-token array allocation makes signature compute
    GC-bound — measured NOT scaling with cores (2->8 cores gave only
    1.2x on the 250k-doc corpus, r5 scaling forensics in BENCH.md §3).
    Here the hot loop runs in numpy inside per-core Python workers: no
    shared-heap GC coupling, and (for unit tokens) a per-worker
    token-hash cache exploits the Zipfian token law."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    coeffs = minhash_coeffs(k)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    empty_sig = [P] * k

    # annotations attached as OBJECTS (not strings) below: pandas is
    # imported lazily here, so the usual `pd.Series` string annotations
    # from `from __future__ import annotations` would not resolve
    # against module globals during pandas_udf type inference
    def sig_udf(tok_series):
        cache = _TOKEN_HASH_CACHE if use_cache else None
        md5 = hashlib.md5
        out = []
        for toks in tok_series:
            if toks is None:
                # the DuckDB oracles propagate NULL text to a NULL sig
                out.append(None)
                continue
            if len(toks) == 0:
                out.append(empty_sig)
                continue
            hs = np.empty(len(toks), dtype=np.int64)
            i = 0
            if cache is None:
                for t in toks:
                    hs[i] = int(md5(t.encode("utf-8", "surrogatepass"))
                                .hexdigest()[:8], 16)
                    i += 1
            else:
                for t in toks:
                    v = cache.get(t)
                    if v is None:
                        v = int(md5(t.encode("utf-8", "surrogatepass"))
                                .hexdigest()[:8], 16)
                        if len(cache) < _TOKEN_HASH_CACHE_CAP:
                            cache[t] = v
                    hs[i] = v
                    i += 1
            out.append(((hs[:, None] * A + B) % P).min(axis=0))
        return pd.Series(out)

    sig_udf.__annotations__ = {"tok_series": pd.Series, "return": pd.Series}
    return pandas_udf(sig_udf, "array<long>")


def minhash_signatures(docs: DataFrame, k: int = 32, shingle_size: int = 1,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(eid, sig array<long>[k]) MinHash signature over token (or
    token-shingle) sets — one scan, no shuffle. The hash+fold runs in
    the vectorized numpy kernel of :func:`_make_sig_udf`, whose
    arithmetic the DuckDB oracles reproduce bit-for-bit (pinned against
    a column-expression reference by tests/test_new_operators.py)."""
    toks = T.tokens(F.col(text_col))
    if shingle_size > 1:
        toks = F.array_distinct(
            T.word_shingles(T.tokens(F.col(text_col), distinct=False), shingle_size)
        )
    sig_udf = _make_sig_udf(k, use_cache=(shingle_size == 1))
    return ensure_parallelism(docs).select(F.col(id_col).alias("eid"),
                                           sig_udf(toks).alias("sig"))


def lsh_bands(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(eid, band_idx, band_hash): band_hash = md5 of the '-'-joined
    signature slice — the LSH band-hash groupBy key."""
    assert bands * rows <= 256
    out = sigs.select(
        "eid",
        F.posexplode(
            F.array(*[
                F.md5(F.array_join(F.slice("sig", b * rows + 1, rows), "-"))
                for b in range(bands)
            ])
        ).alias("band_idx", "band_hash"),
    )
    return out


_MAX_BUCKET_DEFAULT = object()  # sentinel: distinguishes "caller left the
# default" from "caller explicitly asked for a bucket cap"


def lsh_candidate_pairs(docs: DataFrame, k: int = 32, bands: int = 8,
                        rows: int | None = None, shingle_size: int = 1,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_bucket=_MAX_BUCKET_DEFAULT,
                        salted_chunk: int | None = None) -> DataFrame:
    """MinHash-LSH candidate pairs (id1<id2, distinct): docs agreeing on
    at least one full band. ``max_bucket`` size-caps hot buckets
    (boilerplate shingle sets) before the within-bucket self-join —
    the size-capped mega-block guard of the north rule. When a hot
    bucket must be KEPT instead of dropped, pass ``salted_chunk``:
    pair enumeration routes through
    :func:`..block_building.block_pairs_salted`, which splits each
    bucket's quadratic work into bounded ~chunk² tasks (identical
    output, skew-proof plan). ``max_bucket`` (default 1000; the salted
    path defaults to uncapped) and ``salted_chunk`` are mutually
    exclusive — passing both explicitly raises, because the salted
    branch keeps every bucket and silently ignoring the cap would
    change the output contract."""
    if salted_chunk is not None and max_bucket is not _MAX_BUCKET_DEFAULT \
            and max_bucket is not None:
        raise ValueError(
            "max_bucket and salted_chunk are mutually exclusive: the salted "
            "path enumerates ALL buckets (split into bounded chunks); pass "
            "max_bucket=None with salted_chunk, or drop salted_chunk to cap")
    if max_bucket is _MAX_BUCKET_DEFAULT:
        max_bucket = None if salted_chunk is not None else 1000
    rows = rows or k // bands
    # Materialize the signature table ONCE: it feeds all `bands`
    # band-hash expressions AND both self-join sides, and without a
    # barrier each consumer re-runs the whole signature pass
    # (measured 249s -> 9s at sf0.1). At cluster scale
    # this materialization is the per-stage signature checkpoint the
    # pipeline writes to Iceberg anyway, and it is 8x smaller than
    # checkpointing the exploded band table.
    sigs = minhash_signatures(docs, k, shingle_size, id_col, text_col) \
        .localCheckpoint()
    b = lsh_bands(sigs, bands, rows)
    b = b.select(F.concat_ws("|", F.col("band_idx"), F.col("band_hash")).alias("key"),
                 "eid")
    if salted_chunk is not None:
        from .block_building import block_pairs_salted
        return block_pairs_salted(b, chunk=salted_chunk)
    if max_bucket is not None:
        b = keep_multi_entity_blocks(b, 2, max_bucket)
    a1 = b.select("key", F.col("eid").alias("id1"))
    a2 = b.select("key", F.col("eid").alias("id2"))
    return (
        a1.join(a2, "key").where(F.col("id1") < F.col("id2"))
        .select("id1", "id2").distinct()
    )


def _make_inter_udf():
    """Vectorized Arrow kernel for the verify stages: (id1, t1, id2, t2)
    with array<string> token columns -> |set(t1) ∩ set(t2)| as a
    nullable long, NULL when either array is NULL — exactly the value
    ``size(array_intersect(t1, t2))`` produces and the DuckDB oracles
    reproduce (array_intersect dedups its output, so plain set
    intersection matches even for non-distinct inputs; NULL propagates
    identically under ANSI size semantics).

    Exists for the same reason as :func:`_make_sig_udf`: the
    ``array_intersect`` expression allocates a fresh JVM hash set per
    row on the shared executor heap, which the r5 scaling forensics
    measured at only 2.2-2.4x throughput on 4x cores (BENCH.md §3 —
    the named residual engine bottleneck). CPython set intersection in
    per-core worker processes has no shared-heap GC coupling. A
    per-BATCH memo keyed by doc id amortizes set construction across
    the many pairs each doc appears in, with memory bounded by one
    Arrow batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def inter_udf(id1s, t1s, id2s, t2s):
        sets: dict = {}

        def to_set(key, toks):
            s = sets.get(key)
            if s is None:
                s = set(toks)
                sets[key] = s
            return s

        out = []
        for i1, t1, i2, t2 in zip(id1s, t1s, id2s, t2s):
            if t1 is None or t2 is None:
                out.append(None)
            else:
                a, b = to_set(i1, t1), to_set(i2, t2)
                # iterate the smaller side: set.__and__ already does,
                # but be explicit so the cost is min(|a|,|b|)
                out.append(len(a & b) if len(a) <= len(b) else len(b & a))
        return pd.Series(out, dtype="Int64")

    inter_udf.__annotations__ = {"id1s": pd.Series, "t1s": pd.Series,
                                 "id2s": pd.Series, "t2s": pd.Series,
                                 "return": pd.Series}
    # The kernel is deterministic; the marker stops Catalyst from
    # pushing a threshold filter on its output through the projection,
    # which copies the UDF into the filter and runs the Python
    # intersect twice for every surviving pair.
    return pandas_udf(inter_udf, "long").asNondeterministic()


def jaccard_verify(pairs: DataFrame, docs: DataFrame, threshold: float,
                   shingle_size: int = 1, id_col: str = "doc_id",
                   text_col: str = "text", round_to: int = 6) -> DataFrame:
    """Exact token(-shingle) Jaccard on candidate pairs; keep >= threshold.
    (True Jaccard inter/union — the verification step of a MinHash
    pipeline, not the reference's quirky matcher form.)

    The shingle table is built ONCE over only the docs that appear in a
    candidate pair (semi-join) and materialized before the two
    endpoint joins: without that, each join side re-tokenizes the FULL
    corpus (2x the scan + shingle work — the dominant verify cost at
    2M docs), and at crawl scale the materialization is bounded by the
    candidate set, not the corpus.

    The intersection size comes from the vectorized
    :func:`_make_inter_udf` kernel; the union/round/threshold
    arithmetic stays JVM-side, so results are bit-identical to the
    ``array_intersect`` form the DuckDB oracles reproduce (pinned by
    tests/test_new_operators.py::
    test_jaccard_verify_arrow_expr_identical)."""
    # Materialize the pair set ONCE: it feeds two plan branches (the
    # cand_ids semi-join driving tdf below, and the final endpoint
    # joins), and when the caller hands a lazy candidate plan (the
    # bench's LSH band self-join) each branch would re-run the whole
    # candidate enumeration. The pair table is (id1, id2) only — the
    # lightweight proxy a 100TB run materializes anyway between stages.
    pairs = pairs.localCheckpoint()
    toks = T.tokens(F.col("_txt"))
    if shingle_size > 1:
        toks = F.array_distinct(
            T.word_shingles(T.tokens(F.col("_txt"), distinct=False), shingle_size)
        )
    cand_ids = (pairs.select(F.col("id1").alias("_id"))
                .union(pairs.select(F.col("id2").alias("_id")))
                .distinct())
    tdf = (docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"))
           .join(cand_ids, "_id", "left_semi")
           .select("_id", toks.alias("_t"))
           .localCheckpoint())
    j = (
        pairs.join(tdf.select(F.col("_id").alias("id1"), F.col("_t").alias("_t1")), "id1")
        .join(tdf.select(F.col("_id").alias("id2"), F.col("_t").alias("_t2")), "id2")
        .withColumn("_inter", _make_inter_udf()("id1", "_t1", "id2", "_t2")
                    .cast("double"))
    )
    inter = F.col("_inter")
    union = (F.size("_t1") + F.size("_t2") - inter)
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        j.withColumn("jaccard", F.round(jac, round_to))
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_dedup_pairs(docs: DataFrame, threshold: float = 0.8, k: int = 32,
                        bands: int = 8, shingle_size: int = 1,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """LSH candidates -> exact-Jaccard verify: the standard near-dup
    pipeline (MinHash generate, verify, cluster upstream)."""
    cands = lsh_candidate_pairs(docs, k, bands, None, shingle_size, id_col, text_col)
    return jaccard_verify(cands, docs, threshold, shingle_size, id_col, text_col)


# ------------------------------------------------------------- SimHash

SIMHASH_BITS = 32


def _make_simhash_udf():
    """Vectorized Arrow kernel: array<string> tokens -> 32-bit SimHash
    as a nullable long; NULL for NULL or EMPTY token arrays (the
    caller drops those docs before the kernel, as the oracle's unnest
    drops them).

    Same u32 token hash as :func:`..functions.text.token_hash_u32`
    (md5 hex prefix) via the shared per-worker unit-token cache, and
    the integer arithmetic of the oracle's 32 conditional sums
    (bit_j set iff 2*ones_j - n > 0) — order-independent sums, so the
    signature is bit-identical (pinned by
    test_simhash_arrow_expr_identical). Exists for the same reason as
    :func:`_make_sig_udf`, and one more: it computes the signature in
    one scan with ZERO shuffle, where a JVM aggregate of those sums
    explodes every token hash and exchanges per-eid partials."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
    weights = np.int64(1) << bit_idx

    def simhash_udf(tok_series):
        cache = _TOKEN_HASH_CACHE  # unit tokens: same namespace/value
        # as the MinHash kernel's md5-u32, so the cache is shared
        md5 = hashlib.md5
        out = []
        for toks in tok_series:
            if toks is None or len(toks) == 0:
                out.append(None)
                continue
            hs = np.empty(len(toks), dtype=np.int64)
            i = 0
            for t in toks:
                v = cache.get(t)
                if v is None:
                    v = int(md5(t.encode("utf-8", "surrogatepass"))
                            .hexdigest()[:8], 16)
                    if len(cache) < _TOKEN_HASH_CACHE_CAP:
                        cache[t] = v
                hs[i] = v
                i += 1
            ones = ((hs[:, None] >> bit_idx) & 1).sum(axis=0)
            out.append(int(weights[2 * ones - len(toks) > 0].sum()))
        return pd.Series(out, dtype="Int64")

    simhash_udf.__annotations__ = {"tok_series": pd.Series, "return": pd.Series}
    return pandas_udf(simhash_udf, "long")


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(eid, simhash long): 32-bit SimHash over distinct tokens, one
    scan, no shuffle (see :func:`_make_simhash_udf`).

    bit_j(sig) = 1  iff  sum_tokens(2*bit_j(h(token)) - 1) > 0.

    Docs with NULL or empty token arrays get no row."""
    sig_udf = _make_simhash_udf()
    # drop NULL/empty-token docs BEFORE the kernel with a plain column
    # predicate (size(tokens) > 0 — NULL text gives a NULL predicate,
    # dropped): filtering on the kernel OUTPUT instead lets Catalyst
    # push that filter below ensure_parallelism's exchange and
    # evaluate the UDF twice (observed in the plan)
    toks = T.tokens(F.col(text_col))
    return (ensure_parallelism(docs)
            .where(F.size(toks) > 0)
            .select(F.col(id_col).alias("eid"),
                    sig_udf(toks).alias("simhash")))


def simhash_candidate_pairs(docs: DataFrame, max_hamming: int = 3,
                            chunks: int = 4, id_col: str = "doc_id",
                            text_col: str = "text",
                            max_bucket: int | None = 1000) -> DataFrame:
    """Hamming-ball candidates by pigeonhole banding: split the 32-bit
    signature into ``chunks`` 8-bit chunks; any pair within Hamming
    distance <= chunks-1 shares at least one exact chunk. Verified with
    bit_count(xor) <= max_hamming. Returns (id1, id2, hamming)."""
    # Materialize signatures ONCE: sigs feeds both sides of the
    # within-chunk self-join below, and without a barrier each side
    # re-runs the whole scan + signature pass (the dominant cost).
    # Same reasoning as the minhash sigs checkpoint.
    sigs = simhash_signatures(docs, id_col, text_col).localCheckpoint()
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    b = sigs.select(
        "eid", "simhash",
        F.posexplode(F.array(*[
            F.shiftright(F.col("simhash"), c * width).bitwiseAND(F.lit(mask))
            for c in range(chunks)
        ])).alias("chunk_idx", "chunk_val"),
    ).select(
        F.concat_ws("|", F.col("chunk_idx"), F.col("chunk_val")).alias("key"),
        "eid", "simhash",
    )
    if max_bucket is not None:
        b = keep_multi_entity_blocks(b, 2, max_bucket)
    a1 = b.select("key", F.col("eid").alias("id1"), F.col("simhash").alias("s1"))
    a2 = b.select("key", F.col("eid").alias("id2"), F.col("simhash").alias("s2"))
    pairs = (
        a1.join(a2, "key")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2",
                F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("hamming"))
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


# ------------------------------------------- long-span / substring dedup

def substring_fingerprint_pairs(docs: DataFrame, w: int = 20,
                                id_col: str = "doc_id", text_col: str = "text",
                                max_bucket: int | None = 1000) -> DataFrame:
    """Long-span duplicate candidates: docs sharing any w-token window
    fingerprint (rolling shingle hash). This is the scalable stand-in
    for suffix-array substring dedup (north rule): a shared w-token
    window == a shared substring of length >= w tokens.

    Returns (id1, id2, shared_windows).
    """
    sh = ensure_parallelism(docs).select(
        F.col(id_col).alias("eid"),
        F.explode(
            F.array_distinct(
                T.word_shingles(T.tokens(F.col(text_col), distinct=False), w)
            )
        ).alias("win"),
    ).select(F.md5("win").alias("key"), "eid").distinct() \
        .localCheckpoint()  # feeds both self-join sides (and the bucket
    # cap's count branch): un-materialized, each reference re-runs the
    # tokenize + w-shingle + md5 + distinct pass over the full corpus
    if max_bucket is not None:
        sh = keep_multi_entity_blocks(sh, 2, max_bucket)
    a1 = sh.select("key", F.col("eid").alias("id1"))
    a2 = sh.select("key", F.col("eid").alias("id2"))
    return (
        a1.join(a2, "key")
        .where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("shared_windows"))
    )


def duplicate_spans(docs: DataFrame, w: int = 10,
                    id_col: str = "doc_id", text_col: str = "text",
                    min_span_tokens: int | None = None) -> DataFrame:
    """Maximal duplicated spans between doc pairs — the long-span
    output suffix-array dedup exists for (north rule): every maximal
    run of consecutive shared w-token windows between two docs is
    merged into one span.

    Returns (id1, id2, start1, start2, span_tokens): 0-based token
    offsets in each doc and the merged span length in tokens
    (>= ``min_span_tokens``, default w).

    Plan: positional rolling fingerprints (posexplode, one scan) ->
    fingerprint equi-join (the only all-to-all step, keyed by window
    hash exactly like substring_fingerprint_pairs) -> gaps-and-islands
    merge per (id1, id2, diagonal) via a window function. The window
    partitions by doc PAIR + diagonal, so partition size is bounded by
    one pair's match count — no global or per-doc hot partition.
    """
    min_span = w if min_span_tokens is None else min_span_tokens
    toks = T.tokens(F.col(text_col), distinct=False)
    pw = ensure_parallelism(docs).select(
        F.col(id_col).alias("eid"),
        F.posexplode(T.word_shingles(toks, w)).alias("pos", "win"),
    ).select("eid", "pos", F.md5("win").alias("key")) \
        .localCheckpoint()  # feeds both fingerprint-join sides — see
    # substring_fingerprint_pairs
    a1 = pw.select("key", F.col("eid").alias("id1"), F.col("pos").alias("pos1"))
    a2 = pw.select("key", F.col("eid").alias("id2"), F.col("pos").alias("pos2"))
    m = (
        a1.join(a2, "key")
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "pos1", "pos2")
        .distinct()
        .withColumn("d", F.col("pos1") - F.col("pos2"))
    )
    from pyspark.sql import Window

    isl = Window.partitionBy("id1", "id2", "d").orderBy("pos1")
    return (
        m.withColumn("grp", F.col("pos1") - F.row_number().over(isl))
        .groupBy("id1", "id2", "d", "grp")
        .agg(F.min("pos1").alias("start1"), F.max("pos1").alias("_end1"))
        .select(
            "id1", "id2",
            F.col("start1").cast("long"),
            (F.col("start1") - F.col("d")).cast("long").alias("start2"),
            (F.col("_end1") - F.col("start1") + w).cast("long")
            .alias("span_tokens"),
        )
        .where(F.col("span_tokens") >= min_span)
    )


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """n-gram-shingle Jaccard near-dup via the token-join pattern (no
    LSH; exact — the at-scale baseline for LSH recall validation):
    explode shingles -> equi-join -> count common -> sizes -> filter."""
    sh = docs.select(
        F.col(id_col).alias("eid"),
        F.array_distinct(
            T.word_shingles(T.tokens(F.col(text_col), distinct=False), n)
        ).alias("sh"),
    ).localCheckpoint()  # feeds sizes + both exploded self-join sides:
    # four re-tokenize passes without a barrier
    sizes = sh.select("eid", F.size("sh").alias("n_sh"))
    ex = sh.select("eid", F.explode("sh").alias("g"))
    a1 = ex.select(F.col("eid").alias("id1"), "g")
    a2 = ex.select(F.col("eid").alias("id2"), "g")
    common = (
        a1.join(a2, "g").where(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2").agg(F.count("*").alias("common"))
    )
    out = (
        common.join(sizes.select(F.col("eid").alias("id1"),
                                 F.col("n_sh").alias("n1")), "id1")
        .join(sizes.select(F.col("eid").alias("id2"),
                           F.col("n_sh").alias("n2")), "id2")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return out


def cluster_survivors(members: DataFrame, ranks: DataFrame,
                      id_col: str = "eid", cluster_col: str = "cluster_id",
                      rank_col: str = "rank",
                      descending: bool = True) -> DataFrame:
    """Tiered survivor selection: re-pick each duplicate cluster's
    canonical member by an explicit per-doc ranking instead of the
    min-id default every dedup operator here uses.

    ``members``: (id_col, cluster_col) cluster assignments — exact
    fingerprint groups, MinHash-CC clusters, URL groups, anything.
    ``ranks``: (id_col, rank_col) numeric ranking — quality score,
    source-tier priority (curated > crawl), recency, length. The
    survivor is the best-ranked member (highest when ``descending``,
    lowest otherwise); ties and unranked members (rank NULL, or id
    missing from ``ranks`` — both sort last) break to the minimum id,
    so output is deterministic and degrades to the min-id policy when
    every rank ties. Returns (eid, cluster_id, survivor, is_survivor).

    This is the keep-the-best-copy policy large training-data pipelines
    apply across dumps/tiers (keep the curated or highest-quality copy
    of a duplicate group, not an arbitrary one); composes with
    ``exact_dedup``/``minhash_dedup_pipeline``/``corpus_clean_pipeline``
    output by feeding their cluster columns in as ``members``.

    Scale: groupBy(cluster).agg(min(struct(-rank_key, id))) is a
    map-side-combining aggregate (one row per cluster per map task —
    a 10^8-member boilerplate cluster never funnels through one window
    task), then one hash-join back on the cluster key; both shuffles
    are on the cluster key only. Ids may be any orderable type (string
    urls included): min-struct needs no negated-id tie-break, and the
    ids are never cast.
    """
    m = members.select(F.col(id_col).alias("eid"),
                       F.col(cluster_col).alias("cluster_id"))
    # one rank per id (a duplicated ranks row must not duplicate the
    # member row through the join): best rank per eid wins
    r = (ranks.select(F.col(id_col).alias("eid"),
                      F.col(rank_col).cast("double").alias("_rank"))
         .groupBy("eid")
         .agg((F.max("_rank") if descending else F.min("_rank"))
              .alias("_rank")))
    j = m.join(r, "eid", "left")
    key = F.col("_rank") if descending else -F.col("_rank")
    # negate so MIN-struct picks the best rank; unranked -(-inf) = +inf
    # sorts last; the struct's second field gives the min-id tie-break
    nk = -F.coalesce(key, F.lit(float("-inf")))
    best = j.groupBy("cluster_id").agg(
        F.min(F.struct(nk.alias("nk"),
                       F.col("eid").alias("best_eid"))).alias("_b"))
    return (
        m.join(best, "cluster_id")
        .select("eid", "cluster_id",
                F.col("_b.best_eid").alias("survivor"),
                (F.col("eid") == F.col("_b.best_eid")).cast("int")
                .alias("is_survivor"))
    )
