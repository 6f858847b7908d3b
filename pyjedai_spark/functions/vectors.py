"""Vector similarity search over embedding columns (array<float>).

The reference's vector path is FAISS IndexFlat top-k on the driver
(src/pyjedai/vector_based_blocking.py:427-492). Spark-first:

- banded sign-LSH top-k / dedup (THE default, the 100 TB path):
  ``n_bands`` independent 16-bit sign-LSH bucket ids per vector —
  2^16 buckets per band, so intra-bucket pair counts stay ~N^2/65536
  per band instead of the N^2/256 a single 8-bit family degrades to —
  candidates are pairs that collide in ANY band (multi-probe banding,
  same recall idea as MinHash-LSH banding), then exact cosine.
  Hyperplanes are deterministic sparse Rademacher projections
  (Achlioptas 2003, public): each bit is sign(sum of +/- a few
  coordinates). Every arithmetic step is a left-associated double
  sum, so an ANSI-SQL oracle reproduces the buckets BIT-EXACTLY.
- brute-force cosine top-k: probe x corpus broadcast join with the dot
  product as F.zip_with + F.aggregate (JVM higher-order functions, no
  UDF). Exactness baseline; requires a bounded probe set — refuses to
  run all-pairs unless explicitly asked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BANDS = 4
DEFAULT_BAND_BITS = 16
DEFAULT_PLANE_NNZ = 8


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a, b):
    return (_dot(a, b) / (_norm(a) * _norm(b))).cast("double")


def hyperplane_family(dim: int, n_bands: int = DEFAULT_BANDS,
                      band_bits: int = DEFAULT_BAND_BITS,
                      nnz: int = DEFAULT_PLANE_NNZ):
    """Deterministic sparse Rademacher hyperplanes, band-major: for
    hyperplane h, a set of <= nnz coordinates with +/-1 signs. The
    closed-form index/sign formulas make the family reproducible from
    ANY engine (the SQL oracle regenerates it from the same code)."""
    planes = []
    for h in range(n_bands * band_bits):
        coords = sorted({(h * 13 + i * 29) % dim for i in range(nnz)})
        signs = [1.0 if ((h * 31 + c * 37) % 2 == 0) else -1.0 for c in coords]
        planes.append((coords, signs))
    return planes


def band_bucket_exprs(vec_col, dim: int, n_bands: int = DEFAULT_BANDS,
                      band_bits: int = DEFAULT_BAND_BITS,
                      nnz: int = DEFAULT_PLANE_NNZ) -> list:
    """One long bucket Column per band. Each bit's projection is a
    left-associated sum of +/- coordinates (IEEE-deterministic, so the
    SQL twin in ``band_bucket_sql`` matches bit-for-bit).

    The hyperplane family is a CONSTANT ARRAY LITERAL folded with
    higher-order functions (aggregate/zip_with), NOT an unrolled
    expression tree: the naive per-term unrolling (bands x bits x nnz
    ~ 512 element_at terms in one projection) exceeds the JVM's 64 KB
    method limit — janino fails ("Code grows beyond 64 KB") and the
    whole banding stage silently drops to interpreted eval. Here the
    expression tree is ~30 nodes per band whatever the family size
    (constant-folded plane table, runtime loop over its data), the same
    design as the MinHash signature fold (operators/dedup.py:103-115).
    Arithmetic is unchanged: zip_with preserves coordinate order and
    aggregate is a left fold, so bucket ids — and the DuckDB oracles
    that regenerate them — stay bit-identical."""
    planes = hyperplane_family(dim, n_bands, band_bits, nnz)
    buckets = []
    for b in range(n_bands):
        plane_lit = F.array(*[
            F.struct(
                F.array(*[F.lit(c) for c in coords]).alias("cs"),
                F.array(*[F.lit(s) for s in signs]).alias("ss"),
                F.lit(1 << r).cast("long").alias("bv"),
            )
            for r, (coords, signs) in enumerate(
                planes[b * band_bits:(b + 1) * band_bits])
        ])

        def _dot_p(p):
            return F.aggregate(
                F.zip_with(p["cs"], p["ss"],
                           lambda c, s: F.element_at(vec_col, c + 1) * s),
                F.lit(0.0), lambda acc, v: acc + v)

        buckets.append(F.aggregate(
            plane_lit, F.lit(0).cast("long"),
            lambda acc, p: acc + F.when(_dot_p(p) > 0, p["bv"])
            .otherwise(F.lit(0).cast("long"))))
    return buckets


def band_bucket_sql(vec_sql: str, dim: int, n_bands: int = DEFAULT_BANDS,
                    band_bits: int = DEFAULT_BAND_BITS,
                    nnz: int = DEFAULT_PLANE_NNZ) -> list[str]:
    """ANSI-SQL twin of ``band_bucket_exprs`` (1-based array indexing,
    same left-associated sums) — used to generate DuckDB oracles."""
    planes = hyperplane_family(dim, n_bands, band_bits, nnz)
    out = []
    for b in range(n_bands):
        bits = []
        for r in range(band_bits):
            coords, signs = planes[b * band_bits + r]
            terms = " + ".join(
                f"{vec_sql}[{c + 1}] * ({s:.1f})" for c, s in zip(coords, signs))
            bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << r} ELSE 0 END)")
        out.append("(" + " + ".join(bits) + ")")
    return out


def _vec_dim(vectors: DataFrame, vec_col: str) -> int:
    row = vectors.select(F.size(vec_col)).first()
    if row is None or row[0] is None or row[0] <= 0:
        raise ValueError("cannot infer embedding dimension from empty input")
    return int(row[0])


def _banded(vectors: DataFrame, id_col: str, vec_col: str,
            n_bands: int, band_bits: int, nnz: int,
            dim: int | None) -> DataFrame:
    """(_id, band, bucket) — one row per (vector, band).

    The output is MATERIALIZED (localCheckpoint): each bucket id is a
    band_bits x nnz-term expression tree (~512 terms for the default
    4x16x8 family), and projection collapse would otherwise inline that
    tree into BOTH sides of the downstream band self-join — the
    resulting single projection blows the JVM's 64 KB method limit,
    whole-stage codegen fails ("Code grows beyond 64 KB"), and the
    stage silently degrades to interpreted eval (~20x at sf0.1; a
    scale-killer on a real corpus). Same pathology + same fix as the
    MinHash signature table (operators/dedup.py:150-159). On a cluster
    this materialization is the per-stage signature checkpoint the
    north rule persists to the lakehouse anyway."""
    v = vectors.select(F.col(id_col).alias("_id"),
                       F.col(vec_col).cast("array<double>").alias("_v"))
    d = dim or _vec_dim(v, "_v")
    bux = band_bucket_exprs(F.col("_v"), d, n_bands, band_bits, nnz)
    return v.select(
        "_id",
        F.posexplode(F.array(*bux)).alias("band", "bucket"),
    ).localCheckpoint()


def lsh_topk(vectors: DataFrame, k: int = 10,
             n_bands: int = DEFAULT_BANDS, band_bits: int = DEFAULT_BAND_BITS,
             nnz: int = DEFAULT_PLANE_NNZ, dim: int | None = None,
             id_col: str = "vec_id", vec_col: str = "embedding",
             round_to: int = 6) -> DataFrame:
    """Approximate top-k: candidates are pairs colliding in ANY of the
    ``n_bands`` 16-bit sign-LSH bands; exact cosine inside the candidate
    set. (query_id, neighbor_id, cosine, rank)."""
    vb = _banded(vectors, id_col, vec_col, n_bands, band_bits, nnz, dim)
    a = vb.select(F.col("_id").alias("query_id"), "band", "bucket")
    b = vb.select(F.col("_id").alias("neighbor_id"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    v = vectors.select(F.col(id_col).alias("_id"),
                       F.col(vec_col).cast("array<double>").alias("_v"))
    j = (
        cand.join(v.select(F.col("_id").alias("query_id"),
                           F.col("_v").alias("_q")), "query_id")
        .join(v.select(F.col("_id").alias("neighbor_id"),
                       F.col("_v").alias("_n")), "neighbor_id")
        .withColumn("cosine",
                    F.round(cosine_expr(F.col("_q"), F.col("_n")), round_to))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_cosine_dedup(vectors: DataFrame, threshold: float = 0.95,
                           n_bands: int = DEFAULT_BANDS,
                           band_bits: int = DEFAULT_BAND_BITS,
                           nnz: int = DEFAULT_PLANE_NNZ, dim: int | None = None,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           round_to: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH
    (id1<id2, cosine >= threshold). The embedding analogue of
    MinHash-LSH dedup."""
    vb = _banded(vectors, id_col, vec_col, n_bands, band_bits, nnz, dim)
    a = vb.select(F.col("_id").alias("id1"), "band", "bucket")
    b = vb.select(F.col("_id").alias("id2"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .where(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    v = vectors.select(F.col(id_col).alias("_id"),
                       F.col(vec_col).cast("array<double>").alias("_v"))
    return (
        cand.join(v.select(F.col("_id").alias("id1"),
                           F.col("_v").alias("_v1")), "id1")
        .join(v.select(F.col("_id").alias("id2"),
                       F.col("_v").alias("_v2")), "id2")
        .withColumn("cosine", F.round(cosine_expr(F.col("_v1"), F.col("_v2")),
                                      round_to))
        .where(F.col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    )


def brute_force_topk(vectors: DataFrame, k: int = 10,
                     probe_ids: list[int] | None = None,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_to: int = 6, allow_full_scan: bool = False) -> DataFrame:
    """Exact cosine top-k neighbors per probe — the EXACTNESS BASELINE,
    not the scale path (that is ``lsh_topk``). The probe side must be a
    bounded explicit set, broadcast against the corpus (executes as a
    broadcast nested-loop, never a shuffled cartesian); an unbounded
    all-pairs run is refused unless ``allow_full_scan=True`` (tests
    only). (query_id, neighbor_id, cosine, rank); ties by id asc."""
    if probe_ids is None and not allow_full_scan:
        raise ValueError(
            "brute_force_topk without probe_ids is O(N^2); pass a bounded "
            "probe set, or allow_full_scan=True for test-scale oracles, "
            "or use lsh_topk (the scale path)")
    v = vectors.select(F.col(id_col).alias("_id"),
                       F.col(vec_col).cast("array<double>").alias("_v"))
    probes = v.withColumnRenamed("_id", "query_id").withColumnRenamed("_v", "_q")
    if probe_ids is not None:
        probes = probes.where(F.col("query_id").isin(probe_ids))
        probes = F.broadcast(probes)
    j = probes.crossJoin(v).where(F.col("query_id") != F.col("_id"))
    j = j.withColumn("cosine", F.round(cosine_expr(F.col("_q"), F.col("_v")), round_to))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("_id").asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("_id").alias("neighbor_id"), "cosine", "rank")
    )


def ivf_topk(vectors: DataFrame, k: int = 10, n_cells: int = 16,
             nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding", round_to: int = 6) -> DataFrame:
    """IVF-flat ANN (the coarse-quantizer path of the brief): vectors
    are bucketed into ``n_cells`` Voronoi cells, a query probes its
    ``nprobe`` nearest cells and reranks exactly inside them.

    Deterministic + oracle-exact by construction: centroids are SAMPLED
    vectors (every ceil(N/n_cells)-th id — no Lloyd averaging, so no
    float-sum ordering ambiguity), and cell assignment compares ROUNDED
    cosine with centroid-id tie-break. Cost model is the standard IVF
    trade: assignment is N x n_cells (vs N^2 flat); candidate rerank is
    ~nprobe/n_cells of the corpus per query. At 10^9+ rows pick
    n_cells ~ sqrt(N) and broadcast the centroid table — exactly the
    plan below (centroids are always tiny).

    Returns (query_id, neighbor_id, cosine, rank).
    """
    v = vectors.select(F.col(id_col).alias("_id"),
                       F.col(vec_col).cast("array<double>").alias("_v"))
    n = v.count()
    step = max(1, -(-n // n_cells))  # ceil
    cents = (v.where(F.col("_id") % step == 0)
             .select(F.col("_id").alias("cid"), F.col("_v").alias("_c")))
    sim_c = F.round(cosine_expr(F.col("_v"), F.col("_c")), round_to)
    ranked = (
        v.join(F.broadcast(cents), how="cross")
        .withColumn("_s", sim_c)
        .withColumn("_r", F.row_number().over(
            Window.partitionBy("_id").orderBy(F.col("_s").desc(),
                                              F.col("cid").asc())))
    )
    assign = ranked.where(F.col("_r") == 1).select("_id", F.col("cid").alias("cell"))
    probes = ranked.where(F.col("_r") <= nprobe).select(
        F.col("_id").alias("query_id"), F.col("cid").alias("cell"))
    corpus = v.join(assign, "_id").select(
        F.col("_id").alias("neighbor_id"), F.col("_v").alias("_n"), "cell")
    qv = v.select(F.col("_id").alias("query_id"), F.col("_v").alias("_q"))
    cand = (probes.join(corpus, "cell")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id").distinct())
    j = (cand.join(qv, "query_id")
         .join(corpus.select("neighbor_id", "_n").distinct(), "neighbor_id")
         .withColumn("cosine", F.round(cosine_expr(F.col("_q"), F.col("_n")),
                                       round_to)))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (j.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank"))


def hashing_trick_embedding(docs: DataFrame, dim: int = 64, qgram: int = 3,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Deterministic text -> embedding encoder (the public hashing-trick
    / signed char-ngram projection, Weinberger et al. ICML'09): each
    lowercased char q-gram hashes to a coordinate (portable md5-prefix
    u32, % dim) with a +/-1 sign (next hash bit); the vector is the
    l2-normalized signed count histogram.

    Replaces the reference's external encoders (gensim/BERT,
    vector_based_blocking.py:61-504) with a dependency-free projection
    whose arithmetic an ANSI-SQL oracle reproduces EXACTLY (cell values
    are integer counts before the normalize, so summation order cannot
    perturb them). Feeds lsh_topk / embedding_cosine_dedup end-to-end
    from a text column. Returns (vec_id, embedding array<double>).
    """
    from . import text as T

    grams = docs.select(
        F.col(id_col).alias("vec_id"),
        F.explode(T.char_qgrams(F.col(text_col), qgram, distinct=False))
        .alias("g"),
    )
    h = F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
    cell = grams.select(
        "vec_id",
        (h % dim).cast("int").alias("idx"),
        F.when(F.floor(h / dim) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        .alias("s"),
    ).groupBy("vec_id", "idx").agg(F.sum("s").alias("val"))
    dense = cell.groupBy("vec_id").agg(
        F.map_from_entries(F.collect_list(F.struct("idx", "val"))).alias("m"))
    raw = dense.select(
        "vec_id",
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.coalesce(F.element_at(F.col("m"),
                                                      i.cast("int")),
                                         F.lit(0.0)))
        .alias("rawv"),
    )
    # docs with no q-grams (len < q) keep an all-zero vector
    all_ids = docs.select(F.col(id_col).alias("vec_id"))
    zero = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                       lambda i: F.lit(0.0))
    raw = all_ids.join(raw, "vec_id", "left").select(
        "vec_id", F.coalesce("rawv", zero).alias("rawv"))
    nrm = _norm(F.col("rawv"))
    return raw.select(
        "vec_id",
        F.when(nrm == 0, F.col("rawv")).otherwise(
            F.transform("rawv", lambda x: x / nrm)).alias("embedding"),
    )


def model_embedding(docs: DataFrame, encoder, id_col: str = "doc_id",
                    text_col: str = "text",
                    batch_size: int = 64) -> DataFrame:
    """Pretrained-model text -> embedding encode stage — the hook for
    the reference's external encoder zoo (gensim / BERT /
    sentence-transformers, ref vector_based_blocking.py:61-504), shaped
    for Spark: an Arrow-batched ``mapInPandas`` where the model loads
    ONCE PER PYTHON WORKER (lazy module-level cache) and encodes whole
    batches — never a per-row UDF, never a driver-side loop.

    ``encoder`` is either
    - a picklable callable ``list[str] -> sequence of float vectors``
      (the injection point: tests pass a deterministic fake; production
      passes a closure over a model name), or
    - a spec string ``"sentence-transformers:<model-name>"`` resolved
      lazily on each executor — import-guarded, so a container without
      the library fails with an actionable ImportError, and the rest of
      the engine (``hashing_trick_embedding``) keeps working without it.

    Returns (vec_id, embedding array<double>) — the exact input shape
    of ``lsh_topk`` / ``embedding_cosine_dedup`` / ``ivf_topk``.
    """
    import pandas as pd

    spec = encoder

    def _encode(batches):
        enc = _resolve_encoder(spec)
        for pdf in batches:
            ids, texts = pdf[id_col], pdf[text_col].fillna("").tolist()
            vecs = []
            for lo in range(0, len(texts), batch_size):
                vecs.extend(enc(texts[lo:lo + batch_size]))
            yield pd.DataFrame({
                "vec_id": ids,
                "embedding": [[float(x) for x in v] for v in vecs],
            })

    return docs.select(id_col, text_col).mapInPandas(
        _encode, "vec_id long, embedding array<double>")


def _resolve_encoder(spec):
    """Executor-side encoder resolution (import-guarded)."""
    if callable(spec):
        return spec
    kind, _, name = str(spec).partition(":")
    if kind == "sentence-transformers":
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as ex:  # pragma: no cover - lib not in sandbox
            raise ImportError(
                "encoder spec %r needs the sentence-transformers package "
                "on every executor (pip install sentence-transformers, or "
                "ship it via --py-files/conda env); alternatively pass a "
                "callable encoder or use hashing_trick_embedding" % (spec,)
            ) from ex
        model = SentenceTransformer(name)
        return lambda texts: model.encode(texts)
    raise ValueError(f"unknown encoder spec {spec!r} "
                     "(expected a callable or 'sentence-transformers:<name>')")
