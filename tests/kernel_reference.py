"""Column-expression reference forms of the library's Arrow kernels.

The library computes MinHash signatures, the verify intersect count and
SimHash signatures in vectorized pandas UDFs (``operators/dedup.py``).
The forms below are the pure-JVM column expressions those kernels
replaced, and the arithmetic the DuckDB oracles in ``queries.py``
reproduce. The bit-identity tests in ``test_new_operators.py`` compare
the library against them; nothing in the package imports this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyjedai_spark.functions import text as T
from pyjedai_spark.operators.dedup import P, SIMHASH_BITS, minhash_coeffs


def token_hashes(tokens_col) -> Column:
    """array<string> -> array<long> of 32-bit hashes."""
    return F.transform(T._col(tokens_col), T.token_hash_u32)


def minhash_signatures(docs: DataFrame, k: int = 32, shingle_size: int = 1,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(eid, sig) by one ``aggregate``/``zip_with`` fold over the
    token-hash array: each token updates the k running minima. The
    ``[P]*k`` zero value is the empty-doc sentinel; NULL text folds to
    a NULL signature."""
    toks = T.tokens(F.col(text_col))
    if shingle_size > 1:
        toks = F.array_distinct(
            T.word_shingles(T.tokens(F.col(text_col), distinct=False), shingle_size)
        )
    hashed = token_hashes(toks)
    coeffs = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in minhash_coeffs(k)
    ])
    zero = F.array(*[F.lit(P)] * k).cast("array<long>")
    sig = F.aggregate(
        hashed,
        zero,
        lambda acc, h: F.zip_with(
            acc, coeffs,
            lambda m, c: F.least(m, (h * c["a"] + c["b"]) % F.lit(P)),
        ),
    )
    return docs.select(F.col(id_col).alias("eid"), sig.alias("sig"))


def intersect_count(id1, t1, id2, t2) -> Column:
    """|set(t1) ∩ set(t2)|, NULL when either array is NULL. Takes the
    same four columns as the ``dedup._make_inter_udf()`` kernel, so a
    test can put it in the kernel's place."""
    return F.size(F.array_intersect(t1, t2))


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(eid, simhash): 32 conditional sums over the exploded token-hash
    list, one hash aggregate. Docs with NULL or empty token arrays
    produce no row (explode drops them)."""
    toks = docs.select(
        F.col(id_col).alias("eid"),
        F.explode(token_hashes(T.tokens(F.col(text_col)))).alias("h"))
    sums = toks.groupBy("eid").agg(*[
        F.sum(
            (F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ])
    sig = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long"))
        term = bit * F.lit(1 << j).cast("long")
        sig = term if sig is None else sig + term
    return sums.select("eid", sig.alias("simhash"))
