"""The benchmark workloads: what one execution runs, how its output is
checked, and how its quality is scored.

Every execution returns ``{output_name: pandas.DataFrame}``. Each
output is reduced to an order-insensitive, type-sensitive value hash
and compared with the expected hash computed once per (workload, seed)
from the registry's DuckDB oracle (``pyjedai_spark.queries.ORACLES``).

Layer spans are recorded from here, around calls into each layer's
public functions; nothing in ``pyjedai_spark`` is edited. In a traced
execution a wrapped layer function materializes its result inside its
span (``localCheckpoint`` + ``count``), so lazily planned work lands in
the layer that planned it; the cost of those extra barriers is part of
``trace.overhead_s``.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil

import pandas as pd

# ------------------------------------------------------------ output check


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical, type-sensitive cell rendering, sorted by every column.
    Same rules as ``scripts/check_oracles.py::_canon`` (kept here so the
    benchmark's check cannot move with the scripts): an int64 11695 and
    a float 11695.0 render differently."""
    cols = sorted(df.columns)
    df = df[cols]
    out = pd.DataFrame(index=df.index)
    for c in cols:
        s = df[c]
        if s.dtype.kind == "f":
            out[c] = s.map(lambda v: "NULL" if pd.isna(v) else repr(float(v)))
        elif s.dtype.kind in "iu":
            out[c] = s.map(lambda v: f"i:{int(v)}")
        elif s.dtype.kind == "b":
            out[c] = s.map(lambda v: f"b:{bool(v)}")
        else:
            def r(v):
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    return "NULL"
                if isinstance(v, bool):
                    return f"b:{v}"
                if isinstance(v, float):
                    return repr(v)
                if isinstance(v, int):
                    return f"i:{v}"
                return str(v)
            out[c] = s.map(r)
    return out.sort_values(cols).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    c = _canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for row in c.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


def _materialized(sql: str) -> str:
    """Mark every named CTE ``MATERIALIZED``. Semantics are unchanged;
    DuckDB otherwise re-evaluates a CTE per reference, and a CTE feeding
    the recursive connected-components closure once per iteration
    (the der oracle: 25 s -> 0.15 s on 700 docs)."""
    return re.sub(r"(\bWITH |\bWITH RECURSIVE |,\s*)(\w+) AS \(",
                  lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (",
                  sql)


def oracle(con, name: str) -> pd.DataFrame:
    from pyjedai_spark.queries import ORACLES

    return con.execute(_materialized(ORACLES[name])).df()


# ------------------------------------------------------------ pair sets


def _union_find_pairs(edges) -> set:
    """All pairs inside the connected components of ``edges``."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    return {(a, b) for m in comps.values() for a in m for b in m if a < b}


def cluster_pairs(df, id_col="doc_id", cl_col="cluster_id") -> set:
    return _union_find_pairs(zip(df[id_col].tolist(), df[cl_col].tolist()))


def status_pairs(df) -> set:
    """corpus_clean output -> pairs of docs resolved to one survivor."""
    d = df[df["status"].isin(["url_dup", "exact_dup", "near_dup"])]
    return _union_find_pairs(zip(d["doc_id"].tolist(),
                                 d["survivor"].astype("int64").tolist()))


def edge_pairs(df) -> set:
    return {(min(a, b), max(a, b))
            for a, b in zip(df["id1"].tolist(), df["id2"].tolist())}


def recall_precision(pred: set, truth: set) -> tuple[float, float]:
    hit = len(pred & truth)
    return hit / max(len(truth), 1), hit / max(len(pred), 1)


# ------------------------------------------------------------ trace hooks


@contextlib.contextmanager
def patched(obj, attr, value):
    old = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        setattr(obj, attr, old)


def _layer(tracer, name, fn):
    """Wrap a layer function: run it inside a span and materialize its
    lazy result there."""
    def wrapped(*a, **k):
        with tracer.span(name) as rec:
            out = fn(*a, **k).localCheckpoint()
            rec["rows_out"] = out.count()
        return out
    return wrapped


def _traced_ckpt(tracer, base, span_name):
    """A CheckpointManager whose stages run inside spans named by
    ``span_name(stage)``."""
    class Traced(base):
        def stage(self, spark, stage, build, input_fingerprint=""):
            with tracer.span(span_name(stage)) as rec:
                out = super().stage(spark, stage, build, input_fingerprint)
                rec["rows_out"] = out.count()
            return out
    return Traced


# ------------------------------------------------------------ workloads


class DerFlagship:
    """The registry's ``der_dedup_clusters``: the best Dirty-ER chain."""

    name = "der_flagship"
    # one untimed warm execution after the cold one, then at least two
    # measured: the first warm wall is the least settled (C2 is still
    # compiling the planner and the CC loop; walls fall ~25% over the
    # first four warm executions)
    warmup = 1
    min_measured = 2
    outputs = ["der_dedup_clusters"]
    spans = ["block_building", "block_cleaning", "comparison_cleaning",
             "matching", "clustering"]
    # der_dedup_pipeline's CheckpointManager stage names -> layer spans
    _stages = {"blocking": "block_building", "cnp": "comparison_cleaning"}

    def execute(self, spark, data_dir, tracer, work_dir):
        from pyjedai_spark import pipeline
        from pyjedai_spark.queries import QUERIES

        hook = contextlib.nullcontext()
        if tracer.enabled:
            hook = patched(pipeline, "CheckpointManager", _traced_ckpt(
                tracer, pipeline.CheckpointManager,
                lambda st: self._stages.get(st, st)))
        with hook:
            out = QUERIES["der_dedup_clusters"](spark, data_dir).toPandas()
        return {"der_dedup_clusters": out}

    def reference(self, con, docs):
        from parity.reference_replica import der_dedup

        assign = der_dedup(dict(zip(docs["doc_id"].tolist(),
                                    docs["text"].tolist())))
        return {"expected": {"der_dedup_clusters": oracle(
                    con, "der_dedup_clusters")},
                "ref_pairs": cluster_pairs(pd.DataFrame(
                    {"doc_id": list(assign), "cluster_id": list(assign.values())}))}

    def pairs(self, out):
        return cluster_pairs(out["der_dedup_clusters"])

    def gt_pairs(self, pairs):
        return pairs

    def ratios(self, by_name):
        return {
            "block_cleaning.kept_ratio":
                by_name["block_cleaning"]["rows_out"]
                / max(by_name["block_building"]["rows_out"], 1),
            "matching.match_ratio":
                by_name["matching"]["rows_out"]
                / max(by_name["comparison_cleaning"]["rows_out"], 1),
        }


class WebDedup:
    """The paper's second job, web-scale near-dup detection, on one
    Zipfian crawl corpus: the Common-Crawl cleaning path (html ->
    extracted text -> ``corpus_clean_pipeline`` with durable parquet
    checkpoints in a fresh directory), then the registry's pair-search
    queries (eps-join, top-k join, SimHash pairs, substring dedup)."""

    name = "web_dedup"
    # one untimed warm execution, then at least one measured: a warm
    # execution costs ~13 s, and the first one carries most of the JIT
    # variance (up to 1.3x the second)
    warmup = 1
    min_measured = 1
    _pair_queries = {"ejoin_cosine": "joins.ejoin", "topk_join": "joins.topk",
                     "simhash_pairs": "dedup.simhash",
                     "substring_dedup": "dedup.substring"}
    outputs = ["corpus_clean", *_pair_queries]
    spans = ["datamodel", "urls", "dedup.exact", "analysis", "dedup.lsh",
             "dedup.verify", "clustering", "checkpoint",
             *_pair_queries.values()]

    def execute(self, spark, data_dir, tracer, work_dir):
        from pyspark.sql import functions as F

        from pyjedai_spark import checkpoint, datamodel
        from pyjedai_spark.functions import analysis, urls
        from pyjedai_spark.operators import clustering, dedup
        from pyjedai_spark.pipeline import corpus_clean_pipeline
        from pyjedai_spark.queries import QUERIES

        ck_dir = os.path.join(work_dir, "ckpt")
        shutil.rmtree(ck_dir, ignore_errors=True)
        ck_cls = checkpoint.CheckpointManager
        hooks = contextlib.ExitStack()
        if tracer.enabled:
            ck_cls = _traced_ckpt(tracer, ck_cls, lambda st: "checkpoint")
            for mod, fn, span in [
                    (urls, "url_dedup", "urls"),
                    (dedup, "exact_dedup", "dedup.exact"),
                    (analysis, "gopher_quality", "analysis"),
                    (dedup, "lsh_candidate_pairs", "dedup.lsh"),
                    (dedup, "jaccard_verify", "dedup.verify"),
                    (clustering, "connected_components", "clustering")]:
                hooks.enter_context(patched(mod, fn, _layer(
                    tracer, span, getattr(mod, fn))))
        out = {}
        with hooks:
            raw = spark.read.parquet(f"{data_dir}/documents.parquet")
            with tracer.span("datamodel") as rec:
                # extracted once: every pipeline stage reads it
                docs = raw.select(
                    "doc_id",
                    datamodel.extract_text_udf("html").alias("text"),
                    # the registry corpus_clean's derived url
                    F.concat(
                        F.lit("HTTPS://"), F.upper("source"),
                        F.lit(".example.com:443/Crawl/"),
                        (F.col("doc_id") % 50).cast("string"), F.lit("/"),
                        F.when(F.col("doc_id") % 3 == 0,
                               F.lit("?utm_source=feed&b=2&a=1#frag"))
                        .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
                        .otherwise(F.lit(""))).alias("url"),
                ).localCheckpoint()
                if rec is not None:
                    rec["rows_out"] = docs.count()
            cleaned = corpus_clean_pipeline(
                docs, url_col="url", max_bucket=None,
                ckpt=ck_cls(ck_dir, fmt="parquet"))
            out["corpus_clean"] = cleaned.select(
                F.col("eid").alias("doc_id"), "status", "survivor").toPandas()
        for q, span in self._pair_queries.items():
            with tracer.span(span) as rec:
                out[q] = QUERIES[q](spark, data_dir).toPandas()
                if rec is not None:
                    rec["rows_out"] = len(out[q])
        return out

    def reference(self, con, docs):
        exp = {q: oracle(con, q) for q in self.outputs}
        return {"expected": exp, "ref_pairs": self._tagged(exp)}

    @staticmethod
    def _tagged(out):
        return ({("clean", *p) for p in status_pairs(out["corpus_clean"])}
                | {("ejoin", *p) for p in edge_pairs(out["ejoin_cosine"])})

    def pairs(self, out):
        return self._tagged(out)

    def gt_pairs(self, pairs):
        """The cleaning decisions are scored against the planted
        clusters."""
        return {p[1:] for p in pairs if p[0] == "clean"}

    def ratios(self, by_name):
        return {"dedup.verify.kept_ratio":
                by_name["dedup.verify"]["rows_out"]
                / max(by_name["dedup.lsh"]["rows_out"], 1)}


WORKLOADS = {w.name: w for w in (DerFlagship(), WebDedup())}
