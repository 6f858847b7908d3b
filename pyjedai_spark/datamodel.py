"""Data model: entity-profile normalization and webtext html extraction.

Reference Data ctor (src/pyjedai/datamodel.py:77-186): every attribute
cell NaN->"" then str. Spark equivalent here: a coalesce+cast
projection.

Webtext input (BASELINE.json input_hint): Iceberg-style table
(url string, warc_ts timestamp, html binary, text string, lang string).
The per-row invariant — byte-identical extracted text per url vs the
pure-Python reference function — is enforced by implementing extraction
ONCE in plain Python (``extract_text_py``) and wrapping it in an
Arrow-batched pandas UDF; tests compare UDF output to a pandas .apply
of the same function byte-for-byte.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(rb"[ \t\r\n]+")


def extract_text_py(html: bytes) -> str:
    """Pure-Python reference text extraction (strip tags, collapse
    whitespace, utf-8 decode). The single source of truth for the
    byte-identical-per-url invariant."""
    if html is None:
        return ""
    no_tags = _TAG_RE.sub(b" ", html)
    collapsed = _WS_RE.sub(b" ", no_tags).strip()
    return collapsed.decode("utf-8", errors="replace")


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-vectorized wrapper of extract_text_py (no per-row Python at
    the Spark API surface; batches cross the JVM boundary via Arrow)."""
    return html.map(extract_text_py)


def normalize_profiles(df: DataFrame, id_col: str,
                       attributes: list[str] | None = None) -> DataFrame:
    """NaN->'' and str-coercion of every attribute column
    (datamodel.py:126-130) as a coalesce/cast projection."""
    attrs = attributes or [c for c in df.columns if c != id_col]
    return df.select(
        F.col(id_col),
        *[F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in attrs],
    )


def load_documents(spark, sf_dir: str) -> DataFrame:
    """The driver-generated documents table (doc_id, text, lang, source,
    n_chars) — our Dirty-ER entity table for oracle-checked queries."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def read_data_from_json(spark, json_path: str, base_dir: str = ""):
    """Dataset-config reader (reference utils.py:1270-1316
    read_data_from_json) re-expressed for Spark: the same JSON schema
    (dir/d1/d2/gt names, format, separator, id column names), but each
    file loads as a DataFrame via ``spark.read`` (csv with header or
    parquet), so the config drives a distributed load instead of a
    pandas one.

    Returns a dict: {"d1": DataFrame, "d2": DataFrame|None,
    "gt": DataFrame|None, "d1_id": str, "d2_id": str|None} — attribute
    columns are normalized (NaN->'' str-coercion) exactly like the
    reference Data ctor, via normalize_profiles.
    """
    import json as _json
    import os as _os

    with open(json_path) as f:
        config = _json.load(f)

    fmt = config.get("format", "csv")
    sep = config.get("separator", ",")
    dataset_dir = config.get("dir", "")

    def _load(name):
        path = _os.path.join(base_dir, dataset_dir, f"{name}.{fmt}")
        if fmt == "parquet":
            return spark.read.parquet(path)
        return (spark.read.option("header", True).option("sep", sep)
                .csv(path))

    d1 = _load(config["d1"])
    d1 = normalize_profiles(d1, config["d1_id"])
    out = {"d1": d1, "d1_id": config["d1_id"],
           "d2": None, "d2_id": config.get("d2_id"), "gt": None}
    if "d2" in config:
        d2 = _load(config["d2"])
        out["d2"] = normalize_profiles(d2, config["d2_id"])
    if "gt" in config:
        out["gt"] = _load(config["gt"])
    return out
