"""Spark bindings for SVO triple extraction.

Pure logic in ``hades_spark.textcore.svo`` (stdlib-only); here: the Arrow
UDF/mapInArrow wrappers and the ``raw_triples`` stage. The mapInArrow path
is the production stage-1: it moves the page bytes JVM->python exactly once
with no pandas materialization, decodes/extracts/emits exploded triple rows
in a single pass, and ships back only the (tiny) triple columns.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from ..textcore.svo import (  # noqa: F401  (re-exported public API)
    DEFAULT_PREDICATES,
    extract_triples,
    extract_triples_spec,
)

RAW_TRIPLE = StructType([
    StructField("subj", StringType(), False),
    StructField("pred", StringType(), False),
    StructField("obj", StringType(), False),
    StructField("start_char", IntegerType(), True),
    StructField("confidence", DoubleType(), True),
])

RAW_TRIPLES_SCHEMA = ("url string, subj string, pred string, obj string, "
                      "start_char int, confidence double")


@F.pandas_udf(ArrayType(RAW_TRIPLE))
def extract_triples_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for s in batches:
        yield s.map(lambda t: extract_triples(t))


def _arrow_extract_batches(it):
    """mapInArrow generator: pyarrow in, pyarrow out, no pandas. Imports
    only stdlib + pyarrow inside the worker."""
    import pyarrow as pa

    from ..textcore.route import extract_text as _route_extract
    from ..textcore.svo import extract_triples as _ext

    for batch in it:
        d = batch.to_pydict()
        ou, osj, op, oo, osc, oc = [], [], [], [], [], []
        for u, h, t in zip(d["url"], d["html"], d["text"]):
            if t is None:
                t = _route_extract(u, h)
            for tr in _ext(t):
                ou.append(u)
                osj.append(tr["subj"])
                op.append(tr["pred"])
                oo.append(tr["obj"])
                osc.append(tr["start_char"])
                oc.append(tr["confidence"])
        yield pa.RecordBatch.from_arrays(
            [pa.array(ou, pa.string()), pa.array(osj, pa.string()),
             pa.array(op, pa.string()), pa.array(oo, pa.string()),
             pa.array(osc, pa.int32()), pa.array(oc, pa.float64())],
            names=["url", "subj", "pred", "obj", "start_char", "confidence"],
        )


def raw_triples(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages -> one row per extracted (surface) triple, with provenance url.

    Narrow transform: mapInArrow inside the scan stage, rows already
    exploded python-side — no array<struct> intermediate, no JVM explode,
    and the heavy html column never comes back across the Arrow boundary.
    """
    cols = pages.select(
        "url", "html",
        F.col(text_col).alias("text") if text_col != "text" else F.col("text"),
    )
    return cols.mapInArrow(_arrow_extract_batches, schema=RAW_TRIPLES_SCHEMA)
