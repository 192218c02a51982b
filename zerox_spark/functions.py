"""SQL-function surface: the engine's operators as registered Spark SQL
functions, so the extraction capabilities compose inside ``spark.sql``.

    register_all(spark)
    spark.sql("SELECT url, zerox_extract(html) AS md FROM pages")

Vectorized pandas UDFs (Arrow-batched) — the blessed slow-path shape; the
scalar helpers (token counts, langid) exist as pure-JVM column functions in
operators/textstats.py and are re-exposed here only for SQL ergonomics.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from zerox_spark.operators.textstats import _winnow_udf


@pandas_udf(T.StringType())
def zerox_extract(html: pd.Series) -> pd.Series:
    """binary html/pdf/sheet payload → full document markdown (pages joined
    per A1). ERROR documents yield '' (IGNORE containment)."""
    from zerox_spark.extract.core import extract_document
    from zerox_spark.extract.pages import join_document

    def one(payload) -> str:
        pages = extract_document(bytes(payload) if payload is not None else None, None)
        return join_document([p.markdown for p in pages])

    return html.map(one)


@pandas_udf(T.IntegerType())
def zerox_page_count(html: pd.Series) -> pd.Series:
    from zerox_spark.extract.core import extract_document

    return html.map(
        lambda p: len(extract_document(bytes(p) if p is not None else None, None))
    ).astype("int32")


def register_all(spark: SparkSession) -> None:
    """Register every engine SQL function on the session. The fingerprint
    is the production winnowing kernel of ``textstats.fingerprints``."""
    spark.udf.register("zerox_extract", zerox_extract)
    spark.udf.register("zerox_page_count", zerox_page_count)
    spark.udf.register("zerox_fingerprint", _winnow_udf)
