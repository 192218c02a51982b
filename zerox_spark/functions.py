"""SQL-function surface: the engine's operators as registered Spark SQL
functions, so the extraction capabilities compose inside ``spark.sql``.

    register_all(spark)
    spark.sql("SELECT url, zerox_extract(html) AS md FROM pages")

Vectorized Arrow UDFs (pyarrow arrays in and out, no pandas) — the blessed
slow-path shape; the scalar helpers (token counts, langid) exist as
pure-JVM column functions in operators/textstats.py and are re-exposed
here only for SQL ergonomics.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from zerox_spark.operators.textstats import _winnow_udf

_MARKDOWN_TYPE = T.StringType()
_PAGE_COUNT_TYPE = T.IntegerType()


@arrow_udf(_MARKDOWN_TYPE)
def zerox_extract(html: pa.Array) -> pa.Array:
    """binary html/pdf/sheet payload → full document markdown (pages joined
    per A1). ERROR documents yield '' (IGNORE containment)."""
    from zerox_spark.extract.core import extract_document
    from zerox_spark.extract.pages import join_document

    return pa.array(
        [
            join_document([p.markdown for p in extract_document(h, None)])
            for h in html.to_pylist()
        ],
        to_arrow_type(_MARKDOWN_TYPE),
    )


@arrow_udf(_PAGE_COUNT_TYPE)
def zerox_page_count(html: pa.Array) -> pa.Array:
    from zerox_spark.extract.core import extract_document

    return pa.array(
        [len(extract_document(h, None)) for h in html.to_pylist()],
        to_arrow_type(_PAGE_COUNT_TYPE),
    )


def register_all(spark: SparkSession) -> None:
    """Register every engine SQL function on the session. The fingerprint
    is the production winnowing kernel of ``textstats.fingerprints``."""
    spark.udf.register("zerox_extract", zerox_extract)
    spark.udf.register("zerox_page_count", zerox_page_count)
    spark.udf.register("zerox_fingerprint", _winnow_udf)
