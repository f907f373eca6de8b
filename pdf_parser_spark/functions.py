"""SQL-callable surface: register the extraction kernels as named UDFs so
the engine is usable from pure `spark.sql` (the Spark analog of the
reference's importable API).

    from pdf_parser_spark.functions import register_all
    register_all(spark)
    spark.sql("SELECT url, pp_extract_text(url, html) AS text FROM pages")

All functions are Arrow-batched pandas UDFs over the same kernels the
pipeline uses. `pp_extract_text(url, html)` calls the pipeline's own
`route_document`, so SQL validates and routes exactly like the kernel
(the url picks the .pdf route and names the file in validation errors)
and its text is byte-identical; it returns NULL where the pipeline would
emit an error row.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .kernels.fields import canonical_json, extract_fields
from .pipeline import route_document

__all__ = ["register_all"]


def register_all(spark: SparkSession, prefix: str = "pp_") -> None:
    """Register every kernel as `<prefix><name>` (idempotent)."""

    @F.pandas_udf("string")
    def _text_udf(urls, payloads):
        return pd.Series([
            route_document(u, p, None)[0] for u, p in zip(urls, payloads)
        ])

    @F.pandas_udf("string")
    def _fields_udf(texts):
        out = []
        for t in texts:
            if t is None or not str(t).strip():
                out.append(None)
                continue
            try:
                out.append(canonical_json(extract_fields(str(t))))
            except Exception:
                out.append(None)
        return pd.Series(out)

    @F.pandas_udf("string")
    def _hash6_udf(payloads):
        return pd.Series([
            None if p is None else hashlib.sha256(bytes(p)).hexdigest()[:6]
            for p in payloads
        ])

    @F.pandas_udf("string")
    def _pretty_udf(compacts):
        return pd.Series([
            None if c is None
            else json.dumps(json.loads(c), ensure_ascii=False, indent=2)
            for c in compacts
        ])

    spark.udf.register(f"{prefix}extract_text", _text_udf)
    spark.udf.register(f"{prefix}extract_fields", _fields_udf)
    spark.udf.register(f"{prefix}file_hash", _hash6_udf)
    spark.udf.register(f"{prefix}pretty_json", _pretty_udf)

    # §2.10 UDTF: one row per matched field, usable in FROM ... LATERAL —
    # the table-function form of the extraction kernel (Spark 4 Python UDTF)
    from pyspark.sql.functions import udtf

    class _FieldRows:
        def eval(self, text):
            try:
                fields = extract_fields("" if text is None else str(text))
            except Exception:
                return  # empty/whitespace text: no rows, never an error
            for k, v in fields.items():
                yield (k, v)

    spark.udtf.register(
        f"{prefix}extract_fields_t",
        udtf(_FieldRows, returnType="field string, value string",
             useArrow=True),  # Arrow-serialized batches, not pickled rows
    )
