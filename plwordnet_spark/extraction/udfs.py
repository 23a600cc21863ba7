"""Arrow-vectorized Spark UDFs wrapping the extraction oracle.

One pandas UDF per extraction product, all delegating to
extraction/oracle.py — the same code path as the pure-Python oracle, so
the per-row byte-identity invariant holds by construction (SURVEY.md §7
"Hard parts": same code path, vectorization at the Arrow batch boundary).

The reference parses comments one row at a time inside dataclass
constructors (comment.py:216-244 called from lu.py:42-44); here the
Python work is amortized over Arrow record batches
(spark.sql.execution.arrow.maxRecordsPerBatch) and runs executor-side in
parallel across partitions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from plwordnet_spark.extraction import oracle

__all__ = [
    "ANCHOR_SCHEMA",
    "PARSED_PAGE_SCHEMA",
    "TYPED_LINK_SCHEMA",
    "extract_anchors_udf",
    "extract_text_udf",
    "parse_page_udf",
    "parse_pages",
    "typed_links_udf",
]

ANCHOR_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("anchor", T.StringType(), False),
        ]
    )
)

TYPED_LINK_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("dst_url", T.StringType()),
            T.StructField("same_host", T.BooleanType()),
        ]
    )
)

# Nested result schema — the ParsedComment analog (comment.py:74-109) as a
# Spark StructType (SURVEY.md §1.1 "Nested parsed document").
PARSED_PAGE_SCHEMA = T.StructType(
    [
        T.StructField("links", T.ArrayType(T.StringType()), False),
        T.StructField("topic", T.StringType(), True),
        T.StructField("definition", T.StringType(), True),
        T.StructField(
            "usage_examples",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("text", T.StringType(), False),
                        T.StructField("example_type", T.StringType(), True),
                        T.StructField("source_pattern", T.StringType(), True),
                    ]
                )
            ),
            False,
        ),
        T.StructField(
            "sentiment_annotations",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("annotation_id", T.StringType(), False),
                        T.StructField("emotions", T.ArrayType(T.StringType()), False),
                        T.StructField("categories", T.ArrayType(T.StringType()), False),
                        T.StructField("strength", T.StringType(), False),
                        T.StructField("example", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField("external_url", T.StringType(), True),
        T.StructField("text", T.StringType(), False),
    ]
)


def _decode(value) -> str:
    if value is None:
        return ""
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).decode("utf-8", errors="replace")
    return str(value)


@F.pandas_udf(TYPED_LINK_SCHEMA)
def typed_links_udf(url: pd.Series, html: pd.Series) -> pd.Series:
    """(url, html binary) → array<struct<dst_url,same_host>>: the link
    targets with their host-equality flag (``oracle.typed_links``)."""
    return pd.Series(
        [
            [{"dst_url": d, "same_host": s} for d, s in oracle.typed_links(u, _decode(h))]
            for u, h in zip(url, html)
        ],
        index=url.index,
    )


@F.pandas_udf(ANCHOR_SCHEMA)
def extract_anchors_udf(html: pd.Series) -> pd.Series:
    """html binary → array<struct<url,anchor>> of (target, anchor text)."""
    return html.map(
        lambda h: [
            {"url": u, "anchor": a} for u, a in oracle.extract_anchors(_decode(h))
        ]
    )


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """html binary → canonical extracted text (the invariant field)."""
    return html.map(lambda h: oracle.extract_page(_decode(h)).text)


@F.pandas_udf(PARSED_PAGE_SCHEMA)
def parse_page_udf(html: pd.Series) -> pd.DataFrame:
    """html binary → full nested ParsedPage struct."""
    rows = []
    for value in html:
        page = oracle.extract_page(_decode(value))
        rows.append(
            {
                "links": page.links,
                "topic": page.topic,
                "definition": page.definition,
                "usage_examples": page.usage_examples,
                "sentiment_annotations": page.sentiment_annotations,
                "external_url": page.external_url,
                "text": page.text,
            }
        )
    return pd.DataFrame(rows, columns=list(PARSED_PAGE_SCHEMA.fieldNames()))


def parse_pages(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """pages(url, …, html) → url + parsed.* columns (one UDF invocation,
    struct expanded relationally so Catalyst can prune unused fields)."""
    return pages.withColumn("parsed", parse_page_udf(F.col(html_col))).select(
        "url", "parsed.*"
    )
