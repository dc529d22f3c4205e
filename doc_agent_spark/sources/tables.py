"""Table loaders.

``load(spark, sf_dir, name)`` reads one driver-testdata parquet table.
``read_input(spark, name)`` reads a job's input: a parquet path, or a
catalog table when the name holds no "/".
``spans_from_documents`` derives the interleaved-span input shape
(BASELINE.json input_hint) deterministically from the driver's flat
``documents`` table — pure expressions, DuckDB-mirrorable, so the derived
table itself sits under the oracle gate. Production ingest would be an
Iceberg scan of the real spans table; this adapter exists because the
sandbox testdata is flat text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_input(spark: SparkSession, name: str) -> DataFrame:
    return spark.read.parquet(name) if "/" in name else spark.read.table(name)


def spans_from_documents(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, source, ...) → (doc_id, spans) with three
    deterministic page-thirds; middle page is a media span.

    Split points are codepoint thirds of the text (substring arithmetic
    only). doc_id is formatted 'doc-%08d' to match the engine's id shape.
    """
    n = F.length("text")
    a = F.floor(n / 3).cast("int")
    b = (F.floor(n / 3) * 2).cast("int")
    did = F.format_string("doc-%08d", F.col("doc_id").cast("int"))
    return docs.select(
        did.alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.substring(F.col("text"), 1, a).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.substring(F.col("text"), a + 1, b - a).alias("text"),
                F.concat(F.lit("media://"), did, F.lit("/p2.png")).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.substring(F.col("text"), b + 1, n - b).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(2).alias("offset"),
            ),
        ).alias("spans"),
    )
