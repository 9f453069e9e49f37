"""Input sources (SURVEY.md §2.1 S1–S4, S9–S12).

The reference's external authority sources (live Wikidata/VIAF/Getty HTTP)
are replaced by broadcast reference dictionaries — per-row HTTP has no place
in a 10^12-row job; the dictionary read is just another table scan here.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# S1 flexible CSV scan: the reference tries 4 encodings × 4 delimiters until
# a frame with >1 column parses (metadata_parser.py:53-84).
ENCODINGS = ["utf-8", "latin-1", "cp1252", "iso-8859-1"]
DELIMITERS = [",", ";", "\t", "|"]


def read_csv_flexible(spark: SparkSession, path: str) -> DataFrame:
    """S1: first (encoding, delimiter) combination that parses >1 column wins
    — same first-match-wins order as the reference."""
    last_err: Exception | None = None
    for enc, sep in itertools.product(ENCODINGS, DELIMITERS):
        try:
            df = (
                spark.read.option("header", True)
                .option("encoding", enc)
                .option("sep", sep)
                .option("mode", "PERMISSIVE")
                .csv(path)
            )
            if len(df.columns) > 1:
                return df
        except Exception as e:  # noqa: BLE001 — mirror reference's try-all
            last_err = e
    if last_err:
        raise last_err
    raise ValueError(f"could not parse {path} with any encoding/delimiter")


def read_csv_strict(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S4: schema-enforced read, FAILFAST — the upload-validation analogue."""
    return spark.read.schema(schema).option("header", True).option("mode", "FAILFAST").csv(path)


def preview_columns(spark: SparkSession, path: str, n: int = 5) -> tuple[list[str], list[dict]]:
    """S3: column list + first-n sample (api.py:75-108)."""
    df = read_csv_flexible(spark, path)
    return df.columns, [r.asDict() for r in df.limit(n).collect()]


def read_transcripts(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Production input: Iceberg table of transcripts; parquet in tests.

    Iceberg is the declared production format (driver input_hint); the
    runtime jar is not in this sandbox, so table identifiers fall back to
    parquet paths behind the same call.
    """
    if "/" not in path_or_table:
        try:
            return spark.read.format("iceberg").load(path_or_table)
        except Exception:  # noqa: BLE001 — no Iceberg runtime in sandbox
            pass
        return spark.table(path_or_table)
    return spark.read.parquet(path_or_table)
