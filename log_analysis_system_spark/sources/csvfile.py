"""CSV transcript ingest — the fourth front door beside parquet tables,
raw ``.log`` directories, and JSONL feeds (``jsonl.py``, whose contract
this mirrors).

Spreadsheet-born agent-transcript exports arrive as CSV more often than
anything else. This reader maps that feed onto the same transcripts
contract ``(conv_id, turn_idx, role, text, tool, ts)`` the whole
parse -> enrich -> route -> aggregate pipeline consumes, with the same
non-negotiables as the JSONL door:

- **Explicit schema, never inference.** ``inferSchema`` runs a full
  pre-scan — a second pass over the feed before any work starts.
- **PERMISSIVE corrupt-record routing, never fail/drop.** A row whose
  fields don't fit the declared types (a non-integer ``turn_idx``, an
  over-long record) parks in ``_corrupt_record``;
  :func:`read_transcripts_csv` splits the frame into (clean, rejects) so
  malformed input lands in the rejects-sink flow (SURVEY P7). A row
  missing ``conv_id`` is malformed by contract (nothing downstream can
  bucket, sessionize, or resume it) and rejects rather than defaults.

Null/empty/quoting contract (probed, round-trip-tested): the sink writes
``nullValue='\\N'`` and ``emptyValue='""'`` so SQL NULL and empty string
survive a round trip distinctly — on the read side ``\\N`` and UNQUOTED
empty fields are NULL while a quoted ``""`` is the empty string; text
containing quotes, commas, and embedded newlines rides RFC-4180 quoting
(``escape='"'`` on both sides, i.e. doubled quotes — the convention
Excel and virtually every exporter uses; Spark's default
backslash-escape would mis-parse them).

KNOWN IN-BAND COLLISION (inherent to every CSV null-token scheme, MySQL
dumps included, and pinned by a test): a field whose ENTIRE value is the
two literal characters ``\\N`` round-trips to NULL — the parser applies
``nullValue`` after unquoting, so not even forced quoting distinguishes
it (probed). Data that may legitimately contain bare ``\\N`` fields
belongs on the JSONL door, which has real nulls.

SCALE CAVEAT — the honest difference from JSONL: embedded newlines force
``multiLine=true`` on the reader, and multiLine CSV files are NOT
splittable (one Spark task per file). A 100 TB CSV feed should either
arrive as many moderate files (the normal shape of periodic exports —
parallelism across files is unaffected) or be re-landed as JSONL/parquet
at ingest. Pass ``multiline=False`` only for feeds guaranteed
newline-free per record; that restores intra-file splitting.

Timestamps ride as ISO-8601 strings and parse with ``try_to_timestamp``
(NULL, not exception, on malformed values — the zero-default coercion
policy, SURVEY P5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

CSV_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", StringType()),
        StructField("_corrupt_record", StringType()),
    ]
)

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]"
_NULL_TOKEN = "\\N"


def read_transcripts_csv(
    spark: SparkSession, path: str | list[str], multiline: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Read a CSV transcript feed (one glob/path or a list); returns
    ``(turns, rejects)`` exactly like ``read_transcripts_jsonl`` — turns
    carry the transcripts contract with ``ts`` parsed to timestamp_ntz,
    rejects carry ``(raw, reason)`` for malformed / conv_id-less rows."""
    raw = (
        spark.read.schema(CSV_SCHEMA)
        .option("header", True)
        # a header not matching CSV_SCHEMA fails the read (no lost row)
        .option("enforceSchema", False)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", multiline)
        .option("escape", '"')
        .option("nullValue", _NULL_TOKEN)
        .option("emptyValue", "")
        .csv(path)
    )
    malformed = F.col("_corrupt_record").isNotNull()
    no_conv = F.col("conv_id").isNull()
    turns = raw.where(~malformed & ~no_conv).select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.try_to_timestamp(F.col("ts"), F.lit(_TS_FMT))
        .cast("timestamp_ntz")
        .alias("ts"),
    )
    # structured reconstruction for the non-corrupt reject (JSON, like
    # the JSONL door): concat_ws would silently DROP null fields,
    # shifting every later column one slot left and applying no quoting,
    # leaving the audit row unparseable and un-reingestable
    rejects = raw.where(malformed | no_conv).select(
        F.coalesce(
            F.col("_corrupt_record"),
            F.to_json(F.struct(
                "conv_id", "turn_idx", "role", "text", "tool", "ts"
            )),
        ).alias("raw"),
        F.when(malformed, F.lit("malformed_csv"))
        .otherwise(F.lit("missing_conv_id"))
        .alias("reason"),
    )
    return turns, rejects


def write_transcripts_csv(df: DataFrame, path: str) -> None:
    """Round-trip sink: headered CSV, ts serialized ISO-8601, NULL vs
    empty string encoded distinctly (the layout
    :func:`read_transcripts_csv` parses back losslessly)."""
    (
        df.select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .option("nullValue", _NULL_TOKEN)
        .option("emptyValue", '""')
        .csv(path)
    )
