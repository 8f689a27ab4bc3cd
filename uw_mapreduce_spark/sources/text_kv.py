"""Tab-separated key/value text source & sink.

Reference parity:
- O1 scan: `KeyValueTextInputFormat` splits each line on the first tab
  (`/root/reference/src/SlidingAggregation.java:446` and the README
  example `README.txt:26-28`).
- O3 parse: `Integer.parseInt` of both fields
  (`SlidingAggregation.java:49,137-139`).
- O2 sink: default `TextOutputFormat`, `key \\t value` per line
  (`SlidingAggregation.java:451,469,486,510,528`; tab-joined toString at
  `PairInt.java:80-83`).

Spark-first notes: the reference is int32-only; we parse to int64
(SURVEY.md §2.3.5 — deliberate overflow fix).  `spark.read.csv` gives
splittable, predicate-pushdown-capable scans; at 100 TB you would land
this data as Parquet once and never re-read text, which is why the rest
of the engine is Parquet-first.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

KV_SCHEMA = StructType(
    [
        StructField("key", LongType(), nullable=False),
        StructField("value", LongType(), nullable=False),
    ]
)

#: Root of the reference checkout whose KV fixtures (``input/*.txt``,
#: ``expected{16,79,91}/part-r-*``) the golden faces and tests read —
#: ``$UWMS_REFERENCE_DIR``, else ``~/reference``.
REFERENCE_DIR = os.environ.get("UWMS_REFERENCE_DIR") or os.path.join(
    os.path.expanduser("~"), "reference"
)


def read_text_kv(spark: SparkSession, path: str) -> DataFrame:
    """Read reference-format tab-separated ``key\\tvalue`` text.

    Matches `KeyValueTextInputFormat` semantics: split on the FIRST tab
    only.  A value containing further tabs stays intact in the reference;
    we preserve that by limiting the split.
    """
    lines = spark.read.text(path)
    split = F.split(F.col("value"), "\t", 2)
    return lines.select(
        split.getItem(0).cast("long").alias("key"),
        split.getItem(1).cast("long").alias("value"),
    )


def write_text_kv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write ``col1\\tcol2\\t...`` text, one line per record (O2 parity)."""
    cols = [F.col(c).cast("string") for c in df.columns]
    out = df.select(F.concat_ws("\t", *cols).alias("value"))
    out.write.mode(mode).text(path)
