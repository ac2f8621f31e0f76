"""Sinks — JSONL scrape output.

Reference parity: the ``ant.JSON`` scraper (``/root/reference/json.go:28-83``)
serializes each scraped struct as one JSON line on a shared writer (mutex-
serialized). Spark-native: the extracted DataFrame IS the stream of scraped
structs; ``df.write.json`` emits one JSON object per row, partition-parallel
instead of mutex-serial. Ordering, if required for parity diffing, comes
from the carried ``seq`` column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """One JSON object per row (ant.JSON analogue).

    ``single_file=True`` coalesces to one partition — only for small parity
    outputs; real runs keep partition-parallel files.
    """
    w = df.coalesce(1) if single_file else df
    w.write.mode("overwrite").json(path)


def extracted_jsonl(extracted: DataFrame) -> DataFrame:
    """Render the engine's ``extracted`` table (url, seq, round, data map)
    as ordered JSON strings — byte-diffable against a reference JSONL run."""
    return extracted.orderBy("seq").select(
        F.to_json(F.struct("url", "data")).alias("line")
    )
