"""Bucketed tables — co-located joins without a shuffle (SURVEY.md §4,
'Minimize shuffles' / 'reuse a partitioning across stages').

At 100 TB the dominant cost of fact⋈fact joins is shuffling both sides on
the key. Bucketing pre-partitions the stored table by the join key:
``bucketBy(n, key).sortBy(key)`` at write time, then every later equi-join
or aggregation on that key reads co-located buckets and skips the Exchange
entirely (verified by tests/test_bucketing.py on the physical plan).

This is Spark's answer to the reference's aligned-chunk storage: choose
the partitioning once, amortize it across every downstream analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist df as a bucketed+sorted managed table (overwrites)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.saveAsTable(table)
