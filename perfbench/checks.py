"""Correctness checks. Each returns a list of error strings (empty = pass);
a failed check fails the run's operations."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRACE_COLS = ("epoch", "fetch_seq", "url_canon", "result", "scheduled_offset_ms", "attempt")


def check_trace(engine: list[dict], golden: list[dict]) -> list[str]:
    """The engine's fetch trace equals the reference executor's, row by
    row in (epoch, fetch_seq) order, on every trace column."""

    def rows(trace):
        return sorted(tuple(r[c] for c in TRACE_COLS) for r in trace)

    a, b = rows(engine), rows(golden)
    if len(a) != len(b):
        return [f"fetch trace has {len(a)} rows, reference has {len(b)}"]
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    return [f"fetch trace differs in {len(bad)} rows, first: engine={bad[0][0]} reference={bad[0][1]}"] if bad else []


def check_seen(engine: set[str], golden: set[str]) -> list[str]:
    if engine == golden:
        return []
    return [f"seen set differs: {len(engine - golden)} extra, {len(golden - engine)} missing"]


def fingerprint(df: DataFrame, col: str = "url_canon") -> tuple:
    """(rows, distinct rows, order-free hash sum) of one column."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(col).alias("d"),
        F.sum(F.xxhash64(F.col(col)) % F.lit(1 << 40)).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["d"]), int(r["h"] or 0)


def check_novel_set(got: DataFrame, expected: DataFrame) -> list[str]:
    """The engine's novel set equals the benchmark's exact anti-join, as
    sets and without duplicate rows."""
    g = got.select("url_canon")
    e = expected.select("url_canon")
    extra = g.exceptAll(e).count()
    missing = e.exceptAll(g).count()
    if extra or missing:
        return [f"novel set differs: {extra} extra rows, {missing} missing rows"]
    return []


def check_sequence(got: DataFrame, start: int) -> list[str]:
    """``seq`` of the reseeded rows is exactly start+1 .. start+n in
    url_canon order."""
    from pyspark.sql import Window

    w = Window.orderBy("url_canon")
    bad = (
        got.select("url_canon", "seq")
        .withColumn("__want", F.row_number().over(w) + F.lit(start))
        .filter(F.col("seq") != F.col("__want"))
        .count()
    )
    return [f"{bad} reseeded rows carry a wrong seq"] if bad else []
