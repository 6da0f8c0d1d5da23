"""Fetch-attempt / backoff lineage columns.

The reference wraps every HTTP fetch in a tenacity retry policy —
3 attempts, exponential backoff 4–10 s (``crawler/crawler.py:252-254``)
— and SURVEY §4 promises the same bookkeeping in the lineage table.
Here the retry outcome is *deterministic* and computed as pure column
expressions (JVM-side, vectorized — no Python in the hot path):

* attempt ``i`` on ``url`` fails iff ``md5_probe(url || '#i') <
  fail_pct(host)`` where ``md5_probe(x)`` = the first 24 bits of
  ``md5(x)`` mod 100 — md5 because all three engines in play compute the
  identical value (Spark ``md5``, Python ``hashlib.md5`` for the
  sequential simulator, DuckDB ``md5`` for the driver's SQL oracle), so
  the per-URL attempt history is verifiable end-to-end;
* ``fail_pct(host)``: a deterministic share of hosts is flaky
  (``crc32(host) % 100 < flaky_share``), the rest never fail — the
  sandbox stand-in for real per-host reliability. A real deployment
  feeds observed failure rates in through the same column.
* backoff before retry ``r`` = ``clamp(mult · 2^r, min_s, max_s)`` —
  exactly tenacity's ``wait_exponential(multiplier=1, min=4, max=10)``
  (``crawler/crawler.py:252-254``): the wait after failed attempt ``r``
  is ``1·2^r`` clamped into [4, 10], so the schedule runs 4, 4, 8, 10,
  10, … (the first TWO waits are both 4 s — ``2^1=2`` and ``2^2=4``
  both clamp up to the min).

Columns added: ``fetch_attempts`` (1..max), ``fetch_status``
(``ok``/``error``), ``backoff_total_s``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_ATTEMPTS = 3
BACKOFF_MULT = 1
BACKOFF_MIN_S = 4
BACKOFF_MAX_S = 10


def backoff_schedule(max_attempts: int = MAX_ATTEMPTS) -> list[int]:
    """Seconds waited before retry r (1-indexed; r=1 is the wait after
    the first failure): tenacity ``wait_exponential(multiplier=1,
    min=4, max=10)`` → 4, 4, 8, 10, 10, …"""
    return [
        min(max(BACKOFF_MULT * 2**r, BACKOFF_MIN_S), BACKOFF_MAX_S)
        for r in range(1, max_attempts)
    ]


def md5_probe_expr(col: Column) -> Column:
    """First 24 bits of md5 as an int, mod 100 — cross-engine stable
    (Spark / DuckDB / Python compute the identical value)."""
    return F.pmod(F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("long"), F.lit(100))


def md5_probe(s: str) -> int:
    """Python twin of :func:`md5_probe_expr` (for refsim)."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:6], 16) % 100


def host_fail_pct_expr(host_col: Column | str, flaky_share: int = 10, fail_pct: int = 40) -> Column:
    """Deterministic per-host failure percentage: ``flaky_share``% of
    hosts fail ``fail_pct``% of attempts, the rest never fail."""
    h = F.col(host_col) if isinstance(host_col, str) else host_col
    return F.when(md5_probe_expr(h) < F.lit(flaky_share), F.lit(fail_pct)).otherwise(F.lit(0))


def _attempt_fails(url_col: Column, attempt: int, fail_pct: Column) -> Column:
    return md5_probe_expr(F.concat(url_col, F.lit(f"#{attempt}"))) < fail_pct


def _lineage_columns(
    url_col: str, fail_pct: Column | None, max_attempts: int
) -> tuple[Column, Column, Column]:
    u = F.col(url_col)
    pct = fail_pct if fail_pct is not None else F.lit(0)
    fails = [_attempt_fails(u, i, pct) for i in range(1, max_attempts + 1)]

    attempts: Column = F.lit(max_attempts)
    for i in range(max_attempts - 1, 0, -1):
        attempts = F.when(~fails[i - 1], F.lit(i)).otherwise(attempts)

    ok = fails[0]
    for fc in fails[1:]:
        ok = ok & fc
    status = F.when(ok, F.lit("error")).otherwise(F.lit("ok"))  # ok = NOT all-failed

    waits = backoff_schedule(max_attempts)
    cum = [0]
    for w in waits:
        cum.append(cum[-1] + w)
    backoff: Column = F.lit(cum[max_attempts - 1])  # exhausted all retries
    for i in range(max_attempts - 1, 0, -1):
        backoff = F.when(attempts == i, F.lit(cum[i - 1])).otherwise(backoff)
    # a row that errors out waited through every retry regardless of the
    # (meaningless) attempts value short-circuit above
    backoff = F.when(status == "error", F.lit(cum[max_attempts - 1])).otherwise(backoff)
    return attempts.cast("int"), status, backoff.cast("int")


def with_fetch_lineage(
    df: DataFrame,
    url_col: str = "url",
    fail_pct: Column | None = None,
    max_attempts: int = MAX_ATTEMPTS,
    *,
    flaky: tuple[int, int] | None = None,
) -> DataFrame:
    """Attach deterministic retry lineage columns to a fetch frame.

    Attempts fail at ``fail_pct`` (a Column; None → never), or, with
    ``flaky=(flaky_share, fail_pct)``, at
    ``host_fail_pct_expr("host", flaky_share, fail_pct)``.

    The expression triple is ~60 py4j round-trips to build (measured
    ~160 ms idle) and depends only on column names + literals, so the
    never-flaky and the ``flaky`` forms are memoized per application
    (``colmemo``), keyed by those integers; a caller-supplied
    ``fail_pct`` Column is not hashable and takes the unmemoized path."""
    if fail_pct is not None and flaky is not None:
        raise ValueError("pass fail_pct or flaky, not both")
    if fail_pct is None:
        from crawler_tjce_spark.colmemo import column_memo

        attempts, status, backoff = column_memo(
            df.sparkSession,
            ("fetch_lineage", url_col, max_attempts, flaky),
            lambda: _lineage_columns(
                url_col,
                host_fail_pct_expr("host", *flaky) if flaky is not None else None,
                max_attempts,
            ),
        )
    else:
        attempts, status, backoff = _lineage_columns(url_col, fail_pct, max_attempts)
    return (
        df.withColumn("fetch_attempts", attempts)
        .withColumn("fetch_status", status)
        .withColumn("backoff_total_s", backoff)
    )


def simulate_fetch(url: str, host_fail_pct: int, max_attempts: int = MAX_ATTEMPTS):
    """Sequential replica of the column expressions (for refsim parity):
    returns (attempts, status, backoff_total_s)."""

    def fail(i: int) -> bool:
        return md5_probe(f"{url}#{i}") < host_fail_pct

    waits = backoff_schedule(max_attempts)
    total = 0
    for i in range(1, max_attempts + 1):
        if not fail(i):
            return i, "ok", total
        if i < max_attempts:
            total += waits[i - 1]
    return max_attempts, "error", total


# --------------------------------------------------------------- durations
# The reference publishes request-duration histograms with buckets
# 0.1-10 s per entity (metrics.py:10-15, prometheus Histogram). The
# engine's analog derives a DETERMINISTIC per-request duration from the
# same md5-probe machinery as the retry model, so the sequential
# simulator (and any SQL oracle) reproduces every bucket count exactly:
# attempt i on a url takes 0.08 + 0.02·probe(url#di) seconds
# (0.08-2.06 s per attempt; a 3-attempt request spans up to ~6 s,
# exercising every reference bucket). A real deployment replaces the
# probe with measured wall times through the identical histogram plan.

DURATION_BUCKETS = (0.1, 0.5, 1.0, 2.0, 5.0, 10.0)  # ref metrics.py:10-15


def attempt_duration_expr(url_col: Column, attempt: int) -> Column:
    return F.lit(0.08) + md5_probe_expr(
        F.concat(url_col, F.lit(f"#d{attempt}"))
    ).cast("double") * F.lit(0.02)


def with_request_duration(
    df: DataFrame,
    url_col: str = "url",
    attempts_col: str = "fetch_attempts",
    max_attempts: int = MAX_ATTEMPTS,
) -> DataFrame:
    """Add ``request_duration_s``: the summed deterministic latency of
    every attempt the retry lineage says this url consumed. The sum
    Column is memoized per application (names + literals only)."""
    from crawler_tjce_spark.colmemo import column_memo

    def _build() -> Column:
        u = F.col(url_col)
        total: Column = F.lit(0.0)
        for i in range(1, max_attempts + 1):
            total = total + F.when(
                F.col(attempts_col) >= i, attempt_duration_expr(u, i)
            ).otherwise(F.lit(0.0))
        return total

    total = column_memo(
        df.sparkSession, ("request_duration", url_col, attempts_col, max_attempts), _build
    )
    return df.withColumn("request_duration_s", total)


def simulate_request_duration(url: str, attempts: int) -> float:
    """Python twin of :func:`with_request_duration` (same fold order,
    so the double arithmetic is bit-identical)."""
    total = 0.0
    for i in range(1, attempts + 1):
        total = total + (0.08 + md5_probe(f"{url}#d{i}") * 0.02)
    return total


def duration_histogram(
    df: DataFrame,
    host_col: str | list[str] = "host",
    duration_col: str = "request_duration_s",
    buckets: tuple[float, ...] = DURATION_BUCKETS,
) -> DataFrame:
    """Prometheus-layout cumulative histogram per host: one row per
    (host, le) with the CUMULATIVE ``bucket_count`` (le = +Inf row
    carries the total), plus ``duration_sum`` repeated per host (the
    _sum series). One explode + one map-side-combinable groupBy. The
    bucket-entry array Column is memoized per application.

    ``host_col`` may also be a list of series keys led by the host
    column (e.g. ``["host", "wave"]``): the later keys keep their names
    and split each host's series further."""
    from crawler_tjce_spark.colmemo import column_memo

    def _entries() -> Column:
        entries = [
            F.struct(
                F.lit(float(b)).alias("le"),
                F.when(F.col(duration_col) <= F.lit(float(b)), 1)
                .otherwise(0)
                .alias("hit"),
            )
            for b in buckets
        ]
        entries.append(
            F.struct(F.lit(float("inf")).alias("le"), F.lit(1).alias("hit"))
        )
        return F.array(*entries)

    arr = column_memo(
        df.sparkSession, ("duration_hist_entries", duration_col, buckets), _entries
    )
    host, *more = [host_col] if isinstance(host_col, str) else host_col
    ex = df.select(
        F.col(host).alias("host"),
        *more,
        F.col(duration_col).alias("_d"),
        F.explode(arr).alias("b"),
    )
    return ex.groupBy("host", *more, F.col("b.le").alias("le")).agg(
        F.sum("b.hit").alias("bucket_count"),
        F.sum("_d").alias("duration_sum"),
    )
