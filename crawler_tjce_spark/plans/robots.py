"""Robots rules as a broadcast dimension join.

The robots table is per-host (tiny even for the whole web: ~10^8 hosts
≪ frontier size) → broadcast equi-join on ``host``, then a prefix
predicate on the URL path. Blocked URLs are *seen* but never fetched
(crawl contract §5) — callers split on ``robots_ok``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_tjce_spark.colmemo import column_memo


def _path_expr(url_col: str):
    path = F.regexp_extract(F.col(url_col), r"^[a-z][a-z0-9+.-]*://[^/?#]*(/.*)?$", 1)
    return F.when(path == "", "/").otherwise(path)


def with_robots(df: DataFrame, robots: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach ``host_budget`` and ``robots_ok`` to URL rows.

    ``robots_ok`` = path does not start with the host's disallow prefix.
    Unknown hosts: allowed, default budget 4 (matches refsim).
    """
    r = F.broadcast(robots.select("host", "disallow_prefix", "host_budget"))
    path = _path_expr(url_col)
    return (
        df.join(r, "host", "left")
        .withColumn("host_budget", F.coalesce(F.col("host_budget"), F.lit(4)))
        .withColumn(
            "robots_ok",
            F.when(F.col("disallow_prefix").isNull(), F.lit(True)).otherwise(
                ~path.startswith(F.col("disallow_prefix"))
            ),
        )
        .drop("disallow_prefix")
    )


def _literal_maps(df: DataFrame, rules_key: tuple):
    """The (budget, prefix) ``create_map`` Column pair for ``rules_key``,
    memoized per application: building a 256-host map is ~1500
    sequential py4j calls (0.5-1.2 s of driver time measured), and the
    wave loop needs it twice per wave (pick and links)."""

    def build():
        budget_map = F.create_map(
            *[x for h, _, b in rules_key for x in (F.lit(h), F.lit(int(b)))]
        )
        prefix_map = F.create_map(
            *[x for h, p, _ in rules_key if p is not None for x in (F.lit(h), F.lit(p))]
        )
        return budget_map, prefix_map

    return column_memo(df.sparkSession, ("robots_literal", rules_key), build)


def with_robots_literal(
    df: DataFrame, rules: list[tuple], url_col: str = "url"
) -> DataFrame:
    """Same semantics as :func:`with_robots`, with the rules baked into
    the plan as ``create_map`` LITERALS instead of a broadcast join.

    Why: the broadcast join submits a broadcast-build job per QUERY —
    the crawl wave loop calls ``with_robots`` twice per wave (pick and
    links) on the SAME static dimension, so two driver-latency jobs per
    wave buy nothing (Spark cannot reuse a broadcast across queries).
    For small rule sets the two literal maps evaluate inside
    whole-stage codegen with zero jobs, zero shuffles, zero broadcasts.
    The broadcast join stays the path for big rule tables (a 10^6-entry
    literal would bloat the plan); the crawl runner switches on
    its ``ROBOTS_LITERAL_MAX_HOSTS``. Empty rules → all defaults (allowed,
    budget 4), mirroring the join's unknown-host behavior. The map
    Columns are memoized per (session, rules) — see ``_literal_maps``."""
    host = F.col("host")
    if rules:
        budget_map, prefix_map = _literal_maps(df, tuple(rules))
        budget = F.coalesce(budget_map[host], F.lit(4))
        prefix = (
            prefix_map[host]
            if any(p is not None for _, p, _ in rules)
            else F.lit(None).cast("string")
        )
    else:
        budget = F.lit(4)
        prefix = F.lit(None).cast("string")
    path = _path_expr(url_col)
    return df.withColumn("host_budget", budget).withColumn(
        "robots_ok",
        F.when(prefix.isNull(), F.lit(True)).otherwise(~path.startswith(prefix)),
    )
