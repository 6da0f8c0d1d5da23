"""Frontier scoring and the politeness pick (per-host priority queue).

The reference's frontier is its pagination-token chain and its
politeness is Flask-Limiter budgets (SURVEY.md §2.9). Here the frontier
is a DataFrame and politeness is a *grouped window cap*: per host and
wave, fetch at most ``host_budget`` URLs, highest score first.

Skew (north_rule): one hot host can own half of a 10^10 frontier. A
single ``Window.partitionBy(host)`` would then sort that host's whole
shard in one task. ``politeness_pick_ordem`` therefore runs TWO stages:

  stage 1  window over (host, salt) where salt = pmod(xxhash64(url), S)
           → keeps only the top ``budget`` per salt bucket (parallel,
           bounded task size ~ shard/S);
  stage 2  window over host on the ≤ S·budget survivors → exact top
           ``budget``.

Stage 1 is safe because any row in the true host-level top-k is also in
the top-k of its own salt bucket. Budgets arrive per-row via the robots
broadcast join, so different hosts can have different caps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawler_tjce_spark.refsim import SCORE_DEPTH, SCORE_RECENCY, SCORE_SALIENT

SALIENT_SQL_RE = r"\d{7}-\d{2}\.\d{4}\.\d{1}\.\d{2}\.\d{4}"

# Host count above which politeness_pick_ordem switches its cross-host
# offsets step from the single-task ordered window (fine while the
# one-row-per-host table is ~MBs) to the range-partitioned two-pass
# prefix sum. ~10^6 hosts ≈ tens of MB of (host, count) rows — the
# documented crossover in scalable_prefix_offsets.
RANGE_OFFSETS_MIN_HOSTS = 1_000_000


def salient_expr(url_col="url"):
    """CNJ process-number salience (ref crawler/edital_crawler.py:636-643)."""
    return F.col(url_col).rlike(SALIENT_SQL_RE)


def score_expr(salient_col="salient", depth_col="depth", wave_col="discovered_wave"):
    """score = 100·salient − 3·depth + 1·discovered_wave (crawl contract §2)."""
    return (
        SCORE_SALIENT * F.col(salient_col).cast("int")
        + SCORE_DEPTH * F.col(depth_col)
        + SCORE_RECENCY * F.col(wave_col)
    ).cast("int")


def politeness_pick_ordem(
    frontier: DataFrame,
    ordem_offset: int,
    budget_col: str = "host_budget",
    salt_buckets: int = 16,
    n_hosts: int | None = None,
) -> DataFrame:
    """Fused politeness pick + global ``ordem`` assignment — ONE job.

    The within-wave visit order is (host asc, score desc, url asc) and
    the politeness stage-2 window ranks by exactly (score desc, url asc)
    within host — so the stage-2 ``row_number`` IS the within-host visit
    rank. The cross-host offsets need per-host *picked counts*, which
    are known analytically without materializing the picked set: the
    two-stage salted window keeps exactly ``min(host_rows, budget)``
    rows per host (stage 1 keeps ≥ min(n, budget) survivors of the true
    top-k, stage 2 trims to the budget). So the offsets come from a
    count aggregate over the *frontier scan* — a tiny map-side-combined
    branch that Catalyst executes as a broadcast subquery of the same
    query — and the r2 version's two eager ``localCheckpoint``s (4+
    driver-latency-bound jobs per wave, measured ~3-4 s of the per-wave
    scheduling floor) disappear: the caller gets one lazy plan it can
    pipe straight into the visit-log write.

    (r5 A/B, measured and REJECTED: deriving the counts from the
    picked branch instead — ``max(_r2)`` per host equals
    ``min(host_rows, budget)`` — reads as if it saves this second scan,
    but column pruning gives the two consumers different exchange
    schemas, so neither ReuseExchange nor AQE's runtime stage cache
    fires (verified: 5 independent ShuffleQueryStages, pick jobs 7→8
    per wave), and the duplicated branch re-shuffles the ENTIRE
    frontier through the salted window — strictly worse at 10^10 rows
    than this form's column-pruned two-column second scan, whose
    aggregate is map-side-combined to one row per host before its
    exchange.)

    The offsets window (cumulative count ordered by host) runs on the
    per-host aggregate — one row per host. At 10^6+ hosts that single-
    task window is still only ~MBs; beyond that the range-partitioned
    two-pass prefix sum (``operators.windows.scalable_prefix_offsets``
    — parallel bucket prefix sums + a bounded bucket-base window)
    computes byte-identical offsets (equality pinned in
    tests/test_skew.py).

    Form selection, with no caller flag: pass the
    frontier's distinct-host count as ``n_hosts`` (the crawl runner
    tracks it from an ``Observation`` riding the frontier write — zero
    extra jobs) and the scalable form engages automatically at
    ``RANGE_OFFSETS_MIN_HOSTS``.
    """
    # the rank/filter/agg Columns reference columns by NAME only, so
    # they are memoized per (application, salt_buckets, budget_col) —
    # the wave loop rebuilds this plan every wave and the expression
    # construction alone is ~250 ms of sequential py4j calls (PLANS.md
    # r5 driver-floor findings)
    from crawler_tjce_spark.colmemo import column_memo

    def _build_cols():
        order = [F.desc("score"), F.col("url")]
        salt = F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        w1 = Window.partitionBy("host", "_salt").orderBy(*order)
        w2 = Window.partitionBy("host").orderBy(*order)
        w_off = Window.orderBy("host").rowsBetween(Window.unboundedPreceding, -1)
        return (
            salt,
            F.row_number().over(w1),
            F.col("_r1") <= F.col(budget_col),
            F.row_number().over(w2),
            F.col("_r2") <= F.col(budget_col),
            F.least(F.count(F.lit(1)), F.min(budget_col)).alias("_cnt"),
            F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)),
        )

    salt_c, r1_c, r1_keep, r2_c, r2_keep, cnt_agg, off_c = column_memo(
        frontier.sparkSession, ("pick_ordem", salt_buckets, budget_col), _build_cols
    )
    salted = frontier.withColumn("_salt", salt_c)
    stage1 = (
        salted.withColumn("_r1", r1_c).filter(r1_keep).drop("_r1", "_salt")
    )
    picked = stage1.withColumn("_r2", r2_c).filter(r2_keep)
    counts = frontier.groupBy("host").agg(cnt_agg)
    if n_hosts is not None and n_hosts >= RANGE_OFFSETS_MIN_HOSTS:
        from crawler_tjce_spark.operators.windows import scalable_prefix_offsets

        offsets = scalable_prefix_offsets(counts, "host")
    else:
        offsets = counts.withColumn("_off", off_c).drop("_cnt")
    return (
        picked.join(F.broadcast(offsets), "host")
        .withColumn("ordem", (F.col("_off") + F.col("_r2") + F.lit(ordem_offset)).cast("long"))
        .drop("_r2", "_off")
    )

