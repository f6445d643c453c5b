"""Hot-host skew handling: explicit split plan + salted repartitioning.

Reference analogue: frequency-ranked round-robin of the top-5000 hot words
plus greedy least-loaded tail placement across 10 barrels
(/root/reference/src/barrel.py:87-122) — deliberate placement balancing that
a hash partitioner alone doesn't give you. The frontier version:

1. ``hot_host_plan`` — one aggregation over pending counts yields
   ``n_salt(host) = ceil(count / threshold)`` for hosts above threshold.
   This plan is tiny (≤ #hosts rows) and broadcastable.
2. ``salted`` — composite shuffle key ``(host, salt)`` where
   ``salt = pmod(xxhash64(url), n_salt)``: a host with 10^8 pending URLs is
   spread over ``n_salt`` reducers instead of melting one executor.

Politeness windows stay on the raw host key (politeness.py) — salting is
only applied to the *heavy* shuffles (dedup, URL aggregation, frontier
merge), where per-host semantics don't apply. AQE skew-join splitting is ON
as a backstop (session.py); this plan handles the aggregation-side skew AQE
does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_host_plan(pending: DataFrame, threshold: int = 100_000) -> DataFrame:
    """Per-host split factor for HOT hosts only: (host string, n_salt int),
    n_salt ≥ 2. Hosts at or under the threshold are omitted — consumers
    left-join and ``coalesce(n_salt, 1)`` — so the plan stays genuinely
    tiny (hot hosts, not all hosts) and safe to broadcast."""
    return (
        pending.groupBy("host")
        .agg(F.count(F.lit(1)).alias("pending_cnt"))
        .filter(F.col("pending_cnt") > threshold)
        .withColumn(
            "n_salt", F.ceil(F.col("pending_cnt") / F.lit(threshold)).cast("int")
        )
        .select("host", "n_salt")
    )


def salted(df: DataFrame, plan: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach the salt column from the broadcast split plan.

    Downstream heavy ops repartition on (host, salt) — e.g.
    ``df.repartition(F.col("host"), F.col("salt"))`` — so hot hosts fan out.
    """
    return (
        df.join(F.broadcast(plan), "host", "left")
        .withColumn(
            "salt",
            F.pmod(
                F.xxhash64(F.col(url_col)), F.coalesce(F.col("n_salt"), F.lit(1))
            ).cast("int"),
        )
        .drop("n_salt")
    )
