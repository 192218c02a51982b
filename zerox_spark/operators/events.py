"""Window-function / analytic operators over the events table.

The reference has no window machinery (SURVEY.md §2.9 — only implicit page
ordering); these cover the relational checklist a production pipeline around
the extractor needs — sessionization of crawl/user activity, per-key top-k,
and rollup aggregates — all as pure Catalyst plans (window, row_number,
rollup) with DuckDB-oracle-expressible semantics.

Scale notes: every window partitions by user_id (hash shuffle once, both
window functions reuse the same partitioning); rollup is a single pass with
partial aggregation. Timestamps never appear in outputs (cross-engine
timezone semantics differ; outputs are ids/counts only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SESSION_GAP_SECONDS = 30 * 60


def sessionize(events: DataFrame) -> DataFrame:
    """(event_id, user_id, session_no): a new session starts when the gap
    to the user's previous event exceeds SESSION_GAP_SECONDS. lag +
    running sum — one shuffle on user_id."""
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(by_user)
    is_new = F.when(
        prev_ts.isNull()
        | (
            F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
            > SESSION_GAP_SECONDS
        ),
        1,
    ).otherwise(0)
    return (
        events.withColumn("_new", is_new)
        .withColumn("session_no", F.sum("_new").over(by_user).cast("int"))
        .select("event_id", "user_id", "session_no")
    )


def top_events_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user top-k events by value (row_number window; deterministic
    tie-break on event_id)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("user_id", "rank", "event_id")
    )


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    probe_ts: str,
    build_ts: str,
) -> DataFrame:
    """As-of join — Spark has no native one: each probe row gets the build
    row with the LARGEST build_ts ≤ probe_ts in its key (the ``a.ts >=
    b.ts`` ASOF convention; probe rows with no earlier build row drop —
    inner semantics).

    NOT the bucketize-and-range-filter shape: this is the single-shuffle
    formulation — union both sides tagged probe/build, ONE window per key
    ordered by (ts, side) with ``last(build_payload, ignorenulls)`` carrying
    the latest build row forward, then keep probe rows. Cost = one hash
    shuffle of probe+build on the key, no range explosion, no per-group
    Python. Build rows sort BEFORE probe rows at equal ts, so a snapshot
    at exactly probe_ts matches.

    Build columns come back under a ``matched`` struct. ``build`` must be
    unique per (key, build_ts) — equal-ts build duplicates would make the
    carried row frame-order-dependent."""
    reserved = {"_k", "_ts", "_side", "_r", "matched"}
    clash = reserved & (set(probe.columns) | set(build.columns))
    if clash:
        # no exemption for the key either: key='matched' would emit TWO
        # 'matched' columns (the aliased key + the carried struct)
        raise ValueError(
            f"asof_join reserved column names in input: {sorted(clash)}"
        )
    bcols = [c for c in build.columns if c != key]
    b = build.select(
        F.col(key).alias("_k"),
        F.col(build_ts).alias("_ts"),
        F.struct(*bcols).alias("_r"),
        F.lit(0).alias("_side"),
    )
    pcols = [c for c in probe.columns if c != key]
    p = probe.select(
        F.col(key).alias("_k"),
        F.col(probe_ts).alias("_ts"),
        F.lit(None).cast(b.schema["_r"].dataType).alias("_r"),
        F.lit(1).alias("_side"),
        *pcols,
    )
    u = p.unionByName(b.select("*"), allowMissingColumns=True)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("matched", F.last("_r", ignorenulls=True).over(w))
        .filter((F.col("_side") == 1) & F.col("matched").isNotNull())
        .select(F.col("_k").alias(key), *pcols, "matched")
    )


def event_type_rollup(events: DataFrame) -> DataFrame:
    """Rollup counts over (event_type, high_value) incl. subtotals and the
    grand total — the grouping-sets shape. high_value buckets on value≥50.
    ``gid`` is the standard grouping bitmask (event_type bit 1, high_value
    bit 0): without it a subtotal row's NULLs are indistinguishable from
    aggregates of genuinely-NULL data."""
    bucketed = events.withColumn(
        "high_value", (F.col("value") >= 50).cast("int")
    )
    return (
        bucketed.rollup("event_type", "high_value")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .select("event_type", "high_value", "gid", "n")
    )
