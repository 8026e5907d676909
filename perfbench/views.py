"""Views the ``ghtorrent_etl`` workload maintains downstream of the
import, through the program's incremental-view and streaming layers:

- an aggregate over ``users_repositories`` (collaborators per repository),
  kept by ``refresh_aggregate``;
- the join ``users_repositories ⋈ gh_repositories`` on ``repository_id``,
  kept by ``refresh_join``;
- a continuous aggregate over ``gh_users`` (users and followers by
  ``hireable``), fed by AvailableNow micro-batches from the
  ``ght2dm_snapshot`` stream source into ``aggregate_sink``.

A refresh round brings every view up to date and reads it back."""

from __future__ import annotations

from pathlib import Path

from common import Context, run_full

AGG_KEYS, AGG = ["repository_id"], {"n": ("count", None), "s": ("sum", "user_id")}
JOIN_ON = ["repository_id"]
SINK_KEYS, SINK = ["hireable"], {"n": ("count", None), "f": ("sum", "followers_count")}


class Views:
    def __init__(self, out: Path, root: Path):
        self.collabs = str(out / "users_repositories")
        self.repos = str(out / "gh_repositories")
        self.users = str(out / "gh_users")
        self.agg, self.join, self.sink = str(root / "agg"), str(root / "join"), str(root / "sink")
        self.ckpt = str(root / "ckpt")

    def dests(self) -> list[str]:
        return [self.agg, self.join, self.sink]


def register(spark) -> None:
    from ght2dm_spark.sources.snapshot_stream import SnapshotStreamDataSource

    spark.dataSource.register(SnapshotStreamDataSource)


def stream_batch(spark, v: Views) -> None:
    """One AvailableNow trigger: every ``gh_users`` commit since the last."""
    from ght2dm_spark.incremental import aggregate_sink

    q = (
        spark.readStream.format("ght2dm_snapshot").load(v.users)
        .writeStream.foreachBatch(aggregate_sink(v.sink, SINK_KEYS, SINK))
        .option("checkpointLocation", v.ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream batch failed: {q.exception()}")


def refresh(ctx: Context, v: Views) -> tuple[int, int, int]:
    """Refresh every view and read each back; returns the row totals the
    views hold: (collaborations counted, join rows, users counted)."""
    from pyspark.sql import functions as F

    from ght2dm_spark import incremental as IV

    spark, tr = ctx.spark, ctx.tracer
    IV.refresh_aggregate(spark, v.collabs, v.agg, AGG_KEYS, AGG)
    IV.refresh_join(spark, v.collabs, v.repos, v.join, JOIN_ON)
    with tr.span("streaming.batch"):
        stream_batch(spark, v)
    with tr.span("incremental.read_view"):
        n_agg = IV.read_aggregate_view(spark, v.agg).agg(F.sum("n")).first()[0]
        n_join = run_full(IV.read_join_view(spark, v.join))
        n_sink = sum(r["n"] for r in IV.read_aggregate_view(spark, v.sink).collect())
    return n_agg, n_join, n_sink


def check(ctx: Context, got: tuple[int, int, int], collabs: int, users: int, what: str) -> None:
    ctx.check(got == (collabs, collabs, users),
              f"{what}: views hold {got}, want ({collabs}, {collabs}, {users})")


def audit(ctx: Context, v: Views) -> None:
    """Every view against a full recompute over its sources."""
    from pyspark.sql import functions as F

    from ght2dm_spark import incremental as IV
    from ght2dm_spark.snapshots import read_snapshot

    spark = ctx.spark
    ctx.check(IV.verify_aggregate(spark, v.collabs, v.agg, AGG_KEYS, AGG),
              "verify_aggregate is False")
    ctx.check(IV.verify_join(spark, v.collabs, v.repos, v.join, JOIN_ON),
              "verify_join is False")
    want = {
        r[0]: (r[1], r[2]) for r in read_snapshot(spark, v.users)
        .groupBy("hireable").agg(F.count(F.lit(1)), F.sum("followers_count")).collect()
    }
    got = {r["hireable"]: (r["n"], r["f"])
           for r in IV.read_aggregate_view(spark, v.sink).collect()}
    ctx.check(got == want, f"stream sink {got} differs from recompute {want}")
