"""Workload ``ghtorrent_etl``: the reference's own job and the views kept
downstream of it.

1. A fresh ``run_from_config`` over several days of GHTorrent dumps into an
   empty output directory, then the first build of the views in
   :mod:`views` (together: the cold path of a new session).
2. One new dated file per entity lands; an incremental rerun follows.
3. A merge-on-read delete retracts a seeded sample of collaborations and
   every view is refreshed and read back.
4. The join view is consolidated and the view tables vacuumed; every view
   is audited against a full recompute.

Outputs are checked against the pure-Python model in
:mod:`ghtorrent_data` after every import, and the views' totals after
every refresh."""

from __future__ import annotations

import random
import shutil
import time
from pathlib import Path

import ghtorrent_data as G
import views as V
from common import Clock, Context, count_manifests, median, run_full, space_amp, tree_files

SIZE = G.Size(users=2500, orgs=250, repos=2500, members=1500, collabs=2500, days=4)
SMOKE_SIZE = G.Size(users=40, orgs=8, repos=40, members=30, collabs=40, days=3)
SAMPLE = 25  # keys per entity whose surviving values are checked
DELETE_SHARE = 0.05  # of collaborations retracted per delete round


def setup(ctx: Context, rounds: int):
    """Generate the dump set ``rounds`` times (fresh directories), keep the
    last one; returns (dataset, root, expected fresh, expected incr, the
    median round time)."""
    times = []
    for r in range(rounds):
        t = time.perf_counter()
        ds = G.Dataset(ctx.seed, SMOKE_SIZE if ctx.smoke else SIZE)
        root = ctx.tmp / f"gh{r}"
        ds.write(root / "in", range(ds.size.days))
        model = G.Model(ds)
        fresh, incr = model.expected(False), model.expected(True)
        times.append(time.perf_counter() - t)
        if r + 1 < rounds:
            shutil.rmtree(root)
    return ds, root, fresh, incr, median(times)


def _sample(exp: G.Expected, seed: int):
    rng = random.Random(seed)
    users = sorted(exp.users)
    repos = sorted(exp.repos)
    return (
        rng.sample(users, min(SAMPLE, len(users))),
        rng.sample(repos, min(SAMPLE, len(repos))),
    )


def _live_rows(table: Path, columns=None):
    """The current snapshot of an output table, read straight from its
    parquet files (import outputs carry no merge-on-read deletes)."""
    import pyarrow.parquet as pq

    from ght2dm_spark.snapshots import snapshot_files

    files = snapshot_files(str(table))
    if columns is None:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return [pq.read_table(f, columns=columns).to_pylist() for f in files]


def check_outputs(ctx: Context, out: Path, exp: G.Expected, what: str) -> None:
    """Row counts of every output and rejects table, plus the surviving
    values of a seeded sample of keys."""
    got = {t: _live_rows(out / t) for t in exp.counts}
    bad = {t: (got[t], n) for t, n in exp.counts.items() if got[t] != n}
    ctx.check(not bad, f"{what}: row counts (got, want) differ: {bad}")

    su, sr = _sample(exp, ctx.seed)
    for table, keys, cols, want in (
        ("gh_users", su, ["login", "followers_count", "location"], exp.users),
        ("gh_repositories", sr, ["full_name", "open_issues_count", "description"], exp.repos),
    ):
        rows = {
            r["github_id"]: tuple(r[c] for c in cols)
            for part in _live_rows(out / table, ["github_id", *cols])
            for r in part
            if r["github_id"] in set(keys)
        }
        ctx.check(
            rows == {k: want[k] for k in keys},
            f"{what}: surviving values in {table} differ from the newest dumps",
        )


def _decode_schema(registered):
    from pyspark.sql.types import StructType

    return StructType(
        [f for f in registered.fields if f.name not in ("file_date", "file_pos")]
    )


def layer_probe(ctx: Context, folders: dict[str, str], out: Path) -> dict:
    """Per-layer times for ``sources.bson`` and ``pipelines.ghtorrent``:
    each entity's dumps are decoded into a persisted, materialized frame,
    then each importer's outputs are forced on top of it, so decode time
    and pipeline time do not blur into each other."""
    from pyspark.sql import functions as F

    from ght2dm_spark import pipelines as P
    from ght2dm_spark import schemas as S
    from ght2dm_spark.snapshots import read_snapshot
    from ght2dm_spark.sources.bson import read_bson_dumps, split_rejects

    spark = ctx.spark
    schema = {
        "users": S.GH_USERS_RAW,
        "repos": S.GH_REPOS_RAW,
        "org_members": S.GH_ORG_MEMBERS_RAW,
        "repo_collaborators": S.GH_REPO_COLLABORATORS_RAW,
    }
    flatten = {"repos": {"owner_login": ("owner", "login")}}

    def snap(t):
        return read_snapshot(spark, str(out / t))

    m = {"decode_s": 0.0, "docs": 0, "rejects": 0, "rows_out": 0}
    for ent in G.ENTITIES:
        t = time.perf_counter()
        raw = read_bson_dumps(
            spark, folders[ent], _decode_schema(schema[ent]), flatten=flatten.get(ent)
        ).persist()
        row = raw.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("_corrupt").alias("bad"),
        ).collect()[0]
        m["decode_s"] += time.perf_counter() - t
        m["docs"] += row["n"]
        m["rejects"] += row["bad"]
        good, _rej = split_rejects(raw)
        t = time.perf_counter()
        if ent == "users":
            res = P.import_users(good)
            frames = [res.users, res.gh_users, res.gh_organizations]
        elif ent == "repos":
            res = P.import_repos(good)
            frames = [res.repositories, res.gh_repositories]
        elif ent == "org_members":
            res = P.import_org_members(good, snap("gh_users"), snap("gh_organizations"))
            frames = [res.gh_users_organizations]
        else:
            res = P.import_repo_collaborators(
                good, snap("gh_users"), snap("repositories"), snap("gh_repositories")
            )
            frames = [res.users_repositories]
        m["rows_out"] += sum(run_full(f) for f in frames)
        m[f"{ent}_s"] = time.perf_counter() - t
        raw.unpersist()
    return m


def observed_rows(spark, observations) -> int:
    """Rows seen by ``observations`` whose first action has completed."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return sum(
        o.get["n"] for o in observations
        if o._jo is not None and o._jo.future().isCompleted()
    )


def run(ctx: Context) -> tuple[dict, dict]:
    from ght2dm_spark import config as C
    from ght2dm_spark import incremental as IV
    from ght2dm_spark import pipelines as P
    from ght2dm_spark import snapshots as SN
    from ght2dm_spark.sources import bson as B

    spark, tr = ctx.spark, ctx.tracer
    rounds = 1 if ctx.smoke else 3
    t0 = time.perf_counter()
    ds, root, exp_fresh, exp_incr, round_s = setup(ctx, rounds)
    V.register(spark)
    setup_extra = time.perf_counter() - t0 - round_s * rounds
    folders = {e: str(root / "in" / e) for e in G.ENTITIES}
    out = root / "out"
    views = V.Views(out, root / "views")
    fresh_cfg = C.RunConfig(list(folders.values()), str(out))
    incr_cfg = C.RunConfig(list(folders.values()), str(out), incremental=True)
    new_day = ds.size.days

    # traced runs: spans around the program's layer entry points
    for mod, attr, name in (
        (SN, "prepare_commit", "snapshots.prepare"),
        (SN, "delete_rows", "snapshots.prepare"),
        (SN, "commit", "snapshots.commit"),
        (SN, "vacuum", "snapshots.vacuum"),
        (SN, "read_snapshot", "snapshots.read"),
        (SN, "read_prepared", "snapshots.read"),
        (B, "split_rejects", "bson.split"),
        (IV, "refresh_aggregate", "incremental.refresh_aggregate"),
        (IV, "refresh_join", "incremental.refresh_join"),
        (IV, "consolidate_join", "incremental.consolidate"),
        *((P, a, "pipelines.build") for a in (
            "import_users", "import_repos", "import_org_members",
            "import_repo_collaborators")),
    ):
        tr.wrap(mod, attr, name)
    decoded = []  # Observations on every decode the program starts

    def observe_decode(df):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        decoded.append(obs)
        return df.observe(obs, F.count(F.lit(1)).alias("n"))

    tr.wrap(B, "read_bson_dumps", "bson.read", post=observe_decode)

    def timed(name, fn):
        ctx.attempted += 1
        t = time.perf_counter()
        with tr.span(name, op=True):
            fn()
        ctx.rss.sample()
        return time.perf_counter() - t

    collabs_key = "users_repositories"
    before = tree_files(root) if tr.enabled else {}
    clock = Clock(ctx.seconds)
    try:
        # 1. cold path: fresh import, first build of the views
        ds.remove_day(root / "in", new_day)
        fresh_s = timed("config.run", lambda: C.run_from_config(spark, fresh_cfg))
        check_outputs(ctx, out, exp_fresh, "fresh import")
        got = []
        seed_s = timed("views.refresh", lambda: got.append(V.refresh(ctx, views)))
        V.check(ctx, got[-1], exp_fresh.counts[collabs_key],
                exp_fresh.counts["gh_users"], "first build")

        # 2. a new day lands
        ds.write(root / "in", range(new_day, new_day + 1))
        decoded.clear()
        incr_s = timed("config.run", lambda: C.run_from_config(spark, incr_cfg))
        check_outputs(ctx, out, exp_incr, "incremental import")
        pairs = sorted(
            (r["user_id"], r["repository_id"])
            for part in _live_rows(out / collabs_key, ["user_id", "repository_id"])
            for r in part
        )
        n_users = exp_incr.counts["gh_users"]

        # 3. retractions, then every view refreshed and read back; more
        # rounds while the window is open
        rng = random.Random(ctx.seed)
        rng.shuffle(pairs)
        per_round = max(1, int(len(pairs) * DELETE_SHARE))
        refresh_s = []
        while not refresh_s or (clock.left() and len(pairs) > per_round and not ctx.smoke):
            victims, pairs = pairs[:per_round], pairs[per_round:]

            def delete_and_refresh():
                SN.commit(SN.delete_rows(
                    spark.createDataFrame(victims, "user_id long, repository_id long"),
                    str(out / collabs_key)))
                got.append(V.refresh(ctx, views))

            refresh_s.append(timed("views.refresh", delete_and_refresh))
            V.check(ctx, got[-1], len(pairs), n_users, "refresh after delete")

        # 4. maintenance and audit
        ctx.attempted += 1
        with tr.span("views.maintain", op=True):
            IV.consolidate_join(spark, views.join)
            for p in views.dests():
                SN.vacuum(p, keep_manifests=2)
        window = clock.elapsed()
        t = time.perf_counter()
        V.audit(ctx, views)
        ctx.note(f"import {fresh_s:.2f}s, first view build {seed_s:.2f}s, incremental "
                 f"import {incr_s:.2f}s, refresh rounds {['%.2f' % x for x in refresh_s]}, "
                 f"window {window:.2f}s, audit {time.perf_counter() - t:.2f}s")
    finally:
        tr.unwrap()

    docs = ds.docs_until(new_day - 1) + ds.docs_until(new_day)
    e2e = {
        "setup_rounds_s": round_s,
        "setup_extra_s": setup_extra,
        "cold_s": fresh_s + seed_s,
        "op_samples": [incr_s, *refresh_s],
        "rate_per_s": docs / (fresh_s + incr_s),
    }
    layer: dict[str, float] = {}
    if tr.enabled:
        probe = layer_probe(ctx, folders, out)
        written = {p: b for p, b in tree_files(root).items() if p not in before}
        n_refresh = 1 + len(refresh_s)
        layer.update({
            "bson.decode_s": probe["decode_s"],
            "bson.docs_per_s": probe["docs"] / probe["decode_s"],
            "bson.reject_rows": probe["rejects"],
            "pipelines.users_s": probe["users_s"],
            "pipelines.repos_s": probe["repos_s"],
            "pipelines.org_members_s": probe["org_members_s"],
            "pipelines.repo_collaborators_s": probe["repo_collaborators_s"],
            "pipelines.rows_out_per_in": probe["rows_out"] / probe["docs"],
            "config.jobs_per_run": tr.jobs("config.run") / 2,
            "config.self_s": tr.self_time("config.run") / 2,
            "config.incr_new_per_decoded": (
                sum(exp_incr.counts[t] - exp_fresh.counts[t] for t in G.TABLES)
                / max(1, observed_rows(spark, decoded))
            ),
            "snapshots.prepare_s": tr.total("snapshots.prepare"),
            "snapshots.commit_s": tr.total("snapshots.commit"),
            "snapshots.vacuum_s": tr.total("snapshots.vacuum"),
            "snapshots.files_written": len(written),
            "snapshots.bytes_written_mb": sum(written.values()) / 2**20,
            "snapshots.manifests_live": count_manifests(root),
            "snapshots.space_amp": space_amp(
                spark,
                [str(out / t) for t in (*G.TABLES, *G.REJECTS.values())] + views.dests(),
                ctx.tmp / "plain",
            ),
            "incremental.refresh_aggregate_s": tr.total("incremental.refresh_aggregate") / n_refresh,
            "incremental.refresh_join_s": tr.total("incremental.refresh_join") / n_refresh,
            "incremental.read_view_s": tr.total("incremental.read_view") / n_refresh,
            "incremental.consolidate_s": tr.total("incremental.consolidate"),
            "streaming.batch_s": tr.total("streaming.batch") / n_refresh,
        })
    layer["window_s"] = window
    layer["ops"] = 4 + len(refresh_s)  # imports, view build, refreshes, maintenance
    return e2e, layer
