"""Snapshot reconciliation (CDC diff): classify every key across two
table versions as added / removed / changed / unchanged — the
change-data-capture shape behind incremental pipeline runs and data-
quality audits (the reference's skip-if-exists probes, F3, are the
degenerate "added-only" case of this).

The "new" snapshot is derived from the old with planted mutations so
the classifier provably exercises all four classes on deterministic
input.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ght2dm_spark.io import load_table
from ght2dm_spark.operators.neardup import hex2int_sql
from ght2dm_spark.queries.registry import register


@register(
    "t1_snapshot_diff",
    oracle="""
    WITH old AS (SELECT doc_id, md5(text) AS h FROM documents),
    new AS (
      SELECT doc_id, md5(text || ' edited') AS h
      FROM documents WHERE doc_id % 31 <> 0 AND doc_id % 17 = 0
      UNION ALL
      SELECT doc_id, md5(text) AS h
      FROM documents WHERE doc_id % 31 <> 0 AND doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 5000000 AS doc_id, md5(text) AS h
      FROM documents WHERE doc_id % 41 = 0),
    j AS (SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
                 CASE WHEN old.doc_id IS NULL THEN 'added'
                      WHEN new.doc_id IS NULL THEN 'removed'
                      WHEN old.h <> new.h THEN 'changed'
                      ELSE 'unchanged' END AS class
          FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
    SELECT class, count(*) AS n,
           min(doc_id) AS min_key, max(doc_id) AS max_key
    FROM j GROUP BY class
    """,
)
def t1_snapshot_diff(spark, sf_dir):
    """CDC diff of two snapshot versions: full outer join on the key,
    row-content hash comparison for change detection, per-class counts
    with key ranges.  Planted mutations (every 31st doc removed, every
    17th edited, every 41st re-added under a new id) light up all four
    classes.

    Scale: both snapshots shuffle once on the key (sort-merge full
    outer — unavoidable: unmatched rows of BOTH sides survive);
    comparing md5 hashes instead of full rows keeps the shuffle rows
    narrow regardless of document size.  Incremental runs
    (io.append-only) consume the added/changed classes."""
    old = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    base = load_table(spark, sf_dir, "documents")
    kept = base.filter(F.col("doc_id") % 31 != 0)
    new = (
        kept.filter(F.col("doc_id") % 17 == 0)
        .select("doc_id", F.md5(F.concat("text", F.lit(" edited"))).alias("h"))
        .unionByName(
            kept.filter(F.col("doc_id") % 17 != 0).select(
                "doc_id", F.md5("text").alias("h")
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 41 == 0).select(
                (F.col("doc_id") + 5_000_000).alias("doc_id"),
                F.md5("text").alias("h"),
            )
        )
    )
    o = old.alias("o")
    n = new.alias("n")
    j = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer").select(
        F.coalesce("o.doc_id", "n.doc_id").alias("doc_id"),
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.h") != F.col("n.h"), "changed")
        .otherwise("unchanged")
        .alias("class"),
    )
    return j.groupBy("class").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_key"),
        F.max("doc_id").alias("max_key"),
    )


@register(
    "t1_merge_upsert",
    oracle=f"""
    WITH ops AS (
      SELECT doc_id, 'D' AS op, NULL AS new_text
      FROM documents WHERE doc_id % 19 = 0
      UNION ALL
      SELECT doc_id, 'U' AS op, text || ' v2' AS new_text
      FROM documents WHERE doc_id % 19 <> 0 AND doc_id % 13 = 0
      UNION ALL
      SELECT doc_id + 7000000 AS doc_id, 'U' AS op, text AS new_text
      FROM documents WHERE doc_id % 29 = 0),
    merged AS (
      SELECT coalesce(b.doc_id, o.doc_id) AS doc_id,
             CASE WHEN o.op = 'U' THEN o.new_text ELSE b.text END AS text
      FROM documents b FULL OUTER JOIN ops o ON b.doc_id = o.doc_id
      WHERE o.op IS NULL OR o.op <> 'D')
    SELECT doc_id % 10 AS bucket, count(*) AS n,
           CAST(sum(length(text)) AS BIGINT) AS total_len,
           bit_xor({{h64}}) AS checksum
    FROM merged GROUP BY bucket
    """.format(h64=hex2int_sql("md5(text)", 1, 8)),
)
def t1_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics without a table format: a CDC batch of
    upserts/deletes applied to a base snapshot via ONE full-outer join —
    WHEN MATCHED AND op='D' THEN DELETE / AND op='U' THEN UPDATE / WHEN
    NOT MATCHED THEN INSERT.  Per-bucket row counts plus an
    order-independent bit_xor checksum of row hashes pin the merged
    content exactly (the same verification trick table formats use for
    snapshot integrity).

    Scale: this is the join-based MERGE every lakehouse engine (Delta,
    Iceberg) executes under the hood — one shuffle of each side on the
    key; at 100 TB the win is partition pruning (only touched partitions
    join — the CDC batch's key range prunes the base scan) and a
    broadcast of the CDC side when the batch is small, both of which
    Catalyst applies automatically here."""
    base = load_table(spark, sf_dir, "documents")
    ops = (
        base.filter(F.col("doc_id") % 19 == 0)
        .select("doc_id", F.lit("D").alias("op"), F.lit(None).cast("string").alias("new_text"))
        .unionByName(
            base.filter((F.col("doc_id") % 19 != 0) & (F.col("doc_id") % 13 == 0)).select(
                "doc_id",
                F.lit("U").alias("op"),
                F.concat("text", F.lit(" v2")).alias("new_text"),
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 29 == 0).select(
                (F.col("doc_id") + 7_000_000).alias("doc_id"),
                F.lit("U").alias("op"),
                F.col("text").alias("new_text"),
            )
        )
    )
    b = base.alias("b")
    o = ops.alias("o")
    merged = (
        b.join(o, F.col("b.doc_id") == F.col("o.doc_id"), "full_outer")
        .filter(F.col("o.op").isNull() | (F.col("o.op") != "D"))
        .select(
            F.coalesce("b.doc_id", "o.doc_id").alias("doc_id"),
            F.when(F.col("o.op") == "U", F.col("o.new_text"))
            .otherwise(F.col("b.text"))
            .alias("text"),
        )
    )
    h64 = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
    return merged.groupBy((F.col("doc_id") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("total_len"),
        F.bit_xor(h64).alias("checksum"),
    )


def _fp_sql(table: str, row_expr: str) -> str:
    """DuckDB side of one table fingerprint (md5-int sum + count)."""
    return f"""
        SELECT '{table}' AS table_name,
               count(*) AS n_rows,
               CAST(sum({hex2int_sql(f"md5({row_expr})", 1, 8)}) AS BIGINT)
                 AS checksum
        FROM {table}
    """


@register(
    "t1_table_fingerprint",
    oracle=(
        _fp_sql(
            "orders",
            "CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)"
            " || '|' || o_orderstatus || '|' ||"
            " CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)"
            " || '|' || CAST(epoch_us(o_orderdate) AS VARCHAR)"
            " || '|' || o_orderpriority",
        )
        + " UNION ALL "
        + _fp_sql(
            "customer",
            "CAST(c_custkey AS VARCHAR) || '|' || c_name || '|' ||"
            " CAST(c_nationkey AS VARCHAR) || '|' ||"
            " CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR)"
            " || '|' || c_mktsegment",
        )
    ),
)
def t1_table_fingerprint(spark, sf_dir):
    """Order-insensitive table content fingerprint: per table, the row
    count plus the SUM of a 32-bit integer slice of each row's md5 —
    the cheap replication/migration integrity check two systems can
    compute independently and compare (sum is commutative, so row order
    and partitioning are irrelevant; count catches the all-zeros
    failure mode).  Every value is rendered through an engine-neutral
    form first (decimals via DECIMAL(18,2) strings, timestamps via
    epoch micros) — raw float/timestamp formatting is NOT portable.

    Scale: a full scan with a map-side-combinable sum — no shuffle of
    row data, one 1-row result per table; this is what you run on both
    sides of a 100 TB copy instead of row-by-row diffing
    (t1_snapshot_diff is the drill-down when fingerprints disagree)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def fp(df, table, row_expr):
        h = F.conv(F.substring(F.md5(row_expr), 1, 8), 16, 10).cast("bigint")
        return df.agg(
            F.lit(table).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h).alias("checksum"),
        )

    o_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).cast("string"),
        "o_orderpriority",
    )
    c_repr = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        "c_name",
        F.col("c_nationkey").cast("string"),
        F.col("c_acctbal").cast("decimal(18,2)").cast("string"),
        "c_mktsegment",
    )
    return fp(o, "orders", o_repr).unionAll(fp(c, "customer", c_repr))


@register(
    "t1_asof_time_travel",
    oracle="""
    SELECT 'v0' AS snap, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'v1_asof' AS snap, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 3 IN (0, 1)
    UNION ALL
    SELECT 'current' AS snap, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 30 <> 0
    """,
)
def t1_asof_time_travel(spark, sf_dir):
    """Timestamp time travel through the REAL snapshot layer: a table
    is built by three commits (seed, append, merge-on-read delete),
    then read back three ways — pinned version 0, AS OF an instant
    between the append and the delete (resolved via manifest
    timestamps, snapshots._resolve), and CURRENT.  The oracle
    recomputes each version's content directly from the base table, so
    a hash match certifies that AS OF resolution returns exactly the
    rows that existed at the instant — including that the later
    delete is NOT visible at the earlier instant.

    Scale: time travel is metadata-only — resolution walks the
    manifest chain (names + timestamps, no data I/O) and the read
    plans only that version's file list; history depth costs nothing
    at any table size.  The monotone-ts invariant the resolver relies
    on is enforced at stamping time (_stamp_ts) and regression-tested
    in tests/test_round7_fixes.py."""
    import shutil
    import tempfile

    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        history,
        prepare_commit,
        read_snapshot,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    root = tempfile.mkdtemp(prefix="ght2dm-asof-")
    try:
        table = f"{root}/T"
        commit(prepare_commit(o.filter(F.col("o_orderkey") % 3 == 0), table))
        commit(prepare_commit(
            o.filter(F.col("o_orderkey") % 3 == 1), table, mode="append"))
        commit(delete_rows(
            o.filter(F.col("o_orderkey") % 30 == 0).select("o_orderkey"),
            table,
        ))
        hist = history(table)  # oldest-first: [v0, v1, v2]
        ts1, ts2 = hist[1]["ts"], hist[2]["ts"]
        # _stamp_ts is STRICTLY monotone (clamps a stepped-back clock to
        # parent+1µs), so ts2 > ts1 always; a violation would make the
        # midpoint ambiguous (resolve v2 while labeled v1_asof) — fail
        # loudly here rather than emit a wrong-but-plausible row.
        assert ts2 > ts1, f"non-monotone snapshot ts: {ts1} >= {ts2}"
        # an instant strictly inside (ts1, ts2): sees the append, not
        # the delete
        instant = ts1 + (ts2 - ts1) / 2

        def agg(df, label):
            return df.agg(
                F.lit(label).alias("snap"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )

        out = (
            agg(read_snapshot(spark, table, version=0), "v0")
            .unionAll(agg(read_snapshot(spark, table, as_of=instant), "v1_asof"))
            .unionAll(agg(read_snapshot(spark, table), "current"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "t1_snapshot_tag_read",
    oracle="""
    SELECT 'baseline' AS snap, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'current' AS snap, count(*) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    """,
)
def t1_snapshot_tag_read(spark, sf_dir):
    """Named version pins (Iceberg-style TAGS) driven end-to-end: a
    table is seeded, tagged 'baseline', appended TWICE, then VACUUMED
    with keep_manifests=1 — which would normally destroy the seed
    version — and both the tag and CURRENT are read back.  The oracle
    recomputes both contents, so a hash match certifies that (a) tag
    resolution returns exactly the pinned version's rows and (b) the
    tag acted as a vacuum retention ROOT: the pinned manifest and its
    data files survived a retention window that dropped every other
    ancestor.  This is the 'corpus we trained run X on' contract — the
    reproducibility anchor a training pipeline needs from its table
    format (snapshots.tag_snapshot / list_tags / vacuum).

    Scale: tags are one pointer file each; resolution is a driver-side
    read, retention cost is unchanged (the tagged version's files were
    already on disk)."""
    import shutil
    import tempfile

    from ght2dm_spark.snapshots import (
        commit,
        prepare_commit,
        read_snapshot,
        tag_snapshot,
        vacuum,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    root = tempfile.mkdtemp(prefix="ght2dm-tag-")
    try:
        table = f"{root}/T"
        commit(prepare_commit(o.filter(F.col("o_orderkey") % 3 == 0), table))
        tag_snapshot(table, "baseline")
        commit(prepare_commit(
            o.filter(F.col("o_orderkey") % 3 == 1), table, mode="append"))
        commit(prepare_commit(
            o.filter(F.col("o_orderkey") % 3 == 2), table, mode="append"))
        # retention that would drop the seed — the tag must keep it
        vacuum(table, keep_manifests=1)

        def agg(df, label):
            return df.agg(
                F.lit(label).alias("snap"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            )

        out = (
            agg(read_snapshot(spark, table, tag="baseline"), "baseline")
            .unionAll(agg(read_snapshot(spark, table), "current"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "t1_tag_diff",
    oracle="""
    SELECT 'removed' AS class, count(*) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders WHERE o_orderkey % 31 = 0 AND o_orderkey % 17 <> 0
    UNION ALL
    SELECT 'changed', count(*),
           CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 17 = 0
    UNION ALL
    SELECT 'added', count(*),
           CAST(min(o_orderkey + 5000000) AS BIGINT),
           CAST(max(o_orderkey + 5000000) AS BIGINT)
    FROM orders WHERE o_orderkey % 41 = 0
    UNION ALL
    SELECT 'unchanged', count(*),
           CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 31 <> 0 AND o_orderkey % 17 <> 0
    """,
)
def t1_tag_diff(spark, sf_dir):
    """Tag-to-tag CDC diff through the REAL snapshot layer: version 'a'
    is tagged, a mutation batch lands (merge-on-read deletes for the
    removed AND changed keys, appends for the changed rows' new values
    and the added keys), version 'b' is tagged, the table is VACUUMED
    to keep_manifests=1 — and the diff is computed by full-outer-
    joining the two TAGGED reads.  The oracle recomputes every class
    from the base table, so a hash match certifies tag resolution,
    merge-on-read delete application at both pins, and tag-rooted
    retention in one query (t1_snapshot_diff is this diff's synthetic
    twin without the table format; t1_snapshot_tag_read pins tag reads
    alone).

    Scale: the diff is one key-shuffled full outer join of two pinned
    file lists; tags keep it runnable forever at one pointer file
    each."""
    import shutil
    import tempfile

    from ght2dm_spark.snapshots import (
        commit,
        delete_rows,
        prepare_commit,
        read_snapshot,
        tag_snapshot,
        vacuum,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    k = F.col("o_orderkey")
    root = tempfile.mkdtemp(prefix="ght2dm-tagdiff-")
    try:
        table = f"{root}/T"
        commit(prepare_commit(o, table))
        tag_snapshot(table, "a")
        commit(delete_rows(
            o.filter((k % 31 == 0) | (k % 17 == 0)).select("o_orderkey"),
            table,
        ))
        changed = o.filter(k % 17 == 0).select(
            "o_orderkey", (F.col("o_custkey") + 1).alias("o_custkey")
        )
        added = o.filter(k % 41 == 0).select(
            (k + 5_000_000).alias("o_orderkey"), "o_custkey"
        )
        commit(prepare_commit(
            changed.unionByName(added), table, mode="append"))
        tag_snapshot(table, "b")
        vacuum(table, keep_manifests=1)

        a = read_snapshot(spark, table, tag="a").alias("a")
        b = read_snapshot(spark, table, tag="b").alias("b")
        j = a.join(
            b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
        ).select(
            F.coalesce("a.o_orderkey", "b.o_orderkey").alias("key"),
            F.when(F.col("a.o_orderkey").isNull(), "added")
            .when(F.col("b.o_orderkey").isNull(), "removed")
            .when(F.col("a.o_custkey") != F.col("b.o_custkey"), "changed")
            .otherwise("unchanged")
            .alias("class"),
        )
        out = (
            j.groupBy("class")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("key").cast("bigint").alias("min_key"),
                F.max("key").cast("bigint").alias("max_key"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out
