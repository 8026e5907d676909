"""Snapshot tables as a STRUCTURED STREAMING SOURCE (Spark 4 Python
DataSource streaming API) — the "table as a stream" integration every
lakehouse format grows: a query ``readStream.format("ght2dm_snapshot")
.load(path)`` emits each append commit's rows as a micro-batch, with
offsets = snapshot versions, so the snapshot layer now closes the loop
(stream→table via ``snapshots.snapshot_sink``, table→stream here).

Scale shape: ``latestOffset`` parses the seq out of the CURRENT
pointer's manifest NAME (one tiny pointer read per trigger — never the
manifest JSON, which embeds per-file stats and grows with the table);
``partitions`` diffs two manifests' file lists resolved in ONE shared
chain walk (append commits only ever extend them — an
overwrite/compaction breaks delta containment and raises, same contract
as ``snapshots.read_increment``; a merge-on-read DELETE commit likewise
raises, because a stream cannot retract rows it already emitted —
compact to materialize deletes, then restart); ``read`` opens ONE
parquet file per input partition executor-side and yields Arrow record
batches — per-file fan-out identical to the batch scan, no driver data
movement.  Exactly-once follows from offsets being versions: a replayed
batch re-reads the same immutable files.

Schema: the union of ALL live file footers (schema evolution — append
commits may add columns; older files surface NULL for them, exactly
like the batch reader's ``merge_schema=True``).  The declared schema is
fixed at stream start, as Spark streaming requires; columns added by
commits AFTER the stream started appear on restart.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ght2dm_spark.snapshots import _added, _current, _pin, _window


class SnapshotFilePartition(InputPartition):
    def __init__(self, path: str, columns: list[str], arrow_schema):
        self.path = path
        self.columns = columns
        self.arrow_schema = arrow_schema  # pyarrow.Schema — picklable


class SnapshotStreamDataSource(DataSource):
    """``readStream.format("ght2dm_snapshot")`` over a snapshot table."""

    @classmethod
    def name(cls) -> str:
        return "ght2dm_snapshot"

    def schema(self):
        # declared-schema discipline everywhere else; here the table's
        # own files ARE the contract: UNIFY every live footer (metadata
        # only, driver-side) so schema-evolved columns stream instead of
        # silently vanishing (one footer would read only files[0]'s
        # pre-evolution shape)
        path = self.options.get("path")
        if not path:
            raise ValueError("ght2dm_snapshot requires a load(path)")
        base = _pin(path)
        if not base.files:
            raise ValueError(f"{path}: no committed snapshot to stream")
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        # one footer per STAGING GROUP: all files a single df.write
        # staged share a schema and a name prefix ("{commit}{tag}-{i}"),
        # so reading one representative per prefix unifies the identical
        # schema at #commits footer opens instead of #files — an
        # append-heavy table with 10⁴ small files otherwise spends
        # minutes of serial driver I/O on every stream (re)start
        reps = {f.rsplit("-", 1)[0]: f for f in base.files}
        sch = pa.unify_schemas(
            [pq.read_schema(p) for p in base.paths(list(reps.values()))],
            promote_options="permissive",
        )
        return from_arrow_schema(sch, prefer_timestamp_ntz=True)

    def streamReader(self, schema: StructType) -> "SnapshotStreamReader":
        return SnapshotStreamReader(schema, self.options)


class SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ght2dm_snapshot requires a load(path)")
        self.columns = [f.name for f in schema.fields]
        from pyspark.sql.pandas.types import to_arrow_schema

        # declared types ride along to executors so pre-evolution files
        # can NULL-fill evolved columns at the RIGHT arrow type
        self.arrow_schema = to_arrow_schema(schema)

    def initialOffset(self) -> dict:
        # start from empty: the existing snapshot arrives as batch 0
        return {"seq": -1, "manifest": None}

    def latestOffset(self) -> dict:
        # the manifest NAME rides in the offset as table identity: seq
        # alone cannot distinguish "this table, version 3" from "a table
        # recreated at the same path whose new chain reached seq 3" —
        # resuming a checkpoint against a recreated table must fail
        # loudly, not silently skip the new table's first versions
        name, seq = _current(Path(self.path)) or (None, -1)
        return {"seq": seq, "manifest": name}

    def partitions(self, start: dict, end: dict):
        since, upto = int(start["seq"]), int(end["seq"])
        window = _window(Path(self.path), since, upto)
        if window is None:
            return []
        # identity check: the offset's recorded manifest must be the one
        # this chain resolves for that seq (absent on pre-identity
        # checkpoints and on the -1 initial offset)
        for rec, pin, which in (
            (start.get("manifest"), window[0], "start"),
            (end.get("manifest"), window[1], "end"),
        ):
            if rec is not None and pin.name is not None and rec != pin.name:
                raise ValueError(
                    f"{self.path}: checkpointed {which} offset names "
                    f"manifest {rec!r} but the live chain has {pin.name!r} "
                    f"at that version — the table was recreated at this "
                    "path; restart the stream from a fresh checkpoint"
                )
        files, dels = _added(*window)
        # A merge-on-read delete commit bumps seq but leaves `files`
        # unchanged, so file containment alone would plan an EMPTY batch
        # and silently keep emitting rows the batch reader anti-joins
        # away.  Streams cannot retract, so surface it loudly (same
        # contract as the overwrite case).  This also catches batch 0
        # over a table already carrying delete files.
        if dels:
            raise ValueError(
                f"{self.path}: merge-on-read delete files changed between "
                f"versions {since} and {upto} — a stream "
                "cannot retract already-emitted rows (and batch 0 would "
                "emit logically-deleted ones).  Compact the table to "
                "materialize deletes, then restart from a fresh checkpoint"
            )
        return [
            SnapshotFilePartition(p, self.columns, self.arrow_schema)
            for p in window[1].paths(files)
        ]

    def read(self, partition: SnapshotFilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Context-manage the handle: an abandoned generator (killed
        # task, early stop) must not leak the fd until GC finalization.
        with pq.ParquetFile(partition.path) as pf:
            present = set(pf.schema_arrow.names)
            have = [c for c in partition.columns if c in present]
            missing = [c for c in partition.columns if c not in present]
            for batch in pf.iter_batches(columns=have):
                if missing:
                    # pre-evolution file: NULL-fill the evolved columns
                    # (pyarrow silently OMITS absent requested columns,
                    # which Spark rejects as a schema mismatch) and
                    # restore the declared column order
                    arrays = {c: batch.column(c) for c in have}
                    for c in missing:
                        arrays[c] = pa.nulls(
                            batch.num_rows,
                            type=partition.arrow_schema.field(c).type,
                        )
                    batch = pa.RecordBatch.from_arrays(
                        [arrays[c] for c in partition.columns],
                        names=list(partition.columns),
                    )
                if batch.schema != partition.arrow_schema:
                    # the file's PHYSICAL types, not the declared ones:
                    # Spark's default INT96 timestamps read back as
                    # timestamp[ns] (which the JVM arrow reader rejects
                    # outright), and a permissive-unified promotion
                    # (int32 file vs int64 declared) would crash the
                    # JVM column accessor.  One cast per batch fixes
                    # both; safe for ns→us because the snapshot layer's
                    # writers produce µs-precision values (exact
                    # multiples of 1000 ns)
                    batch = batch.cast(partition.arrow_schema)
                yield batch

    def commit(self, end: dict) -> None:
        pass
