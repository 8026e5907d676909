"""BSON dumps as a first-class Spark data source (Python DataSource API).

``sources.bson.read_bson_dumps`` converts dumps through binaryFile +
``mapInPandas``; this module packages the same framing/decoding
(S1/S2/S3, ``/root/reference/ght2dm.go:212-236, 985-1029``) behind the
public Python DataSource API (pyspark.sql.datasource, Spark 4), so BSON
dumps read like any built-in format::

    spark.dataSource.register(BsonDataSource)
    df = (spark.read.format("ght2dm_bson")
          .schema("id bigint, login string, file_date date, file_pos bigint, _corrupt string")
          .option("flatten", "owner_login=owner.login")
          .load("/dumps/users"))

Scale shape: ``partitions()`` emits ONE partition per dump file — the
reference's own unit of atomicity (S8) — so a directory of daily dumps
fans out across executors with no driver-side data movement; the driver
does only the listing (the same listing any file source performs).  Rows
stream out of each file incrementally (the framing is sequential by
design), never materializing a whole dump in memory.

Per-field semantics match the mapInPandas path exactly: requested fields
are matched by BSON key, missing keys → NULL, nested one-level flattens
via the ``flatten`` option, malformed frames produce ``_corrupt`` rows
rather than failing the task (E1, ``ght2dm.go:281-290``).
"""

from __future__ import annotations

import os
import re
import time
from collections.abc import Iterator
from datetime import date

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from ght2dm_spark.sources.bson import (
    FILE_DATE_RE,
    BsonError,
    build_doc_row,
    dump_date,
    stream_frames,
)

# Append-mode commits purge crash-orphaned .inprogress temps, but only
# ones old enough that no live concurrent writer can still own them.
_STALE_TEMP_SECONDS = 3600

_META = ("file_date", "file_pos", "_corrupt")


class BsonFilePartition(InputPartition):
    def __init__(self, path: str, file_date: date):
        self.path = path
        self.file_date = file_date


class BsonDataSource(DataSource):
    """``format("ght2dm_bson")`` — length-prefixed BSON dump directories."""

    @classmethod
    def name(cls) -> str:
        return "ght2dm_bson"

    def schema(self) -> str:
        # Inference-free default (SURVEY §1.3): provenance only; callers
        # name the entity fields they want, like the reference's structs.
        return "file_date date, file_pos bigint, _corrupt string"

    def reader(self, schema: StructType) -> "BsonDumpReader":
        return BsonDumpReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "BsonDumpWriter":
        return BsonDumpWriter(schema, self.options, overwrite)


class BsonDumpReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ght2dm_bson requires a load(path)")
        # "out=outer.inner, out2=o2.i2" — mirrors read_bson_dumps(flatten=)
        self.flatten: dict[str, tuple[str, str]] = {}
        for spec in (options.get("flatten") or "").split(","):
            spec = spec.strip()
            if spec:
                if "=" not in spec or "." not in spec.split("=", 1)[1]:
                    raise ValueError(
                        f"ght2dm_bson: flatten spec {spec!r} must be "
                        "'out=outer.inner' (comma-separated)"
                    )
                out, dotted = spec.split("=", 1)
                outer, inner = dotted.split(".", 1)
                self.flatten[out.strip()] = (outer.strip(), inner.strip())

    def partitions(self) -> list[BsonFilePartition]:
        # One partition per date-named dump file (S2 filter); undated
        # files are skipped exactly like visit() logs-and-skips them —
        # and so are files whose date-shaped token is not a real
        # calendar date ('9999-99-99' from some other tool must not be
        # a job-fatal driver exception on an otherwise-valid directory).
        parts = []
        for fname in sorted(os.listdir(self.path)):
            fdate = dump_date(fname) if fname.endswith(".bson") else None
            if fdate is None:
                continue
            parts.append(
                BsonFilePartition(os.path.join(self.path, fname), fdate)
            )
        return parts

    def read(self, partition: BsonFilePartition) -> Iterator[tuple]:
        if partition is None:
            # partitions() returned [] (empty/undated directory): pyspark
            # substitutes one None partition — an empty source must yield
            # an empty DataFrame, not crash on partition.path
            return
        fields = [f.name for f in self.schema.fields]

        def emit(row: dict) -> tuple:
            return tuple(row.get(f) for f in fields)

        user_fields = [f for f in fields if f not in _META]
        with open(partition.path, "rb") as fh:
            yield from self._read_frames(fh, partition, user_fields, emit)

    def _read_frames(self, fh, partition, fields, emit) -> Iterator[tuple]:
        pos = 0
        gen = stream_frames(fh)
        while True:
            try:
                frame = next(gen)
            except StopIteration:
                return
            except BsonError as e:
                # corrupt tail → one reject row; frames before it already
                # emitted (the reference fails only the bad read)
                yield emit(
                    {"file_date": partition.file_date, "file_pos": -1,
                     "_corrupt": f"frame: {e}"}
                )
                return
            yield emit(
                build_doc_row(
                    frame, fields, self.flatten, partition.file_date, pos
                )
            )
            pos += 1


class BsonWriterCommitMessage(WriterCommitMessage):
    def __init__(self, temp: str, final: str, rows: int):
        self.temp = temp
        self.final = final
        self.rows = rows


class BsonDumpWriter(DataSourceWriter):
    """The WRITE side of the dump format (Spark 4 Python DataSource
    writer API): each task frames its partition's rows as concatenated
    BSON documents into one date-named dump file — the reference's own
    file-per-unit layout (S8), so a dump written here reads back
    through this source (or the reference's loader) unchanged.

    Durability contract: tasks write ``*.bson.inprogress`` temp names
    (invisible to the reader, which lists only ``*.bson``), and
    ``commit`` renames the successful tasks' files into place — so a
    task that dies mid-write, or a speculative duplicate, can never
    surface partial or duplicated rows; ``abort`` removes the temps of
    tasks that REPORTED (a task killed mid-write never reports, so its
    temp lingers, invisible to readers, until the next overwrite commit
    purges stale temps).  Overwrite deletes the OLD dump files inside
    ``commit`` too, not at writer construction: a job that fails before
    commit leaves the previous data untouched.

    Meta columns (file_date / file_pos / _corrupt) are provenance the
    READER synthesizes; they are dropped on write rather than
    round-tripped as data."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ght2dm_bson requires a save(path)")
        self.file_date = options.get("file_date", "1970-01-01")
        # BOTH checks are needed: the shape regex alone lets the
        # non-calendar '2020-99-99' through (written fine, then every
        # read of the directory used to die constructing the date), and
        # fromisoformat alone accepts the compact '20200517' shape the
        # reader's dash-anchored filename regex would never re-find.
        ok_shape = re.fullmatch(r"\d{4}-\d{2}-\d{2}", self.file_date)
        try:
            from datetime import date as _date

            _date.fromisoformat(self.file_date)
            ok_cal = True
        except ValueError:
            ok_cal = False
        if not (ok_shape and ok_cal):
            raise ValueError(
                f"ght2dm_bson: file_date {self.file_date!r} must be a "
                "real YYYY-MM-DD calendar date — the reader stamps (or "
                "skips) files by parsing it back"
            )
        self.prefix = options.get("prefix", "dump")
        # Validate against the COMPOSED filename, not the prefix alone:
        # a prefix like 'logs-2024-07' carries no full date itself, but
        # '<prefix>-<file_date>' first-matches FILE_DATE_RE at
        # '2024-07-20' — read-back would silently stamp the wrong
        # file_date and corrupt newest-wins ordering downstream.
        probe = FILE_DATE_RE.search(f"{self.prefix}-{self.file_date}-part")
        if not probe or probe.group(1) != self.file_date:
            raise ValueError(
                f"ght2dm_bson: prefix {self.prefix!r} composes with "
                f"file_date={self.file_date} into a filename whose first "
                f"date-like token is "
                f"{probe.group(1) if probe else 'unparseable'!r} — the "
                "reader takes the FIRST date in the filename, so this "
                "write could not be read back correctly"
            )
        self.overwrite = overwrite
        self.fields = [f.name for f in schema.fields if f.name not in _META]
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator) -> "BsonWriterCommitMessage":
        import uuid

        from pyspark import TaskContext

        from ght2dm_spark.sources.bson import encode_doc

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        fname = (
            f"{self.prefix}-{self.file_date}"
            f"-part{pid:05d}-{uuid.uuid4().hex[:8]}.bson"
        )
        final = os.path.join(self.path, fname)
        temp = final + ".inprogress"
        n = 0
        with open(temp, "wb") as fh:
            for row in iterator:
                d = row.asDict() if hasattr(row, "asDict") else dict(row)
                fh.write(
                    encode_doc({k: d.get(k) for k in self.fields})
                )
                n += 1
        if n == 0:
            os.unlink(temp)
            return BsonWriterCommitMessage("", "", 0)
        return BsonWriterCommitMessage(temp, final, n)

    def commit(self, messages) -> None:
        keep = {
            os.path.basename(m.temp)
            for m in messages
            if m is not None and m.rows
        }
        if self.overwrite:
            for fname in os.listdir(self.path):
                # delete only what the READER considers part of the
                # dataset (dated .bson) — an undated 'notes.bson' some
                # other tool parked here was never read and must not be
                # destroyed; also purge stale .inprogress temps from
                # tasks that died mid-write in EARLIER jobs (they never
                # reported a commit message, so abort couldn't see them)
                full = os.path.join(self.path, fname)
                if fname.endswith(".bson") and FILE_DATE_RE.search(fname):
                    os.unlink(full)
                elif fname.endswith(".bson.inprogress") and fname not in keep:
                    os.unlink(full)
        else:
            # Append mode must not accumulate crash orphans forever
            # either, but unlike overwrite it cannot assume it owns the
            # directory: a CONCURRENT append job's tasks may be mid-write
            # right now, and their temps are not in OUR keep set.  Age-
            # gate the purge — a temp untouched for an hour belongs to a
            # task that died (live writers stream rows, refreshing mtime).
            cutoff = time.time() - _STALE_TEMP_SECONDS
            for fname in os.listdir(self.path):
                if not fname.endswith(".bson.inprogress") or fname in keep:
                    continue
                full = os.path.join(self.path, fname)
                try:
                    if os.path.getmtime(full) < cutoff:
                        os.unlink(full)
                except FileNotFoundError:
                    pass  # racing vacuum/commit already removed it
        for m in messages:
            if m is None:
                continue
            if m.rows:
                os.replace(m.temp, m.final)
            elif m.temp:
                # A reported zero-row temp is known-safe to delete in ANY
                # mode (the task finished; nothing will promote it) — the
                # write() path already unlinks these, but an append-mode
                # commit must not rely on that and leave strays behind
                # (overwrite-only purging let them accumulate on
                # append-only workloads).
                try:
                    os.unlink(m.temp)
                except FileNotFoundError:
                    pass

    def abort(self, messages) -> None:
        for m in messages or []:
            if m is not None and m.temp:
                try:
                    os.unlink(m.temp)
                except FileNotFoundError:
                    pass
