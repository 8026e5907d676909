"""The manifest layer's own contracts, checked without Spark:

- ``snapshots.py`` is the only module that knows the manifest format —
  no other module under ``ght2dm_spark/`` imports its layout constants
  or manifest readers;
- a parent CYCLE in a (hand-made, corrupt) manifest chain raises in
  every chain walk instead of looping or silently truncating history.
"""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest

import ght2dm_spark
from ght2dm_spark.snapshots import history, read_snapshot, vacuum

_PRIVATE = {"_DATA", "_MANIFESTS", "_load_manifest", "_read_current", "_committed_chain"}
_MODULE = "ght2dm_spark.snapshots"


def _violations(src: str) -> list[str]:
    tree = ast.parse(src)
    aliases: set[str] = set()  # local names bound to the snapshots module
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == _MODULE:
            out += [a.name for a in node.names if a.name in _PRIVATE]
        elif isinstance(node, ast.ImportFrom) and node.module == "ght2dm_spark":
            aliases |= {a.asname or a.name for a in node.names if a.name == "snapshots"}
        elif isinstance(node, ast.Import):
            aliases |= {a.asname for a in node.names if a.name == _MODULE and a.asname}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in _PRIVATE
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            out.append(node.attr)
    return out


def test_only_snapshots_module_touches_manifest_internals():
    pkg = Path(ght2dm_spark.__file__).parent
    bad = {}
    for f in sorted(pkg.rglob("*.py")):
        if f == pkg / "snapshots.py":
            continue
        names = _violations(f.read_text())
        if names:
            bad[str(f.relative_to(pkg))] = sorted(set(names))
    assert not bad, f"manifest internals used outside snapshots.py: {bad}"


def test_boundary_check_catches_both_import_forms():
    assert _violations("from ght2dm_spark.snapshots import _DATA, commit") == ["_DATA"]
    assert _violations(
        "from ght2dm_spark import snapshots as S\nS._load_manifest(1, 2)"
    ) == ["_load_manifest"]
    assert _violations("from ght2dm_spark.snapshots import current_version") == []


def _cyclic_table(tmp_path) -> Path:
    """Two manifests whose parents point at each other, CURRENT at one."""
    t = tmp_path / "t"
    (t / "_manifests").mkdir(parents=True)
    (t / "data").mkdir()
    a, b = "m-000000-aaaaaaaaaaaa.json", "m-000001-bbbbbbbbbbbb.json"
    for name, seq, parent in ((a, 0, b), (b, 1, a)):
        (t / "_manifests" / name).write_text(json.dumps(
            {"seq": seq, "ts": 1.0 + seq, "parent": parent,
             "mode": "append", "files": []}
        ))
    (t / "CURRENT").write_text(b)
    return t


def test_parent_cycle_raises_in_every_chain_walk(tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from ght2dm_spark.sources.snapshot_stream import SnapshotStreamReader

    t = _cyclic_table(tmp_path)
    with pytest.raises(ValueError, match="cycle"):
        history(str(t))
    with pytest.raises(ValueError, match="cycle"):
        # the version walk never reaches seq 7, so it must run into the
        # cycle (no Spark needed: resolution fails before any read)
        read_snapshot(None, str(t), version=7)
    with pytest.raises(ValueError, match="cycle"):
        vacuum(str(t))
    # a refused vacuum deletes nothing
    assert len(list((t / "_manifests").glob("m-*.json"))) == 2
    reader = SnapshotStreamReader(
        StructType([StructField("k", LongType())]), {"path": str(t)}
    )
    with pytest.raises(ValueError, match="cycle"):
        reader.partitions({"seq": 7}, {"seq": 1})
