"""Checkpointed stage tables with lineage manifests (SURVEY.md S9/S11).

The reference caches each stage's output in Postgres keyed tables
(`stanford-kbp/.../common/PostgresUtils.java`, used at
`KBPProcess.java:220-264`) so a crashed run resumes. Our analog: every
stage writes a parquet (Iceberg in production) table plus a
`_MANIFEST.json` carrying

* the stage **fingerprint** — sha256 over (stage name, config, input
  fingerprints), so any upstream or config change invalidates the
  checkpoint;
* **per-partition lineage metrics** — row count per partition value
  (per part file, i.e. per write task, when unpartitioned) — which
  double as the skew report (BASELINE.md resumability protocol);
* the stage **schema** as ``spark.read.parquet`` would infer it (every
  field nullable, the partition column last).

The manifest is read off the parquet footers the write just produced
(``pyarrow.parquet.read_metadata``), not by a Spark read-back, and the
stored schema lets ``checkpoint_stage`` read a table without a
schema-inference job: a stored stage costs its write job and nothing
else. Both rely on ``path`` being a local POSIX directory, which the
atomic rename (``os.replace``) and ``shutil.rmtree`` already require.

``checkpoint_stage`` is idempotent: a matching manifest short-circuits
recomputation; a missing/stale one (including one written before the
schema was recorded) rebuilds atomically (write to tmp dir, rename).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from collections import Counter
from collections.abc import Callable
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

MANIFEST = "_MANIFEST.json"


def fingerprint(stage: str, config: dict[str, Any], input_fps: list[str]) -> str:
    payload = json.dumps(
        {"stage": stage, "config": config, "inputs": sorted(input_fps)},
        sort_keys=True,
        default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def read_manifest(path: str) -> dict[str, Any] | None:
    try:
        with open(_manifest_path(path)) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def is_valid(manifest: dict[str, Any] | None, fp: str) -> bool:
    """A manifest is current when its fingerprint matches and it records
    the stage schema (older manifests lack it: their stages rebuild)."""
    return manifest is not None and manifest.get("fingerprint") == fp and "schema" in manifest


def _nullable(t: DataType) -> DataType:
    """``t`` with every nested field, element and value nullable — what
    the parquet reader reports for a column it wrote."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _read_schema(schema: StructType, partition_by: str | None) -> StructType:
    """The schema ``spark.read.parquet`` infers for a table written from
    ``schema``: all fields nullable, the partition column last."""
    fields = [f for f in schema.fields if f.name != partition_by]
    fields += [f for f in schema.fields if f.name == partition_by]
    return _nullable(StructType(fields))


def _unescape(value: str) -> str:
    """A partition directory value as Spark wrote it, unescaped
    (ExternalCatalogUtils.unescapePathName: each %XX is one char)."""
    return re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), value)


def _footer_rows(root: str, partition_by: str | None) -> Counter:
    """Rows per partition value (partitioned) or per part file, read off
    the parquet footers under ``root``."""
    rows: Counter = Counter()
    prefix = f"{partition_by}="
    for dirpath, _, files in os.walk(root):
        part_dir = os.path.basename(dirpath)
        for name in files:
            if name.startswith(("_", ".")):  # _SUCCESS, _MANIFEST, .crc
                continue
            n = pq.read_metadata(os.path.join(dirpath, name)).num_rows
            if not partition_by:
                rows[name] = n
            elif part_dir.startswith(prefix):
                rows[_unescape(part_dir[len(prefix):])] += n
    return rows


def write_stage(
    df: DataFrame,
    path: str,
    fp: str,
    partition_by: str | None = None,
) -> dict[str, Any]:
    """Atomic checkpoint write + manifest with per-partition lineage.

    A partitioned write first clusters the rows on ``partition_by``, so
    each partition directory holds one file."""
    tmp = f"{path}.inprogress"
    shutil.rmtree(tmp, ignore_errors=True)
    writer = df.write
    if partition_by:
        writer = df.repartition(partition_by).write.partitionBy(partition_by)
    writer.mode("overwrite").parquet(tmp)

    part_rows = dict(_footer_rows(tmp, partition_by))
    n_rows = sum(part_rows.values())
    manifest = {
        "fingerprint": fp,
        "row_count": n_rows,
        "partition_rows": part_rows,
        "partition_by": partition_by,
        "schema": _read_schema(df.schema, partition_by).jsonValue(),
        "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "max_partition_rows": max(part_rows.values(), default=0),
        "skew_ratio": round(
            max(part_rows.values(), default=0)
            / max(n_rows / max(len(part_rows), 1), 1e-9),
            3,
        ),
    }
    with open(_manifest_path(tmp), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)

    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return manifest


def checkpoint_stage(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    path: str,
    fp: str,
    partition_by: str | None = None,
) -> DataFrame:
    """Return the stage table, recomputing only when the fingerprint
    doesn't match the on-disk manifest (idempotent resume). The table
    is read through its recorded schema: no inference job."""
    manifest = read_manifest(path)
    if not is_valid(manifest, fp):
        manifest = write_stage(build(), path, fp, partition_by)
    return spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(path)
