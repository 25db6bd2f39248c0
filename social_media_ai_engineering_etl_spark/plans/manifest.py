"""Driver-side lineage manifest with content-hash memoization — the
Spark analogue of the reference's run manifest (utils/manifest.py:
12-83; README.md:58-72): stages are materialized as parquet snapshots
under a run directory, a stage re-runs only when the sha256 of
(input snapshot bytes + config + stage version) changes, and the
manifest JSON is the commit log (validated-then-updated, §1.3 gate).

This is the one optimizer feature Catalyst does not provide (SURVEY
§4 'Custom'). Executors never see the manifest — it is pure driver
state; stage payloads stay distributed parquet.

A manifest entry records what the driver needs to reuse a snapshot
without asking Spark again: the stage signature, its inputs, the
output path, the row count (observed on the write job itself), the
output's sha256 and the schema the write produced (the frame's schema
with every field nullable, as parquet stores it).

Job budget of :func:`run_stage`: a fresh stage costs one job — the
write, which also yields the row count and its gate's violation
count; the snapshot is read back with the recorded schema, which
costs none. A memo hit whose output bytes still hash to the recorded
sha256 costs no job at all. Only a snapshot whose bytes no longer
match its record (edited, or committed by an older manifest without
``sha256``/``schema``) is re-read with schema inference and counted.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DataType, MapType, StructField,
                               StructType)

from ..operators.observability import quality_metrics

STAGE_VERSION = "1"  # bump to invalidate every memoized stage


def _iter_files(path: str):
    if os.path.isfile(path):
        yield path
        return
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if not f.startswith((".", "_")):   # skip _SUCCESS / .crc
                yield os.path.join(root, f)


def artifact_hasher(input_paths: list[str]) -> "hashlib._Hash":
    """sha256 stream over the sorted file bytes of the given paths.
    Returned un-finalized so one pass over an artifact can serve BOTH
    its S9 contract signature (``.hexdigest()`` of a copy) and the
    next stage's memoization signature (``signature_from_hasher``) —
    the artifact is content-hashed exactly once per run."""
    h = hashlib.sha256()
    for p in sorted(input_paths):
        for f in _iter_files(p):
            with open(f, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h


def signature_from_hasher(h, config: dict | None = None,
                          stage_version: str | None = None) -> str:
    """Stage signature from a precomputed file-bytes hasher: copy the
    stream state, fold in canonical config JSON + stage version."""
    h2 = h.copy()
    h2.update(json.dumps(config or {}, sort_keys=True).encode())
    # read the module global at call time so a STAGE_VERSION bump
    # invalidates (utils/version.py semantics)
    h2.update((stage_version if stage_version is not None
               else STAGE_VERSION).encode())
    return h2.hexdigest()


def snapshot_signature(input_paths: list[str],
                       config: dict | None = None,
                       stage_version: str | None = None) -> str:
    """sha256 over input file bytes (sorted) + canonical config JSON +
    stage version (utils/manifest.py:32-49 semantics; version bump
    invalidation per utils/version.py:1-4)."""
    return signature_from_hasher(artifact_hasher(input_paths), config,
                                 stage_version)


def written_schema(dtype: DataType) -> DataType:
    """The schema a parquet write stores for ``dtype``: every field,
    array element and map value made nullable — what an inferring
    ``spark.read.parquet`` of the output would report."""
    if isinstance(dtype, StructType):
        return StructType([
            StructField(f.name, written_schema(f.dataType), True, f.metadata)
            for f in dtype])
    if isinstance(dtype, ArrayType):
        return ArrayType(written_schema(dtype.elementType), True)
    if isinstance(dtype, MapType):
        return MapType(written_schema(dtype.keyType),
                       written_schema(dtype.valueType), True)
    return dtype


@dataclass(frozen=True)
class Snapshot:
    """A committed stage output: ``df`` reads it with a known schema,
    ``rows`` is its row count, ``hasher`` the un-finalized sha256
    stream over its file bytes (see ``artifact_hasher``), ``skipped``
    whether the stage was memoized."""
    df: DataFrame
    rows: int
    hasher: "hashlib._Hash"
    skipped: bool


class Manifest:  # S8 manifest read/write (utils/manifest.py:12-29)
    """JSON lineage doc for one run: stage -> {signature, inputs,
    output, row_count, sha256, schema, completed_at, stage_version}.
    Atomic writes (tmp + rename)."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.path = os.path.join(run_dir, "manifest.json")
        os.makedirs(run_dir, exist_ok=True)
        self.doc = {"stages": {}}
        if os.path.exists(self.path):
            try:
                with open(self.path, encoding="utf-8") as f:
                    self.doc = json.load(f)
            except Exception:
                pass  # corrupt manifest -> fresh (manifest.py:19-21)

    def stage_output(self, stage: str) -> str:
        return os.path.join(self.run_dir, stage)

    def should_skip(self, stage: str, signature: str) -> bool:
        entry = self.doc["stages"].get(stage)
        return bool(entry and entry.get("signature") == signature
                    and os.path.exists(self.stage_output(stage)))

    def update_stage(self, stage: str, signature: str,
                     inputs: list[str], row_count: int,
                     sha256: str | None = None,
                     schema: StructType | None = None) -> None:
        self.doc["stages"][stage] = {
            "signature": signature,
            "inputs": inputs,
            "output": self.stage_output(stage),
            "row_count": row_count,
            "sha256": sha256,
            "schema": schema and schema.jsonValue(),
            "completed_at": datetime.now(timezone.utc).isoformat(),
            "stage_version": STAGE_VERSION,
        }
        fd, tmp = tempfile.mkstemp(dir=self.run_dir, suffix=".tmp")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(self.doc, f, indent=2)
        os.replace(tmp, self.path)

    def discover_input(self, candidates: list[str]) -> str | None:
        # J6: manifest input discovery (utils/io.py:93-134) - driver-side lookup
        """Ordered-fallback input discovery (utils/io.py:93-134): the
        first candidate stage with a recorded output wins."""
        for stage in candidates:
            entry = self.doc["stages"].get(stage)
            if entry and os.path.exists(entry["output"]):
                return entry["output"]
        return None


def run_stage(spark: SparkSession, manifest: Manifest, stage: str,
              input_paths: list[str], config: dict,
              fn: Callable[..., DataFrame],
              invalid: Column | None = None,
              signature: str | None = None) -> Snapshot:
    """Memoized stage execution: compute the signature; if unchanged
    and the snapshot exists, reuse it (skip); otherwise run
    ``fn(spark, *input_paths)``, write the parquet snapshot, validate
    (gating the manifest update, §1.3), then commit the manifest.
    Either way the snapshot's output files are content-hashed once.

    ``invalid`` is a row predicate over the stage's output: the write
    job counts the rows it holds true for, alongside the row count,
    and a nonzero count raises before the manifest commit (the
    snapshot files stay on disk, uncommitted).

    ``signature`` lets a driver that already hashed the inputs (e.g.
    run_e2e's skip report) pass it in — content-hashing a stage's
    input snapshot is the expensive part of an incremental re-run, so
    it must happen once per stage, not once per caller."""
    sig = signature if signature is not None \
        else snapshot_signature(input_paths, config)
    out = manifest.stage_output(stage)
    if manifest.should_skip(stage, sig):
        h = artifact_hasher([out])
        entry = manifest.doc["stages"][stage]
        if entry.get("sha256") == h.hexdigest():
            return Snapshot(spark.read.schema(StructType.fromJson(
                entry["schema"])).parquet(out), entry["row_count"], h, True)
        # bytes edited since the commit, or no recorded sha256/schema:
        # re-derive both from the files
        snapshot = spark.read.parquet(out)
        return Snapshot(snapshot, snapshot.count(), h, True)
    checks = [] if invalid is None else [F.count_if(invalid).alias("n_invalid")]
    observed = Observation(f"stage {stage}")
    df = fn(spark, *input_paths).observe(observed, *quality_metrics([]),
                                         *checks)
    df.write.mode("overwrite").parquet(out)
    metrics = observed.get
    if metrics.get("n_invalid"):
        raise ValueError(f"{metrics['n_invalid']} rows failed the "
                         f"{stage} gate")
    rows = metrics["n_rows"]
    schema = written_schema(df.schema)
    snapshot = spark.read.schema(schema).parquet(out)
    h = artifact_hasher([out])
    manifest.update_stage(stage, sig, input_paths, rows, h.hexdigest(),
                          schema)
    return Snapshot(snapshot, rows, h, False)


def write_contract(artifact_path: str, schema_version: str,
                   row_count: int, extra: dict | None = None,
                   signature: str | None = None) -> str:
    """S9 data-contract sidecar (utils/contracts.py:8-26):
    {schema_version, sha256 signature of artifact files, counts}.
    Pass ``signature`` when the artifact was already hashed (see
    ``artifact_hasher``) to avoid a second read of every byte."""
    if signature is None:
        signature = artifact_hasher([artifact_path]).hexdigest()
    contract = {
        "schema_version": schema_version,
        "signature": signature,
        "counts": {"rows": row_count},
        **(extra or {}),
    }
    path = artifact_path.rstrip("/") + ".contract.json"
    with open(path, "w", encoding="utf-8") as f:
        json.dump(contract, f, indent=2)
    return path
