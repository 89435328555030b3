"""Parquet-backed mergeable table — the physical layer for the
reference's Iceberg MERGE sinks (K1 upsert transformer.py:2427-2458,
K2 delete :2460-2484, K6 schema evolution :2421-2425) on a classpath
without lakehouse-format jars.

Semantics, matching the reference write path:
- ``merge(source, current_keys)``: one ``MERGE INTO`` and one commit,
  planned as one keyed pass.  Latest-wins dedup of the source batch
  (W1); then the head rows, the batch rows and the ``current_keys``
  rows meet per key in one exchange and every row is classified once
  (``operators/incremental.py:classify_changes``):
  a batch row is an ``insert`` (new key), an ``update_postimage``
  (changed per ``operators/incremental.py:change_predicate``: null-safe
  fingerprint inequality, or a strictly newer ``ts_col``) or a no-op;
  a head row is an ``update_preimage`` (its key changed), a ``delete``
  (J4, ``WHEN NOT MATCHED BY SOURCE DELETE``: its key is in neither
  ``current_keys`` nor the source — a key the source matches is never
  deleted) or carried over.  That one persisted frame is staged as the
  change log (its write also yields the counts), then written back as
  the snapshot: head ∖ (preimages ∪ deletes) ∪ inserts ∪ postimages.
  Idempotent by construction: re-merging the same batch detects zero
  changes and commits nothing (the staged log is discarded).
- ``merge_upsert(source)`` and ``merge_delete(current_keys)``: ``merge``
  with only its upsert (K1) or only its delete (K2) clause.
- Schema evolution: source columns absent from the table are added
  (as nulls on old rows); table columns absent from the source are
  null-filled on new rows — the DataFrame analog of
  ``ALTER TABLE ADD COLUMN`` before MERGE.

Scale notes: on a real deployment this class is swapped for Delta/Iceberg
``MERGE INTO`` (ACID, partition-level conflict detection); the
transformation layer (operators/incremental.py) is shared and format
agnostic.  Writes are partitioned (``partition_by``) so downstream
scans prune; the changed-set filter keeps write amplification
proportional to the changed rows, not the batch size.

The snapshot format and its one commit.  Every snapshot is an immutable
``__v{n}`` directory: data files (hive dirs allowed), ``_manifest.json``
(footer bounds, sinks/manifest.py, and the Spark schemas the snapshot
and its change log read with, so neither read plans a parquet
schema-inference job; a manifest without them is read by inference),
and three sidecars — ``_changes/`` (this commit's change log),
``_tombstones/`` (merge-on-read deleted
keys) and ``_epoch_{id}`` markers (the stream writer's exactly-once
ledger).  The table path is a symlink to the head version.  Only this
module and sinks/manifest.py know that layout; every writer —
``ParquetMergeTable``'s mutators and the Python DataSource batch and
stream writers (sources/pyds.py) — stages only its own new files and
publishes through :func:`publish_snapshot`, Iceberg's one commit
protocol in miniature.  The commit inherits the head's data files (and
read schema) when asked (append and merge-on-read writers; rewrites
start empty and hand over their own schema), copies
the head's ``_epoch_*`` ledger forward on EVERY commit — so the newest
snapshot always holds the whole ledger and ``vacuum``, which keeps the
newest versions, can never erase an epoch's marker — writes the
manifest, and swaps the head symlink with one atomic ``os.replace``:
readers racing a commit see the old or the new snapshot, never a
missing or half-written table.

Isolation contract, stated honestly: SINGLE WRITER PER TABLE (no
writer-writer conflict detection — concurrent commits to one table can
lose one writer's snapshot; Iceberg's optimistic commit protocol is the
real fix).  Concurrent commits to different tables are supported: a
commit touches only its own table's version, staging and link dirs, so
the medallion pipeline commits a batch's Silver tables at the same time
(pipelines/medallion.py).  Readers are snapshot-isolated (a reader
holding a DataFrame over a version dir is unaffected by later swaps
until ``vacuum`` removes that version).
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from tlcn_oer_lakehouse_spark.operators.incremental import (
    UPSERT_TYPES,
    align,
    classify_changes,
    latest_wins,
    next_snapshot,
)
from tlcn_oer_lakehouse_spark.sinks.manifest import (
    Predicate,
    data_files,
    file_entry,
    prune_files,
    read_manifest,
    save_manifest,
)

_EPOCH = "_epoch_"  # exactly-once ledger marker prefix
_CHANGES = "_changes"  # per-commit change log (Delta CDF analog)
_TOMBSTONES = "_tombstones"  # merge-on-read deleted keys


def version_dir(path: str, n: int) -> str:
    return f"{path}__v{n:06d}"


def _version_of(path: str, name: str) -> int | None:
    """The version number ``name`` (a sibling dir name) encodes, if any."""
    base = os.path.basename(path) + "__v"
    tail = name[len(base):]
    return int(tail) if name.startswith(base) and tail.isdigit() else None


def all_version_nums(path: str) -> list[int]:
    parent = os.path.dirname(path) or "."
    if not os.path.isdir(parent):
        return []
    nums = (_version_of(path, name) for name in os.listdir(parent))
    return sorted(n for n in nums if n is not None)


def head_version(path: str) -> int | None:
    """Version number the head symlink points at (None: no table, or a
    legacy plain-dir head)."""
    if not os.path.islink(path):
        return None
    return _version_of(path, os.path.basename(os.readlink(path)))


def require_retained(path: str, versions: list[int]) -> None:
    """Raise if any of ``versions`` was vacuumed: a change feed over the
    range would have silent gaps."""
    retained = set(all_version_nums(path))
    missing = [v for v in versions if v not in retained]
    if missing:
        raise ValueError(
            f"versions {missing} not retained (vacuumed?) — change "
            "feed would have silent gaps"
        )


def staging_dir(path: str) -> str:
    """A fresh staging dir name for one commit to ``path``."""
    return f"{path}__staging_{uuid.uuid4().hex[:8]}"


def changes_dir(snapshot: str) -> str:
    """The commit's change log (Delta CDF analog) inside a snapshot or
    staging dir."""
    return os.path.join(snapshot, _CHANGES)


def tombstone_dir(snapshot: str) -> str:
    """The merge-on-read deleted-key files inside a snapshot dir; the
    ``_`` prefix keeps them out of Spark's file listing."""
    return os.path.join(snapshot, _TOMBSTONES)


def mark_epoch(staging: str, batch_id: int) -> None:
    """Stamp a staged commit with stream epoch ``batch_id``'s marker."""
    open(os.path.join(staging, f"{_EPOCH}{batch_id}"), "w").close()


def epoch_committed(path: str, batch_id: int) -> bool:
    """Whether any retained snapshot of ``path`` holds epoch
    ``batch_id``'s marker."""
    marker = f"{_EPOCH}{batch_id}"
    return any(
        os.path.isfile(os.path.join(version_dir(path, v), marker))
        for v in all_version_nums(path)
    )


def recorded_schema(snapshot: str, key: str = "schema") -> StructType | None:
    """The Spark schema ``snapshot`` reads with, as its commit recorded
    it in ``_manifest.json`` — under ``"changes_schema"`` for its change
    log (None: no manifest, or one written before schemas were recorded;
    such a snapshot or log is read by inference)."""
    manifest = read_manifest(snapshot)
    if manifest is None or key not in manifest:
        return None
    return StructType.fromJson(manifest[key])


def _nullable(dt: DataType) -> DataType:
    """``dt`` as Spark reads it back from the parquet it wrote: every
    field, array element and map value nullable, field metadata kept."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def publish_snapshot(
    path: str,
    staging: str,
    inherit: bool = False,
    schema: StructType | None = None,
    changes_schema: StructType | None = None,
) -> str:
    """THE commit: turn ``staging`` (holding only the writer's new files
    and sidecars) into ``path``'s next immutable version dir.

    1. ``inherit=True`` hardlinks the head's data files into staging at
       the same relative paths (append and merge-on-read writers; a
       rewrite starts from nothing).  Never ``_changes/`` (per commit)
       or ``_tombstones/`` (the writer stages the full key set).
    2. The head's ``_epoch_*`` ledger is copied forward on every commit.
    3. The manifest is written; inherited files reuse the head's entry,
       so footers are read only for new files.  It records the Spark
       schema the snapshot reads with: the head's for ``inherit=True``
       when the head recorded one, else the writer's ``schema``, which
       must be what ``spark.read.parquet`` would infer for the version
       dir (partition columns included).  With neither, none is
       recorded and readers infer.  ``changes_schema``, the read schema
       of the staged ``_changes/`` log, is recorded as given: a log
       belongs to its commit, so nothing of it is inherited.
    4. Staging is renamed to the next version dir and the head symlink
       swapped to it (one atomic ``os.replace``).  Returns the version
       dir."""
    head = os.path.realpath(path)
    known: dict[str, dict] = {}
    if os.path.isdir(head):
        if inherit:
            manifest = read_manifest(head)
            entries = {e["path"]: e for e in manifest["files"]} if manifest else {}
            schema = recorded_schema(head) or schema
            for f in data_files(head):
                rel = os.path.relpath(f, head)
                dst = os.path.join(staging, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(f, dst)
                if rel in entries:
                    known[rel] = entries[rel]
        for name in os.listdir(head):
            if name.startswith(_EPOCH):
                open(os.path.join(staging, name), "w").close()
    save_manifest(staging, [
        known.get(os.path.relpath(f, staging)) or file_entry(staging, f)
        for f in data_files(staging)
    ], schema=None if schema is None else schema.jsonValue(),
        changes_schema=None if changes_schema is None else changes_schema.jsonValue())
    # one-time migration of a legacy plain-dir head to a version dir
    if os.path.isdir(path) and not os.path.islink(path):
        nums = all_version_nums(path)
        os.rename(path, version_dir(path, nums[-1] + 1 if nums else 0))
    nums = all_version_nums(path)
    vdir = version_dir(path, nums[-1] + 1 if nums else 0)
    os.rename(staging, vdir)
    tmp_link = f"{path}__ln_{uuid.uuid4().hex[:8]}"
    os.symlink(os.path.basename(vdir), tmp_link)
    os.replace(tmp_link, path)  # atomic head swap
    return vdir


def _filtered(df: DataFrame, predicates: list[Predicate]) -> DataFrame:
    """Apply conjunctive ``(column, op, value)`` predicates as row filters."""
    for col, op, val in predicates:
        c = F.col(col)
        df = df.filter(
            {"=": c == val, ">=": c >= val, ">": c > val,
             "<=": c <= val, "<": c < val}[op]
        )
    return df


class ParquetMergeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        fingerprint_col: str = "record_fingerprint",
        ts_col: str | None = None,
        partition_by: tuple[str, ...] = (),
        cluster_by: tuple[str, ...] = (),
        cluster_files: int = 8,
        zorder: bool = False,
        partition_transforms: dict[str, tuple] | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key = key
        self.fingerprint_col = fingerprint_col
        self.ts_col = ts_col
        self.partition_by = tuple(partition_by)
        # Iceberg sort-order analog: range-cluster each snapshot on these
        # columns so per-file min/max bounds are disjoint and the manifest
        # pruner (sinks/manifest.py) can skip files on range predicates.
        self.cluster_by = tuple(cluster_by)
        self.cluster_files = cluster_files
        # zorder=True interleaves the cluster_by dims into a Morton key
        # (multi-dim data skipping); False range-clusters on them in order
        self.zorder = zorder
        # hidden partition transforms (sinks/partitioning.py): derived
        # values exist only as hive dirs — added before every write,
        # stripped from every read, and source-column predicates map to
        # them automatically in scan()
        self.partition_transforms = dict(partition_transforms or {})
        self.partition_by = tuple(self.partition_transforms) + self.partition_by

    # -- state ------------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.path) and bool(data_files(self.path))

    def read(self) -> DataFrame:
        # pin the scan to the RESOLVED version dir, not the symlink: a
        # plan holding symlink-routed file paths would break when a
        # concurrent merge swaps the head, while version-dir paths stay
        # valid until vacuum drops that version — this is what makes
        # readers snapshot-isolated (see module docstring).
        return self._read_snapshot_dir(os.path.realpath(self.path))

    def _read_snapshot_dir(
        self, snap: str, files: list[str] | None = None
    ) -> DataFrame:
        """Read one immutable snapshot dir (or just its data ``files``)
        with its recorded schema, so planning opens no parquet footer:
        strip hidden partition columns and apply merge-on-read tombstones
        (both pinned to this snapshot — later head swaps don't affect the
        plan)."""
        # basePath keeps hive-style partition columns resolvable when
        # reading an explicit file subset
        reader = self.spark.read.option("basePath", snap)
        schema = recorded_schema(snap)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(*(files or [snap]))
        if self.partition_transforms:
            df = df.drop(*self.partition_transforms)
        tomb = tombstone_dir(snap)
        if os.path.isdir(tomb):
            df = df.join(
                self.spark.read.parquet(tomb), self.key, "left_anti"
            )
        return df

    def pruned_files(self, predicates: list[Predicate]) -> list[str] | None:
        """Data files of the head snapshot that may match ``predicates``
        per the manifest bounds (None → no manifest; full scan).
        Source-column predicates additionally prune via the hidden
        partition transforms (Iceberg-style: the caller never names the
        derived column)."""
        if self.partition_transforms:
            from tlcn_oer_lakehouse_spark.sinks.partitioning import (
                mapped_predicates,
            )

            predicates = list(predicates) + mapped_predicates(
                predicates, self.partition_transforms
            )
        return prune_files(os.path.realpath(self.path), predicates)

    def scan(self, predicates: list[Predicate]) -> DataFrame:
        """Manifest-pruned read: plan the scan over only the files whose
        [min, max] bounds can satisfy the (conjunctive) predicates, then
        apply the predicates as real row filters.  Semantically identical
        to ``read().filter(...)``; the manifest just shrinks the file
        list before Spark ever lists or opens them — the plain-parquet
        analog of Iceberg manifest pruning."""
        snap = os.path.realpath(self.path)
        files = self.pruned_files(predicates)
        df = self._read_snapshot_dir(snap, files)
        if files == []:
            df = df.limit(0)
        return _filtered(df, predicates)

    # -- writes -----------------------------------------------------------

    def versions(self) -> list[int]:
        """Retained (non-head) snapshot version numbers, oldest first."""
        head = head_version(self.path)
        return [v for v in all_version_nums(self.path) if v != head]

    def _write_snapshot(self, df: DataFrame, changes: DataFrame | None = None) -> None:
        """Copy-on-write commit: write ``df`` as the whole new snapshot
        and publish it (``publish_snapshot``, nothing inherited).  The
        displaced snapshot stays retained (the Iceberg snapshot-log
        analog enabling time travel/rollback).

        ``changes`` (table columns + ``_change_type``) is the commit's
        change log, staged next to the data so it publishes atomically
        with the snapshot — change capture at write time costs O(changed
        rows), which is why ``read_changes`` never has to diff snapshots
        (the O(table) trap).  ``None`` records an empty log
        (physical-only rewrites like ``compact``)."""
        staging = staging_dir(self.path)
        if changes is not None:
            changes.write.parquet(changes_dir(staging))
        self._publish(df, staging, changes)

    def _publish(self, df: DataFrame, staging: str, log: DataFrame | None) -> None:
        """Write ``df`` as the snapshot's data files into ``staging``
        (which may already hold the commit's change log, the rows of
        ``log``) and publish it with the read schemas of both."""
        if self.partition_transforms:
            from tlcn_oer_lakehouse_spark.sinks.partitioning import (
                transform_column,
            )

            df = df.select(
                "*",
                *[
                    transform_column(spec).alias(name)
                    for name, spec in self.partition_transforms.items()
                ],
            )
        if self.cluster_by:
            if self.zorder and len(self.cluster_by) > 1:
                from tlcn_oer_lakehouse_spark.sinks.manifest import with_zvalue

                df = (
                    with_zvalue(df, list(self.cluster_by))
                    .repartitionByRange(self.cluster_files, F.col("__z"))
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                df = df.repartitionByRange(
                    self.cluster_files, *[F.col(c) for c in self.cluster_by]
                ).sortWithinPartitions(*self.cluster_by)
        # append: staging may already hold the change log
        writer = df.write.mode("append")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(staging)
        # the data schema as written plus Spark's own partition-column
        # inference from the staged dirs: a file listing, no job — and
        # exactly what inference over the version dir returns
        data = StructType(
            [f for f in df.schema.fields if f.name not in self.partition_by]
        )
        schema = self.spark.read.schema(data).parquet(staging).schema
        publish_snapshot(
            self.path, staging, schema=schema,
            changes_schema=None if log is None else _nullable(log.schema),
        )

    # -- time travel -------------------------------------------------------

    def read_version(self, version: int) -> DataFrame:
        """Read a retained historical snapshot (Iceberg
        ``VERSION AS OF`` analog)."""
        d = version_dir(self.path, version)
        if not os.path.isdir(d):
            raise ValueError(f"version {version} not retained for {self.path}")
        return self._read_snapshot_dir(d)

    def detail(self) -> dict:
        """Table introspection (Delta ``DESCRIBE DETAIL`` analog): head
        version, file/row/byte counts (from the footer-stats manifest —
        no data scan), layout declarations, MOR tombstone debt, and
        retained-version count.  Metadata-only: one manifest JSON read
        plus directory stats."""
        snap = os.path.realpath(self.path)
        manifest = read_manifest(snap) if self.exists() else None
        files = manifest["files"] if manifest else []
        tomb = tombstone_dir(snap)
        n_tomb_files = (
            len([f for f in os.listdir(tomb) if f.endswith(".parquet")])
            if os.path.isdir(tomb) else 0
        )
        total_bytes = sum(
            os.path.getsize(os.path.join(snap, e["path"])) for e in files
        )
        return {
            "path": self.path,
            "head_version": head_version(self.path),
            "n_data_files": len(files),
            "n_rows": sum(e["rows"] for e in files),
            "total_bytes": total_bytes,
            "partition_by": list(self.partition_by),
            "cluster_by": list(self.cluster_by),
            "zorder": self.zorder,
            "hidden_transforms": list(self.partition_transforms),
            "n_tombstone_files": n_tomb_files,
            "retained_versions": len(self.versions()),  # non-head history
            "has_change_feed": os.path.isdir(changes_dir(snap)),
        }

    def history(self) -> list[dict]:
        """Snapshot log: retained versions plus the current head."""
        entries = [
            {"version": v, "path": version_dir(self.path, v), "is_current": False}
            for v in self.versions()
        ]
        if self.exists():
            head = head_version(self.path)
            if head is None:  # legacy plain-dir head
                head = (self.versions()[-1] + 1) if entries else 0
            entries.append({"version": head, "path": self.path, "is_current": True})
        return entries

    def read_changes(
        self, since_version: int, end_version: int | None = None
    ) -> DataFrame:
        """Change data feed (Delta CDF / Iceberg changelog analog): the
        row-level changes committed AFTER ``since_version`` up to and
        including ``end_version`` (default: current head).  Rows carry
        the table columns plus ``_change_type`` ∈ {insert, delete,
        update_preimage, update_postimage} and ``_commit_version``.

        This is what makes downstream incremental: a consumer remembers
        the last version it processed and folds only the delta into its
        derived state (the reference approximates this with full-table
        fingerprint anti-joins — Q7 index diff, elasticsearch_sync.py:
        343-395).  Cost is O(changed rows in range): logs are captured at
        write time by each mutator, never reconstructed by diffing
        snapshots.  Versions vacuumed out of retention raise — a silent
        gap would corrupt every downstream fold."""
        head = head_version(self.path)
        if head is None and self.exists():
            raise ValueError("legacy plain-dir table has no change feed")
        end = head if end_version is None else end_version
        if end is None or end <= since_version:
            raise ValueError(f"empty version range ({since_version}, {end}]")
        want = list(range(since_version + 1, end + 1))
        require_retained(self.path, want)
        # more root paths than this in one read start a parallel-listing job
        step = int(self.spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold"))
        out: DataFrame | None = None
        for v in want:
            snap = version_dir(self.path, v)
            files = data_files(changes_dir(snap))
            # (no files: physical-only commit (compact), pre-CDF or no rows)
            # the log's files, not its ``_``-prefixed dir (which Spark
            # counts as hidden), read with the schema the commit recorded
            reader = self.spark.read
            schema = recorded_schema(snap, "changes_schema")
            if schema is not None:
                reader = reader.schema(schema)
            for i in range(0, len(files), step):
                part = reader.parquet(*files[i:i + step]).withColumn(
                    "_commit_version", F.lit(v)
                )
                out = part if out is None else out.unionByName(
                    part, allowMissingColumns=True
                )
        if out is None:
            # range held only physical-only commits: empty feed with the
            # table's schema + CDF columns
            empty = self.read().limit(0)
            return empty.withColumn("_change_type", F.lit("")).withColumn(
                "_commit_version", F.lit(0)
            )
        return out

    def rollback(self, version: int) -> None:
        """Restore a historical snapshot as the new head (Iceberg
        ``rollback_to_snapshot`` analog).  The displaced head is itself
        retained, so a rollback is undoable."""
        d = version_dir(self.path, version)
        if not os.path.isdir(d):
            raise ValueError(f"version {version} not retained for {self.path}")
        # the version dir itself is untouched by the head swap, so the
        # lazy scan stays valid while the staging write runs; reading
        # through _read_snapshot_dir keeps that version's tombstones
        # applied (the restored head materializes them copy-on-write)
        restored = self._read_snapshot_dir(d)
        # RESTORE is the one CDF producer that must diff (the restored
        # state was not derived from the current head), so its change log
        # costs one keyed full-outer join over the table — the same price
        # Delta pays for RESTORE with CDF enabled.
        changes = None
        if self.exists():
            cur = align(
                self.read(), list(restored.columns),
                {f.name: f.dataType for f in restored.schema.fields},
            )
            n, o = restored.alias("n"), cur.alias("o")
            j = n.join(
                o, F.col(f"n.{self.key}") == F.col(f"o.{self.key}"), "full_outer"
            )
            cols = list(restored.columns)
            n_rows = [F.col(f"n.{c}").alias(c) for c in cols]
            o_rows = [F.col(f"o.{c}").alias(c) for c in cols]
            n_struct = F.struct(*[F.col(f"n.{c}") for c in cols])
            o_struct = F.struct(*[F.col(f"o.{c}") for c in cols])
            changes = (
                j.filter(F.col(f"o.{self.key}").isNull())
                .select(*n_rows)
                .withColumn("_change_type", F.lit("insert"))
                .unionByName(
                    j.filter(F.col(f"n.{self.key}").isNull())
                    .select(*o_rows)
                    .withColumn("_change_type", F.lit("delete"))
                )
                .unionByName(
                    j.filter(
                        F.col(f"n.{self.key}").isNotNull()
                        & F.col(f"o.{self.key}").isNotNull()
                        & ~n_struct.eqNullSafe(o_struct)
                    )
                    .select(*o_rows)
                    .withColumn("_change_type", F.lit("update_preimage"))
                )
                .unionByName(
                    j.filter(
                        F.col(f"n.{self.key}").isNotNull()
                        & F.col(f"o.{self.key}").isNotNull()
                        & ~n_struct.eqNullSafe(o_struct)
                    )
                    .select(*n_rows)
                    .withColumn("_change_type", F.lit("update_postimage"))
                )
            )
        self._write_snapshot(restored, changes=changes)

    def vacuum(self, keep_last: int = 2) -> int:
        """Drop all but the newest ``keep_last`` retained versions.
        Returns the number of snapshot dirs removed."""
        vs = self.versions()
        drop = vs[:-keep_last] if keep_last > 0 else vs
        for v in drop:
            shutil.rmtree(version_dir(self.path, v))
        return len(drop)

    def create(self, df: DataFrame) -> None:
        initial = latest_wins(df, self.key, self._order_cols(df))
        self._write_snapshot(
            initial, changes=initial.withColumn("_change_type", F.lit("insert"))
        )

    def _order_cols(self, df: DataFrame) -> list[str]:
        return [self.ts_col] if self.ts_col and self.ts_col in df.columns else [self.key]

    def merge(
        self,
        source: DataFrame | None = None,
        current_keys: DataFrame | None = None,
    ) -> tuple[int, int]:
        """One ``MERGE INTO`` statement, one commit: WHEN MATCHED (and
        changed) UPDATE / WHEN NOT MATCHED INSERT for ``source``, and WHEN
        NOT MATCHED BY SOURCE DELETE for head keys absent from
        ``current_keys`` (the reference's stale-row cleanup).  A key the
        source matches is never deleted, changed or not.  Returns
        ``(upserted, deleted)``; ``(0, 0)`` means no write happened.

        One keyed pass: the head rows, the latest-wins batch rows and
        the ``current_keys`` rows meet per key in one window (one
        exchange), where :func:`classify_changes` classifies every head
        and batch row once: carried over (``_change_type`` null),
        ``insert``, ``update_postimage``, ``update_preimage`` or
        ``delete``.  That persisted frame is all the commit reads: the
        change log is staged first and the counts
        are observed on its write, then the snapshot is written from the
        same cache, so the head is scanned once."""
        exists = self.exists()
        if source is None and (current_keys is None or not exists):
            return 0, 0
        head = self.read() if exists else None
        batch = (
            None if source is None
            else latest_wins(source, self.key, self._order_cols(source))
        )
        classified = classify_changes(
            head, batch, self.key, self.fingerprint_col, self.ts_col, current_keys
        ).persist()
        ct = F.col("_change_type")
        upsert = ct.isin(*UPSERT_TYPES)
        counts = Observation()
        staging = staging_dir(self.path)
        try:
            log = classified.filter(ct.isNotNull())
            log.observe(
                counts,
                F.count(F.when(upsert, 1)).alias("upserted"),
                F.count(F.when(ct == "delete", 1)).alias("deleted"),
            ).write.parquet(changes_dir(staging))
            upserted, deleted = counts.get["upserted"], counts.get["deleted"]
            columns = classified.drop("_change_type").columns
            if upserted == deleted == 0 and head is not None and columns == head.columns:
                shutil.rmtree(staging)
                return 0, 0
            self._publish(next_snapshot(classified), staging, log)
            return upserted, deleted
        finally:
            classified.unpersist()

    def merge_upsert(self, source: DataFrame) -> int:
        """MERGE WHEN MATCHED UPDATE / NOT MATCHED INSERT: :meth:`merge`
        without a delete clause.  Returns the number of upserted rows."""
        return self.merge(source)[0]

    def merge_delete(self, current_keys: DataFrame) -> int:
        """MERGE WHEN NOT MATCHED BY SOURCE DELETE for keys absent from
        ``current_keys``: :meth:`merge` without a source."""
        return self.merge(current_keys=current_keys)[1]

    def compact(self, target_files_per_partition: int = 1) -> int:
        """Small-file compaction (the OPTIMIZE analog): rewrite the
        snapshot with ``target_files_per_partition`` files per table
        partition.  Incremental MERGEs accrete files; without periodic
        compaction scan task counts grow unboundedly at 100 TB.  Returns
        the number of data files after compaction."""
        if not self.exists():
            return 0
        df = self.read()
        if self.partition_by:
            df = df.repartition(
                target_files_per_partition, *[F.col(c) for c in self.partition_by]
            )
        else:
            df = df.coalesce(target_files_per_partition)
        self._write_snapshot(df)
        return len(data_files(self.path))

    def delete_where_mor(self, predicates: list[Predicate]) -> int:
        """Merge-on-read delete (Iceberg v2 delete-file analog): the new
        snapshot inherits the current data files (``publish_snapshot``
        with ``inherit=True`` hardlinks them) — no data rewrite, so
        deleting 100 rows from a 100 TB table costs one key-file write —
        and stages the matching keys in a ``_tombstones/`` parquet that
        every reader anti-joins.  Copy-on-write paths (``merge``,
        ``compact``, ``rollback``) read through the tombstones and drop
        them in their rewritten snapshot, so tombstone debt never
        outlives the next rewrite.  Returns the number of newly
        tombstoned keys."""
        if not self.exists():
            return 0
        snap = os.path.realpath(self.path)
        doomed = _filtered(self._read_snapshot_dir(snap), predicates)
        new_keys = doomed.select(self.key).distinct().persist()
        n_new = new_keys.count()
        if n_new == 0:
            new_keys.unpersist()
            return 0
        tomb_src = tombstone_dir(snap)
        if os.path.isdir(tomb_src):
            all_keys = (
                self.spark.read.parquet(tomb_src)
                .unionByName(new_keys)
                .distinct()
            )
        else:
            all_keys = new_keys
        staging = staging_dir(self.path)
        all_keys.write.mode("overwrite").parquet(tombstone_dir(staging))
        log = doomed.withColumn("_change_type", F.lit("delete"))
        log.write.mode("overwrite").parquet(changes_dir(staging))
        new_keys.unpersist()
        # inherited files keep their manifest entries: a tombstone only
        # removes rows, never widens a file's range
        publish_snapshot(self.path, staging, inherit=True,
                         changes_schema=_nullable(log.schema))
        return n_new


# ---------------------------------------------------------------------------
# SQL MERGE surface
# ---------------------------------------------------------------------------


def merge_into_sql(
    target_table: str, source_view: str, key: str, columns: list[str]
) -> str:
    """The ANSI ``MERGE INTO`` statement equivalent to
    :meth:`ParquetMergeTable.merge_upsert` — the statement a
    Delta/Iceberg-backed deployment runs verbatim
    (transformer.py:2427-2458 runs exactly this against Iceberg)."""
    sets = ", ".join(f"t.{c} = s.{c}" for c in columns if c != key)
    cols = ", ".join(columns)
    vals = ", ".join(f"s.{c}" for c in columns)
    return (
        f"MERGE INTO {target_table} t USING {source_view} s ON t.{key} = s.{key} "
        f"WHEN MATCHED THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})"
    )


def sql_merge_upsert(
    spark: SparkSession,
    target_table: str,
    source: DataFrame,
    key: str,
    ts_col: str | None = None,
) -> str:
    """Run the upsert as one native ``MERGE INTO`` against a catalog
    table whose format supports it (Delta/Iceberg v2 tables), after the
    same latest-wins dedup of ``source``.  Spark's error is raised for a
    table that cannot ``MERGE INTO`` (a v1 parquet catalog table); the
    engine's own tables merge through :class:`ParquetMergeTable`.
    Returns ``'merge_into'``."""
    batch = latest_wins(source, key, [ts_col] if ts_col else [key])
    batch.createOrReplaceTempView("__merge_src")
    columns = spark.table(target_table).columns
    spark.sql(merge_into_sql(target_table, "__merge_src", key, columns))
    return "merge_into"
