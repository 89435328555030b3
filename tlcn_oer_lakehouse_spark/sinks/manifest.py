"""File-level min/max statistics manifest — the data-skipping layer.

The reference's production sink is Iceberg, whose manifests record
per-data-file column bounds so the scan planner prunes files before
listing them (transformer.py:2427-2458 relies on this implicitly via the
Iceberg reader).  :class:`~tlcn_oer_lakehouse_spark.sinks.merge.ParquetMergeTable`
emulates the table format on plain parquet; this module adds the
manifest: after each snapshot write, parquet footer statistics (already
computed by the writer — reading them costs one footer fetch per file,
no data scan) are collected into ``_manifest.json`` inside the immutable
version dir, and ``prune_files`` answers "which files can possibly
contain rows matching these predicates".  The manifest also records the
snapshot's Spark read schema (``schema``; the commit's writer supplies
it), so readers plan without a schema-inference job.

Supported predicate ops: ``= >= <= > <`` over int/float/string columns.
A file is kept unless its [min, max] provably excludes the predicate —
missing stats, unsupported types and NULL-only chunks all keep the file
(pruning is an optimization, never a correctness filter; callers re-apply
the predicate on the scanned rows).

Scale note: here the manifest is built driver-side from local footers —
fine for a sandbox table.  At 100 TB the bounds come from the executors'
write-task commit messages (exactly how Iceberg builds manifests during
commit); the JSON layout and pruning logic are unchanged.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

MANIFEST_NAME = "_manifest.json"


def with_zvalue(df, cols: list[str], bits: int = 16, out_col: str = "__z"):
    """Morton (Z-order) key over ``cols`` — the multi-dimension clustering
    upgrade of single-column range clustering (Delta ``OPTIMIZE ZORDER BY``
    / Iceberg z-order sort analog): each column is min-max scaled to
    ``bits`` bits and the bits are interleaved, so files clustered on the
    z-value have tight manifest bounds on EVERY participating column and
    single-column predicates prune ~|files|^(1-1/d).

    The min/max normalization stats are one 1-row aggregate broadcast —
    a second pass over the input, priced into the write (same trade
    Delta's OPTIMIZE makes).  All bit math is JVM-side column algebra.
    """
    from pyspark.sql import functions as F

    stats = df.agg(
        *[F.min(c).alias(f"__mn_{c}") for c in cols],
        *[F.max(c).alias(f"__mx_{c}") for c in cols],
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    max_code = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn = F.col(f"__mn_{c}").cast("double")
        mx = F.col(f"__mx_{c}").cast("double")
        rng = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        code = F.floor((F.col(c).cast("double") - mn) / rng * max_code)
        scaled.append(F.least(code, F.lit(max_code)).cast("long"))
    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, code in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(code, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return with_stats.select(*df.columns, z.alias(out_col))

_SUPPORTED = (int, float, str)

Predicate = tuple[str, str, object]  # (column, op, value)


def _file_bounds(path: str) -> tuple[int, dict[str, list]]:
    """(row_count, {col: [min, max]}) from one parquet footer."""
    md = pq.ParquetFile(path).metadata
    bounds: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if not (isinstance(mn, _SUPPORTED) and isinstance(mx, _SUPPORTED)):
                continue
            name = col.path_in_schema
            if name in bounds:
                bounds[name][0] = min(bounds[name][0], mn)
                bounds[name][1] = max(bounds[name][1], mx)
            else:
                bounds[name] = [mn, mx]
    return md.num_rows, bounds


def data_files(snapshot_dir: str) -> list[str]:
    """Sorted paths of the data files under ``snapshot_dir``.  ``_``- and
    ``.``-prefixed entries at every level (``_tombstones/``, ``_changes/``,
    ``_manifest.json``, checksum files) are sidecars, invisible to
    Spark's file listing — the one visibility rule the manifest, the
    readers and the commit share."""
    out = []
    for root, dirs, files in os.walk(snapshot_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return sorted(out)


def file_entry(snapshot_dir: str, path: str) -> dict:
    """The manifest entry of one data file: footer row count and bounds,
    keyed by its path relative to ``snapshot_dir``."""
    rows, bounds = _file_bounds(path)
    rel = os.path.relpath(path, snapshot_dir)
    # hive-style partition dirs (col=val) become point bounds, so the
    # same pruner does partition pruning and file skipping
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            col, raw = seg.split("=", 1)
            for cast in (int, float, str):
                try:
                    v = cast(raw)
                    break
                except ValueError:
                    continue
            bounds.setdefault(col, [v, v])
    return {"path": rel, "rows": rows, "bounds": bounds}


def save_manifest(
    snapshot_dir: str,
    entries: list[dict],
    schema: dict | None = None,
    changes_schema: dict | None = None,
) -> dict:
    """Persist ``entries`` as ``_manifest.json`` in ``snapshot_dir``
    (tmp file + rename), with the snapshot's Spark read ``schema`` and
    its change log's ``changes_schema`` (each a ``StructType.jsonValue()``)
    when the writer knows them.  Returns the manifest dict."""
    manifest: dict = {"files": entries}
    if schema is not None:
        manifest["schema"] = schema
    if changes_schema is not None:
        manifest["changes_schema"] = changes_schema
    tmp = os.path.join(snapshot_dir, MANIFEST_NAME + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(snapshot_dir, MANIFEST_NAME))
    return manifest


def write_manifest(snapshot_dir: str) -> dict:
    """Manifest from scratch: read the footer of every data file under
    ``snapshot_dir``.  The commit (``merge.py:publish_snapshot``) reads
    footers only for new files and must publish exactly this."""
    return save_manifest(
        snapshot_dir, [file_entry(snapshot_dir, p) for p in data_files(snapshot_dir)]
    )


def read_manifest(snapshot_dir: str) -> dict | None:
    p = os.path.join(snapshot_dir, MANIFEST_NAME)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _may_contain(bounds: dict[str, list], col: str, op: str, val) -> bool:
    if col not in bounds:
        return True  # no stats -> cannot prune
    mn, mx = bounds[col]
    try:
        if op == "=":
            return mn <= val <= mx
        if op == ">=":
            return mx >= val
        if op == ">":
            return mx > val
        if op == "<=":
            return mn <= val
        if op == "<":
            return mn < val
    except TypeError:  # incomparable types -> keep the file
        return True
    raise ValueError(f"unsupported predicate op: {op!r}")


def prune_files(
    snapshot_dir: str, predicates: list[Predicate]
) -> list[str] | None:
    """Absolute paths of data files that may satisfy ALL ``predicates``
    (conjunctive).  ``None`` when no manifest exists (caller falls back
    to the full-directory scan)."""
    manifest = read_manifest(snapshot_dir)
    if manifest is None:
        return None
    keep = []
    for entry in manifest["files"]:
        if all(_may_contain(entry["bounds"], c, op, v) for c, op, v in predicates):
            keep.append(os.path.join(snapshot_dir, entry["path"]))
    return keep
