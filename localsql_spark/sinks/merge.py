"""Batch MERGE/upsert into a partitioned parquet table.

The reference has no persistence at all — a table's lifetime is the process
(reference: localsql/localsql.py:31) and its only write path exports the
last result.  A real training-data pipeline re-ingests corrections daily,
so this module adds the batch twin of ``streaming/foreach_upsert.py``:
merge an updates DataFrame into a hive-partitioned parquet table, keeping
the latest version per key, rewriting ONLY the partitions the updates
touch.

Scale design (the whole point vs. a naive full-table rewrite):

- The touched-partition list is the only thing collected to the driver —
  bounded by the number of distinct partition values in the batch, never by
  row count.
- The base read is filtered to touched partitions, so partition pruning
  keeps the job proportional to the update footprint, not the table size
  (a daily correction batch touching 3 of 10,000 date partitions reads 3).
- Conflict resolution is one latest-version-per-key window INSIDE each
  partition's data — the shuffle key is the merge key, and rows never cross
  partitions (see the stable-partition contract below).
- The write stages every merged partition in a scratch directory, then
  commits via a WRITE-AHEAD MANIFEST: once staging is complete, a one-line
  JSON manifest naming the staged partitions is renamed into place — that
  single rename is the commit point.  Before it, the base table is fully
  intact (a crash discards staging).  After it, the partition-directory
  swaps are guaranteed to complete: they are idempotent, and both
  :func:`recover_pending_merge` and the next merge replay any manifest
  they find before doing anything else.  A reader that opens the table in
  the (short) window between manifest commit and final swap can still see
  mixed partitions — closing that last gap needs a real transactional
  table format (Delta/Iceberg), where the manifest IS the table metadata;
  the rest of this shape is unchanged there.

Contract: the partition value of a key must be stable across versions
(partition by a key-derived or immutable attribute — lang, ingest date of
first arrival, hash bucket).  If an update could move a key between
partitions, the stale row in the old partition would survive; this is the
standard constraint for partition-keyed upserts outside transactional
table formats, and ``merge_into_partitioned`` raises if it detects a
violation among the keys it can see (same batch carrying two partition
values for one key).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localsql_spark.streaming.foreach_upsert import merge_upsert

# partition values that hive path-encode as themselves (no %-escaping):
# safe to turn into literal partition-directory names for pruned listing
_SAFE_PART = re.compile(r"^[A-Za-z0-9._-]+$")


def read_base_partitions(spark: SparkSession, base_dir: str,
                         partition_col: str, values: list,
                         mode: str = "read") -> DataFrame | None:
    """Read only the named partitions of a hive-partitioned parquet table
    (None if the table doesn't exist yet — or if none of the named
    partitions do, which callers already treat identically: fold against
    nothing).  The isin filter reaches the scan as a partition filter —
    touched-partition I/O only.

    ``mode`` is the schema-evolution reconcile mode and MUST be
    ``"write"`` for any read that feeds a partition REWRITE (merge,
    erase, compaction): mode='read' coalesces declared read-defaults
    into the frame, and a rewrite would BAKE those defaults into the
    carried base rows' bytes — silently converting a post-evolution
    explicit NULL into the default on disk, contradicting the registry
    contract that stored bytes stay canonical and a later default
    change applies retroactively (advisor r12).  Pure-read consumers
    keep the default ``"read"``."""
    from localsql_spark.sinks.schema_evolution import (evolved_read_schema,
                                                       read_registry,
                                                       reconcile_frame,
                                                       registered_partition)

    base = Path(base_dir)
    # "table doesn't exist" includes an EMPTIED table: a store whose every
    # partition was tombstoned/erased/retracted leaves base_dir present but
    # holding no parquet part files, and spark.read.parquet on it raises
    # 'Unable to infer schema' — treat it as empty, same as absent
    # (any() short-circuits at the first part file, no full listing)
    if not base.exists() or not any(base.rglob("*.parquet")):
        return None
    # schema-registered store (sinks/schema_evolution.py): conform every
    # file vintage to the registry's current contract — partitions
    # written before an evolution read back with nulls/read-defaults in
    # the added columns.  When the registry recorded the partition
    # column (init_schema's partition=), the scan gets the EXPLICIT
    # evolved schema — O(1) metadata, no footer sweep; otherwise fall
    # back to a footer-merge read over the (already pruned) paths.
    # Registry absence = the pre-evolution fast path, bit-unchanged.
    evolved = read_registry(base_dir) is not None
    part = registered_partition(base_dir) if evolved else None
    explicit = (evolved_read_schema(base_dir, extra={part[0]: part[1]})
                if part is not None and part[0] == partition_col else None)

    def _reader():
        r = spark.read.option("basePath", base_dir)
        if explicit is not None:
            return r.schema(explicit)
        return r.option("mergeSchema", str(evolved).lower())

    def _finish(df: DataFrame) -> DataFrame:
        return reconcile_frame(df, base_dir, keep_extra=[partition_col],
                               mode=mode) if evolved \
            else df
    # DRIVER-SIDE listing must track the request too: reading base_dir
    # whole makes Spark's file index list EVERY partition dir before the
    # filter prunes them — O(store files) planning that turned the
    # fixed-request erase probe super-linear at 16x store growth.  When
    # every requested value path-encodes trivially (the int bucket keys
    # every fold uses; dates too), list ONLY the named dirs.  Values that
    # could hive-escape (None, strings with specials) fall back to the
    # full read + filter, which is always correct.
    # the fast path is gated on TYPE as well as the regex (advisor r10):
    # str(value) only matches Spark's hive encoding for ints and plain
    # strings — e.g. a bool stringifies as 'True' but Spark writes
    # 'kb=true', so a regex-passing non-int/str value would list a dir
    # that does not exist and wrongly return None.  bool is excluded
    # explicitly (it IS an int subclass); anything else falls back to
    # the always-correct full read + filter.
    vals = [str(v) for v in values]
    if all(isinstance(v, (int, str)) and not isinstance(v, bool)
           for v in values) \
            and all(_SAFE_PART.match(s) for s in vals):
        # a dir must hold at least one part file: an interrupted rmtree
        # can leave an empty partition dir, and parquet-reading it raises
        # 'Unable to infer schema' where the old full-dir read shrugged
        present = [str(d) for d in
                   (base / f"{partition_col}={s}" for s in vals)
                   if d.is_dir() and any(d.glob("*.parquet"))]
        if not present:
            return None
        df = _reader().parquet(*present)
        return _finish(df.filter(F.col(partition_col).isin(values)))
    df = _reader().parquet(base_dir)
    return _finish(df.filter(F.col(partition_col).isin(values)))


def merge_into_partitioned(spark: SparkSession, base_dir: str,
                           updates: DataFrame, *, key: str, version: str,
                           partition_col: str,
                           op_col: str | None = None) -> list:
    """MERGE ``updates`` into the partitioned parquet table at ``base_dir``
    (latest ``version`` per ``key`` wins; new keys insert).  Returns the
    list of partition values that were rewritten.

    Ties on (key, version) resolve by a deterministic full-row hash (same
    rule as the streaming upsert sink), so re-running the same batch is
    idempotent.

    Single-writer: holds the store's maintenance lock for the duration
    (shared with compact/expire/erase and the composed passes, which
    re-enter it) — a concurrent writer raises
    :class:`~localsql_spark.sinks.locks.MaintenanceBusy` instead of
    clobbering the shared staging dir.
    """
    from localsql_spark.sinks.locks import store_lock
    with store_lock(base_dir):
        return _merge_locked(spark, base_dir, updates, key=key,
                             version=version, partition_col=partition_col,
                             op_col=op_col)


def _merge_locked(spark: SparkSession, base_dir: str, updates: DataFrame,
                  *, key: str, version: str, partition_col: str,
                  op_col: str | None = None) -> list:
    # 0. a manifest left by a crashed predecessor must be replayed BEFORE
    #    this merge reads anything — its staged partitions are the durable
    #    table state (spark.read infers the base schema eagerly in step 2)
    recover_pending_merge(base_dir)
    # schema-registered store: conform the batch to the current contract
    # — pads columns an old producer doesn't send yet (null/default),
    # REJECTS columns the registry doesn't know (evolve_schema first,
    # then ingest), and makes the union against reconciled base rows
    # well-formed across the evolution boundary
    from localsql_spark.sinks.schema_evolution import (read_registry,
                                                       reconcile_frame)
    if read_registry(base_dir) is not None:
        updates = reconcile_frame(
            updates, base_dir,
            keep_extra=[partition_col] + ([op_col] if op_col else []),
            mode="write")
    # 1. touched partitions + both batch checks in ONE aggregate query, so
    #    ``updates`` is computed once (a probe per check re-ran its whole
    #    plan): per key, the distinct partition count, whether a NULL
    #    partition value occurs and the key's partition set; then one
    #    global row over those.  The driver only sees the batch's
    #    partition fan-out.
    per_key = updates.groupBy(key).agg(
        F.countDistinct(partition_col).alias("np"),
        F.max(F.col(partition_col).isNull()).alias("has_null"),
        F.collect_set(partition_col).alias("ps"))
    probe = per_key.agg(
        F.max("np").alias("np"), F.max("has_null").alias("has_null"),
        F.array_distinct(F.flatten(F.collect_list("ps"))).alias("parts")
    ).collect()[0]
    if probe["has_null"] is None:  # empty batch
        return []
    # NULL partition values are rejected up front: the isin() base-read
    # filter below can never match NULL, so a NULL-keyed update would stage
    # a __HIVE_DEFAULT_PARTITION__ directory holding ONLY the update rows
    # and the swap would silently drop the base rows of that partition.
    if probe["has_null"]:
        raise ValueError(
            f"updates carry NULL {partition_col!r} values — NULL partitions "
            f"cannot be merged safely (isin-based partition pruning skips "
            f"them); filter or backfill the partition column first")
    # stable-partition contract: one partition value per key in the batch
    if probe["np"] > 1:
        raise ValueError(
            f"updates carry multiple {partition_col!r} values for one "
            f"{key!r} — partition value must be stable per key")
    parts = list(probe["parts"])

    # 2. prune the base read to touched partitions — mode='write': this
    #    frame's carried rows are REWRITTEN into the staged partitions,
    #    so read-defaults must not be baked into their bytes
    existing = read_base_partitions(spark, base_dir, partition_col, parts,
                                    mode="write")

    # 3. latest-version-per-key resolution (shared with the streaming
    #    sink); op_col enables tombstones — a winning 'delete' removes
    #    its key from the touched partition
    merged = merge_upsert(existing, updates, key=key, version=version,
                          op_col=op_col)

    # 4. stage the merged partitions, commit the manifest (the atomic
    #    point), then apply the idempotent partition swaps
    base = Path(base_dir)
    staging = base.parent / f".{base.name}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    # cluster on the partition key first: without it every merge task
    # writes a sliver into every touched partition and files-per-
    # partition compounds with writer parallelism across folds
    # explicit width = touched-partition fan-out (AQE would coalesce
    # the bare repartition(col) to one task writing every partition dir
    # sequentially; N is exempt and the clustered layout is unchanged)
    (merged.repartition(max(1, len(parts)), F.col(partition_col))
     .write.mode("overwrite").partitionBy(partition_col)
     .parquet(str(staging)))
    # a touched partition whose every row was tombstoned writes no staged
    # dir (Spark emits nothing for an empty partition); it is committed as
    # an explicit REMOVAL in the manifest, named by Spark's OWN hive
    # partition-path encoding (escaped ':'/'='/etc., 'true' not 'True') —
    # a Python-formatted f"{col}={value}" dir name would miss the on-disk
    # dir for any value Spark escapes, silently keeping tombstoned rows.
    # The encoding job only runs on the rare fully-tombstoned path.
    pnames = sorted(p.name for p in staging.glob(f"{partition_col}=*"))
    touched = None
    if len(pnames) < len(parts):
        touched = _spark_partition_dir_names(spark, updates, partition_col,
                                             parts)
    commit_staged_partitions(base_dir, partition_col, touched)
    return parts


def _spark_partition_dir_names(spark: SparkSession, updates: DataFrame,
                               partition_col: str,
                               values: list) -> list[str]:
    """Spark's own hive partition-path encoding for the given values,
    obtained by letting Spark WRITE them (one dummy-payload row per value
    into a scratch dir, read the dir names back) rather than
    re-implementing escapePathName in Python.  Faithful by construction —
    escaping rules ('%3A' for ':', 'true' not 'True', timestamp
    formatting) can never drift from what the real staged write produces.
    Cost: one tiny driver-triggered job bounded by the touched-partition
    fan-out, and it only runs on the rare fully-tombstoned-partition
    path."""
    import tempfile

    from pyspark.sql.types import StructField, StructType

    dtype = updates.schema[partition_col].dataType
    schema = StructType([StructField(partition_col, dtype)])
    scratch = Path(tempfile.mkdtemp(prefix=".partnames-"))
    try:
        enc = scratch / "enc"
        (spark.createDataFrame([(v,) for v in values], schema)
         .withColumn("__x", F.lit(0))
         .coalesce(1)
         .write.mode("overwrite").partitionBy(partition_col)
         .parquet(str(enc)))
        return [p.name for p in enc.glob(f"{partition_col}=*")]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _manifest_path(base: Path) -> Path:
    return base.parent / f".{base.name}.commit.json"


def commit_staged_partitions(base_dir: str, partition_col: str,
                             touched_names: list[str] | None = None,
                             marker: str | None = None) -> list[str]:
    """Shared manifest-commit tail for every partition-swap fold (merge,
    rollup, IVM, sketch view, inverted index, erase): the caller has
    already written the merged partitions into the conventional staging
    dir (``.<base>.staging`` next to ``base_dir``); this globs the staged
    ``<partition_col>=`` dirs, records ``touched_names`` that got no
    staged dir as explicit removals (the caller passes names in the REAL
    on-disk encoding — int/hex-safe values only; pass None to skip
    removal tracking), writes the manifest (COMMIT POINT — one rename)
    and applies it.  ``marker`` (a file name, created next to
    ``base_dir`` at apply time) rides IN the manifest, so the single
    commit rename also commits an applied-batch marker — a caller whose
    correctness depends on detecting "this delta already folded" across
    a crash (the dim-side IVM twin: its replayed delta is NOT net-zero
    against an unadvanced snapshot) checks the marker instead of
    re-folding.  Centralizing the tail is what keeps the commit details
    (removal semantics, crash replay) from drifting per store.  Returns
    the staged partition names."""
    base = Path(base_dir)
    staging = base.parent / f".{base.name}.staging"
    base.mkdir(parents=True, exist_ok=True)
    pnames = sorted(p.name for p in staging.glob(f"{partition_col}=*"))
    removed = sorted(set(touched_names or []) - set(pnames))
    manifest = _manifest_path(base)
    tmp = manifest.with_suffix(".json.tmp")
    spec = {"staging": staging.name, "partitions": pnames,
            "removed": removed}
    if marker is not None:
        spec["marker"] = marker
    tmp.write_text(json.dumps(spec))
    os.rename(tmp, manifest)  # COMMIT POINT — one rename
    _apply_manifest(base, manifest)
    return pnames


def _apply_manifest(base: Path, manifest: Path) -> None:
    """Replay the committed swap set.  Idempotent at every step: a staged
    partition that is already swapped in is skipped (its staging dir is
    gone), a leftover ``.old`` backup is removed, and re-running after a
    crash at ANY point completes the remaining swaps — which is what makes
    the manifest rename above the real commit point."""
    spec = json.loads(manifest.read_text())
    staging = base.parent / spec["staging"]
    base.mkdir(parents=True, exist_ok=True)
    for pname in spec["partitions"]:
        pdir = staging / pname
        target = base / pname
        old = base / f".{pname}.old"
        if pdir.exists():
            shutil.rmtree(old, ignore_errors=True)
            if target.exists():
                target.rename(old)
            pdir.rename(target)
        # crash between the two renames above leaves old present and
        # target absent on replay — restore from the backup
        elif not target.exists() and old.exists():
            old.rename(target)
        shutil.rmtree(old, ignore_errors=True)
    # partitions the writer emptied entirely (e.g. an IVM retraction that
    # zeroed every group in a bucket) have no staged replacement — they are
    # committed as explicit removals; rmtree is replay-idempotent
    for pname in spec.get("removed", []):
        shutil.rmtree(base / pname, ignore_errors=True)
    # the applied-batch marker lands BEFORE the manifest unlink: a crash
    # between the two leaves the manifest, and the replayed apply
    # re-touches the marker (idempotent) — so marker-present always
    # means manifest-applied
    if spec.get("marker"):
        (base.parent / spec["marker"]).touch()
    manifest.unlink()
    shutil.rmtree(staging, ignore_errors=True)


def recover_pending_merge(base_dir: str) -> bool:
    """Complete a merge whose process died after the manifest commit but
    before all partition swaps landed.  Safe to call any time (no-op
    without a pending manifest); the next :func:`merge_into_partitioned`
    calls it automatically, so a crashed merge heals on the next write —
    run it from a reader first for crash-consistent reads without waiting
    for the next merge.  Returns True if a pending merge was applied."""
    base = Path(base_dir)
    manifest = _manifest_path(base)
    if not manifest.exists():
        return False
    _apply_manifest(base, manifest)
    return True


def compact_partitions(spark: SparkSession, base_dir: str,
                       partition_col: str, max_files: int = 1) -> list:
    """Small-files maintenance for a hive-partitioned store: rewrite every
    partition holding more than ``max_files`` part files down to one file,
    through the same staged-write + manifest-rename commit as the folds —
    crash-safe, readers see old or new bytes, never a mix.

    Store writes cluster on the partition key since round 10, so NEW folds
    leave one file per partition; this operator repairs long-lived stores
    written before that (or by external writers), where per-file open cost
    makes partition-pruned reads scale with accumulated fold count rather
    than data size.  Cost tracks the OVER-LIMIT partitions only: the file
    census is a driver-side directory walk (no Spark job), and only the
    offending partitions are read and rewritten.  Single-writer: holds
    the store's maintenance lock (reentrant under the composed passes).
    Returns the rewritten partition directory names."""
    from localsql_spark.sinks.locks import store_lock
    with store_lock(base_dir):
        return _compact_locked(spark, base_dir, partition_col, max_files)


def _compact_locked(spark: SparkSession, base_dir: str,
                    partition_col: str, max_files: int) -> list:
    recover_pending_merge(base_dir)
    base = Path(base_dir)
    if not base.exists():
        return []
    fat = sorted(
        d.name for d in base.glob(f"{partition_col}=*")
        if d.is_dir() and len(list(d.glob("*.parquet"))) > max_files)
    if not fat:
        return []
    # schema-registered store: the fat partitions may span evolution
    # vintages (external/sliver writers are exactly this operator's
    # target), and a raw read would infer the scan schema from ONE
    # arbitrary file — a pre-evolution file there silently DROPS the
    # evolved columns' data from newer files in the rewrite (advisor
    # r12).  Supply the registry's explicit evolved schema (partition
    # column recorded at init) so every vintage's columns survive; a
    # registered store without the partition record falls back to a
    # footer-merge read over the (already pruned) fat paths.  No
    # reconcile_frame here: compaction must preserve bytes as-is, never
    # coalesce read-defaults into them.
    from localsql_spark.sinks.schema_evolution import (evolved_read_schema,
                                                       read_registry,
                                                       registered_partition)
    reader = spark.read.option("basePath", base_dir)
    if read_registry(base_dir) is not None:
        part = registered_partition(base_dir)
        if part is not None and part[0] == partition_col:
            reader = reader.schema(
                evolved_read_schema(base_dir, extra={part[0]: part[1]}))
        else:
            reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*[str(base / n) for n in fat])
    staging = base.parent / f".{base.name}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    # explicit width: see merge_into_partitioned's staged write
    (df.repartition(max(1, len(fat)), F.col(partition_col))
     .write.mode("overwrite").partitionBy(partition_col)
     .parquet(str(staging)))
    commit_staged_partitions(base_dir, partition_col, fat)
    return fat


def expire_partitions(base_dir: str, partition_col: str, cutoff,
                      *, parse=None) -> list[str]:
    """Retention enforcement on a hive-partitioned store (the
    storage-limitation principle, GDPR Art. 5(1)(e), public law): drop
    WHOLE partitions whose value sorts strictly below ``cutoff``.  This
    is a METADATA-ONLY delete — no partition is read, no row rewritten;
    one driver-side dir listing plus the shared manifest commit — which
    is the reason time-series stores partition on their retention column
    in the first place: at 100 TB, expiring a day costs the same as at
    100 GB.  The expired names commit as explicit manifest removals
    (staging is empty), so a crash mid-delete heals on the next
    read/write via :func:`recover_pending_merge`, and untouched
    partitions are never opened (byte-stable, pinned by test).

    ``cutoff`` and the parsed partition values must be comparable;
    ``parse`` maps the on-disk value string before comparison (default:
    identity — correct for ISO dates and fixed-width strings; pass
    ``int`` for integer partitions, where lexical order diverges).
    Row-level retention inside the boundary partition is deliberately
    out of scope: partition-grained expiry is the cheap contract, and a
    finer cutoff is one :func:`merge_into_partitioned` of the boundary
    partition's survivors.  Idempotent.  Single-writer maintenance step
    — ENFORCED: holds the store's maintenance lock (a concurrent
    merge/compaction raises MaintenanceBusy rather than losing its
    staged partitions when this call clears the shared staging dir;
    the composed passes re-enter the lock).  Returns the removed
    partition names."""
    from localsql_spark.sinks.locks import store_lock
    with store_lock(base_dir):
        return _expire_locked(base_dir, partition_col, cutoff, parse)


def _expire_locked(base_dir: str, partition_col: str, cutoff,
                   parse=None) -> list[str]:
    recover_pending_merge(base_dir)
    base = Path(base_dir)
    if not base.exists():
        return []
    p = parse or (lambda s: s)
    prefix = f"{partition_col}="
    expired = sorted(
        d.name for d in base.glob(f"{prefix}*")
        if d.is_dir() and p(d.name[len(prefix):]) < cutoff)
    if not expired:
        return []
    # nothing is staged: clear any stale pre-commit staging so a crashed
    # earlier fold's leftovers can't be committed as this expiry's writes
    staging = base.parent / f".{base.name}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    commit_staged_partitions(base_dir, partition_col, expired)
    return expired


def change_feed(existing: DataFrame | None, batch: DataFrame, *,
                key: str, version: str,
                op_col: str | None = None) -> DataFrame:
    """The CHANGE DATA FEED a latest-version-per-key merge would emit —
    the producing direction of CDC (the SCD2 store consumes one;
    downstream caches, search indexes and IVM views subscribe to one;
    Delta's Change Data Feed is the table-format incarnation).  For a
    given (existing, batch) pair this returns exactly the APPLIED
    changes, one row per affected key:

      op = 'insert'  — key absent from existing (new-key winner's row)
      op = 'update'  — an incoming row strictly beats the existing
                       version (the stored row changes — at minimum its
                       version column, usually its values too)
      op = 'delete'  — with ``op_col`` set (the tombstone-aware merge),
                       a winning tombstone against an EXISTING key; its
                       new-side value columns are NULL, the old side
                       carries the removed row.  A tombstone for an
                       absent key emits nothing (the merge was a no-op).

    Stale and same-version incoming rows (they lose merge_upsert's
    resolution, so the stored row is untouched) emit NOTHING —
    checkpoint redelivery of an already-applied batch re-sends the same
    versions and produces an EMPTY feed, which is what makes consuming
    it idempotent.

    Output: ``key, op, <value cols prefixed new_>, <value cols prefixed
    old_ (NULL for inserts)>``.

    Scale shape: the batch resolves its own per-key winner first (a
    window over BATCH-sized data), then one key-equi join against
    existing — at 100 TB the existing side is the partition-pruned read
    the merge itself already does, so the feed is a byproduct-priced
    join, not a second table scan.
    """
    from pyspark.sql.window import Window

    cols = [c for c in batch.columns if c not in (key, op_col)]
    # same tie-break hash basis as merge_upsert (sorted column names):
    # the feed's in-batch winner must be the row the merge actually keeps
    w = (Window.partitionBy(key)
         .orderBy(F.col(version).desc(),
                  F.xxhash64(*[F.col(c) for c in sorted(batch.columns)])))
    winner = (batch.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))
    is_tomb = (F.col(op_col) == "delete") if op_col is not None \
        else F.lit(False)
    # a tombstone's new side is NULL except the version — the version
    # stays because the SAME strictly-greater test that applies the
    # merge decides whether the delete applied (stale tombstones lose)
    new_vals = [F.col(c).alias(f"new_{c}") if c == version
                else F.when(~is_tomb, F.col(c)).alias(f"new_{c}")
                for c in cols]
    new_side = winner.select(F.col(key), is_tomb.alias("_tomb"),
                             *new_vals)
    if existing is None:
        return (new_side.filter(~F.col("_tomb"))
                .select(key, F.lit("insert").alias("op"),
                        *[F.col(f"new_{c}") for c in cols],
                        *[F.lit(None).cast(batch.schema[c].dataType)
                          .alias(f"old_{c}") for c in cols]))
    old_side = existing.select(
        F.col(key), *[F.col(c).alias(f"old_{c}") for c in cols])
    j = new_side.join(old_side, key, "left")
    exists = F.col(f"old_{version}").isNotNull()
    wins = F.col(f"new_{version}") > F.col(f"old_{version}")
    return (j.withColumn(
        "op",
        F.when(~exists & ~F.col("_tomb"), "insert")
        .when(exists & F.col("_tomb") & wins, "delete")
        .when(exists & ~F.col("_tomb") & wins, "update"))
            .filter(F.col("op").isNotNull())
            .select(key, "op", *[f"new_{c}" for c in cols],
                    *[f"old_{c}" for c in cols]))
