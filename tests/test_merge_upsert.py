"""Batch MERGE/upsert sink (sinks.merge): latest-version-per-key semantics,
touched-partition-only rewrite, idempotency, stable-partition contract."""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from localsql_spark.sinks.merge import merge_into_partitioned


def _write_base(spark, path):
    base = spark.createDataFrame(
        [(1, "a", "one", 1), (2, "a", "two", 1), (3, "b", "three", 1),
         (4, "c", "four", 1)],
        "k long, p string, txt string, version int")
    base.write.partitionBy("p").parquet(path)


def _snapshot(path):
    """(relative file, mtime_ns) for every data file under a partition."""
    return {(str(f.relative_to(path)), f.stat().st_mtime_ns)
            for f in Path(path).rglob("*.parquet")}


def test_merge_updates_inserts_and_prunes_untouched_partitions(
        spark, tmp_path):
    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    before_b = {e for e in _snapshot(base_dir) if e[0].startswith("p=b")}
    updates = spark.createDataFrame(
        [(1, "a", "one-v2", 2),     # update existing key
         (5, "c", "five", 1)],      # insert new key
        "k long, p string, txt string, version int")

    touched = merge_into_partitioned(spark, base_dir, updates,
                                     key="k", version="version",
                                     partition_col="p")
    assert sorted(touched) == ["a", "c"]
    got = {(r.k, r.p, r.txt, r.version)
           for r in spark.read.parquet(base_dir).collect()}
    assert got == {(1, "a", "one-v2", 2), (2, "a", "two", 1),
                   (3, "b", "three", 1), (4, "c", "four", 1),
                   (5, "c", "five", 1)}
    # the untouched partition's files were never rewritten
    after_b = {e for e in _snapshot(base_dir) if e[0].startswith("p=b")}
    assert after_b == before_b


def test_merge_is_idempotent_on_redelivery(spark, tmp_path):
    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    updates = spark.createDataFrame(
        [(2, "a", "two-v3", 3)], "k long, p string, txt string, version int")
    merge_into_partitioned(spark, base_dir, updates, key="k",
                           version="version", partition_col="p")
    first = sorted((r.k, r.txt, r.version)
                   for r in spark.read.parquet(base_dir).collect())
    merge_into_partitioned(spark, base_dir, updates, key="k",
                           version="version", partition_col="p")
    second = sorted((r.k, r.txt, r.version)
                    for r in spark.read.parquet(base_dir).collect())
    assert first == second
    assert (2, "two-v3", 3) in first


def test_merge_stale_version_never_wins(spark, tmp_path):
    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    newer = spark.createDataFrame(
        [(3, "b", "three-v5", 5)], "k long, p string, txt string, version int")
    merge_into_partitioned(spark, base_dir, newer, key="k",
                           version="version", partition_col="p")
    stale = spark.createDataFrame(
        [(3, "b", "three-v2", 2)], "k long, p string, txt string, version int")
    merge_into_partitioned(spark, base_dir, stale, key="k",
                           version="version", partition_col="p")
    rows = {(r.k, r.txt, r.version)
            for r in spark.read.parquet(base_dir).collect() if r.k == 3}
    assert rows == {(3, "three-v5", 5)}


def test_merge_creates_table_when_base_missing(spark, tmp_path):
    base_dir = str(tmp_path / "fresh")
    updates = spark.createDataFrame(
        [(7, "x", "seven", 1)], "k long, p string, txt string, version int")
    merge_into_partitioned(spark, base_dir, updates, key="k",
                           version="version", partition_col="p")
    assert [(r.k, r.p, r.txt) for r in
            spark.read.parquet(base_dir).collect()] == [(7, "x", "seven")]


def test_merge_rejects_partition_moving_key(spark, tmp_path):
    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    moving = spark.createDataFrame(
        [(1, "a", "x", 2), (1, "b", "y", 3)],
        "k long, p string, txt string, version int")
    with pytest.raises(ValueError, match="stable per key"):
        merge_into_partitioned(spark, base_dir, moving, key="k",
                               version="version", partition_col="p")


def test_merge_rejects_null_partition_values(spark, tmp_path):
    """NULL partition values must be rejected up front: isin-based base-read
    pruning can never match NULL, so a NULL-keyed update would stage a
    __HIVE_DEFAULT_PARTITION__ directory holding only update rows and the
    swap would drop that partition's base rows."""
    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    with_null = spark.createDataFrame(
        [(9, None, "nine", 1)], "k long, p string, txt string, version int")
    with pytest.raises(ValueError, match="NULL"):
        merge_into_partitioned(spark, base_dir, with_null, key="k",
                               version="version", partition_col="p")
    # base untouched
    got = {(r.k, r.p) for r in spark.read.parquet(base_dir).collect()}
    assert got == {(1, "a"), (2, "a"), (3, "b"), (4, "c")}


def test_merge_null_beside_a_value_for_one_key_is_the_null_error(
        spark, tmp_path):
    """countDistinct skips NULL, so a key with one NULL and one 'en' row
    counts one partition value: the NULL check must still fire, and fire
    ahead of the stable-partition check."""
    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    mixed = spark.createDataFrame(
        [(9, None, "nine", 1), (9, "en", "nine", 2)],
        "k long, p string, txt string, version int")
    with pytest.raises(ValueError, match="NULL"):
        merge_into_partitioned(spark, base_dir, mixed, key="k",
                               version="version", partition_col="p")
    got = {(r.k, r.p) for r in spark.read.parquet(base_dir).collect()}
    assert got == {(1, "a"), (2, "a"), (3, "b"), (4, "c")}


def test_merge_empty_batch_touches_nothing(spark, tmp_path):
    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    before = _snapshot(base_dir)
    empty = spark.createDataFrame(
        [], "k long, p string, txt string, version int")
    assert merge_into_partitioned(spark, base_dir, empty, key="k",
                                  version="version", partition_col="p") == []
    assert _snapshot(base_dir) == before


def test_merge_base_read_is_partition_pruned(spark, tmp_path):
    """The base-side scan must carry a PartitionFilters entry on the touched
    values — proportional-to-footprint I/O is the whole point."""
    from localsql_spark.sinks.merge import read_base_partitions

    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    df = read_base_partitions(spark, base_dir, "p", ["a"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "p#" in plan
    assert df.select("p").distinct().collect() == [("a",)] or \
        [r.p for r in df.select("p").distinct().collect()] == ["a"]


def test_merge_final_state_is_batch_order_independent(spark, tmp_path):
    """Version dominance: applying correction batches in ANY order yields
    the same final table (the property that lets a backfill replay out of
    order).  Hypothesis drives random keyed/versioned updates; examples are
    kept small because each runs real Spark jobs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    upd = st.lists(
        st.tuples(st.integers(0, 5),          # key
                  st.sampled_from(["a", "b"]),  # partition (stable per key
                                                # via key % 2 below)
                  st.integers(1, 9)),           # version
        min_size=1, max_size=6)

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(b1=upd, b2=upd)
    def run(b1, b2):
        def mk(rows, tag):
            # partition derived from the key so it can't move between
            # batches; payload encodes (tag, version) so survivors are
            # observable
            return spark.createDataFrame(
                [(k, "a" if k % 2 == 0 else "b", f"{tag}:{v}", v)
                 for k, _, v in rows],
                "k long, p string, txt string, version int")

        import shutil
        import uuid

        def apply_in(order, which):
            d = str(tmp_path / f"tbl_{which}_{uuid.uuid4().hex[:8]}")
            for i, rows in enumerate(order):
                merge_into_partitioned(spark, d, mk(rows, f"b{i}"),
                                       key="k", version="version",
                                       partition_col="p")
            out = {(r.k, r.version)
                   for r in spark.read.parquet(d).collect()}
            shutil.rmtree(d, ignore_errors=True)
            return out

        # compare on (key, surviving version): the winning PAYLOAD may
        # legitimately differ when the same (key, version) appears in both
        # batches (hash tiebreak is deterministic per content, and content
        # encodes the batch tag)
        assert apply_in([b1, b2], "fwd") == apply_in([b2, b1], "rev")

    run()


def _crash_state_after_manifest(spark, tmp_path, stop_after: int):
    """Build the exact on-disk state of a merge that died after the manifest
    commit, with ``stop_after`` partition swaps already applied (0 = none).
    Returns (base_dir, expected rows after recovery)."""
    import json

    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    updates = spark.createDataFrame(
        [(1, "a", "one-v2", 2), (3, "b", "three-v2", 2)],
        "k long, p string, txt string, version int")
    # stage manually: run the real merge into a CLONE, steal its outputs
    clone = str(tmp_path / "clone")
    _write_base(spark, clone)
    merge_into_partitioned(spark, clone, updates, key="k",
                           version="version", partition_col="p")
    base = Path(base_dir)
    staging = base.parent / f".{base.name}.staging"
    staging.mkdir()
    for part in ("p=a", "p=b"):
        (Path(clone) / part).rename(staging / part)
    manifest = base.parent / f".{base.name}.commit.json"
    manifest.write_text(json.dumps(
        {"staging": staging.name, "partitions": ["p=a", "p=b"]}))
    # apply the first ``stop_after`` swaps, then "crash"
    for part in ["p=a", "p=b"][:stop_after]:
        import shutil
        shutil.rmtree(base / part)
        (staging / part).rename(base / part)
    expected = {(1, "one-v2", 2), (2, "two", 1), (3, "three-v2", 2),
                (4, "four", 1)}
    return base_dir, expected


def test_merge_recovery_completes_pending_swaps(spark, tmp_path):
    """A crash at ANY point after the manifest commit heals on
    recover_pending_merge: all committed partitions land, manifest and
    staging are gone."""
    from localsql_spark.sinks.merge import recover_pending_merge

    for stop_after in (0, 1):
        d = tmp_path / f"case{stop_after}"
        d.mkdir()
        base_dir, expected = _crash_state_after_manifest(spark, d, stop_after)
        assert recover_pending_merge(base_dir) is True
        got = {(r.k, r.txt, r.version)
               for r in spark.read.parquet(base_dir).collect()}
        assert got == expected
        base = Path(base_dir)
        assert not (base.parent / f".{base.name}.commit.json").exists()
        assert not (base.parent / f".{base.name}.staging").exists()
        # second call is a clean no-op
        assert recover_pending_merge(base_dir) is False


def test_merge_next_write_replays_crashed_predecessor(spark, tmp_path):
    """merge_into_partitioned itself heals a pending manifest before
    reading the base — the crashed batch's updates are never lost."""
    base_dir, expected = _crash_state_after_manifest(spark, tmp_path, 0)
    later = spark.createDataFrame(
        [(4, "c", "four-v2", 2)], "k long, p string, txt string, version int")
    merge_into_partitioned(spark, base_dir, later, key="k",
                           version="version", partition_col="p")
    got = {(r.k, r.txt, r.version)
           for r in spark.read.parquet(base_dir).collect()}
    assert got == (expected - {(4, "four", 1)}) | {(4, "four-v2", 2)}


def test_change_feed_emits_only_applied_changes(spark):
    """Inserts carry NULL old-side; updates carry both sides; stale
    versions, identical redeliveries, and within-batch losers emit
    nothing; an empty existing side makes everything an insert."""
    from pyspark.sql import functions as F

    from localsql_spark.sinks.merge import change_feed

    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (3, "c", 1)],
        "k long, v string, version int")
    batch = spark.createDataFrame(
        [(1, "a2", 2),     # real update
         (2, "stale", 1),  # stale version -> nothing
         (3, "c", 2),      # higher version: stored row changes -> update
         (4, "d", 1),      # insert
         (4, "d-old", 0)], # within-batch loser -> nothing
        "k long, v string, version int")
    out = {r.k: r for r in
           change_feed(base, batch, key="k", version="version").collect()}
    assert set(out) == {1, 3, 4}
    assert out[3].op == "update" and out[3].new_version == 2 \
        and out[3].old_version == 1
    assert out[1].op == "update" and out[1].new_v == "a2" \
        and out[1].old_v == "a"
    assert out[4].op == "insert" and out[4].new_v == "d" \
        and out[4].old_v is None
    # no existing table: everything resolves to an insert
    fresh = {r.k: r.op for r in
             change_feed(None, batch, key="k", version="version").collect()}
    assert fresh == {1: "insert", 2: "insert", 3: "insert", 4: "insert"}


def test_merge_tombstones_delete_reinsert_and_stale(spark, tmp_path):
    """A winning tombstone removes its key; a stale tombstone loses and
    changes nothing; a later-versioned upsert re-inserts a deleted key;
    a partition whose rows are all tombstoned loses its bytes."""
    from pyspark.sql import functions as F

    from localsql_spark.sinks.merge import merge_into_partitioned
    from localsql_spark.streaming.foreach_upsert import merge_upsert

    base = spark.createDataFrame(
        [(1, "p1", 10.0, 1), (2, "p1", 20.0, 1), (3, "p2", 30.0, 1)],
        "k long, part string, v double, version int")
    batch = spark.createDataFrame(
        [(1, "p1", 0.0, 2, "delete"),       # wins -> key 1 gone
         (2, "p1", 0.0, 0, "delete"),       # stale -> key 2 stays
         (3, "p2", 0.0, 2, "delete"),       # empties partition p2
         (4, "p1", 40.0, 1, "upsert")],     # insert
        "k long, part string, v double, version int, op string")
    got = {r.k: r.v for r in
           merge_upsert(base, batch, key="k", version="version",
                        op_col="op").collect()}
    assert got == {2: 20.0, 4: 40.0}

    # delete-then-reinsert across versions within one batch: the v3
    # upsert beats the v2 tombstone
    batch2 = spark.createDataFrame(
        [(1, "p1", 0.0, 2, "delete"), (1, "p1", 99.0, 3, "upsert")],
        "k long, part string, v double, version int, op string")
    got2 = {r.k: r.v for r in
            merge_upsert(base, batch2, key="k", version="version",
                         op_col="op").collect()}
    assert got2[1] == 99.0

    # partitioned store: p2's only row tombstoned -> bytes actually gone
    store = str(tmp_path / "t")
    base.write.partitionBy("part").parquet(store)
    merge_into_partitioned(spark, store, batch, key="k",
                           version="version", partition_col="part",
                           op_col="op")
    assert not list((tmp_path / "t" / "part=p2").glob("*.parquet"))
    back = {r.k: r.v for r in spark.read.parquet(store).collect()}
    assert back == {2: 20.0, 4: 40.0}


def test_change_feed_emits_deletes_with_tombstones(spark):
    """With op_col: a winning tombstone against an existing key emits a
    delete (NULL new values, old side populated, new_version kept for
    the win test); a stale tombstone and a tombstone for an absent key
    emit nothing; upsert semantics are unchanged."""
    from pyspark.sql import functions as F

    from localsql_spark.sinks.merge import change_feed

    base = spark.createDataFrame(
        [(1, "a", 2), (2, "b", 1)], "k long, v string, version int")
    batch = spark.createDataFrame(
        [(1, "x", 1, "delete"),    # stale tombstone -> nothing
         (2, "x", 2, "delete"),    # winning tombstone -> delete
         (9, "x", 5, "delete"),    # absent key -> nothing
         (3, "c", 1, "upsert")],   # insert
        "k long, v string, version int, op string")
    out = {r.k: r for r in
           change_feed(base, batch, key="k", version="version",
                       op_col="op").collect()}
    assert set(out) == {2, 3}
    assert out[2].op == "delete" and out[2].new_v is None \
        and out[2].old_v == "b" and out[2].new_version == 2
    assert out[3].op == "insert" and out[3].new_v == "c"


def test_tombstoned_partition_removed_with_spark_escaped_value(
        spark, tmp_path):
    """A fully-tombstoned partition whose value Spark hive-escapes in the
    path (':' -> '%3A') is actually removed: the removal is committed by
    Spark's OWN dir name via the manifest 'removed' key, not a Python
    f-string that would miss the escaped dir (code-review r9).  Boolean
    partitions ('true' vs Python 'True') exercise the same rule."""
    base_dir = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0, 1),
         (2, "2024-01-02 00:00:00", 2.0, 1)],
        "k long, ts string, v double, version int")
    base.write.partitionBy("ts").parquet(base_dir)
    escaped = sorted(p.name for p in (tmp_path / "tbl").glob("ts=*"))
    assert all("%3A" in n for n in escaped)  # the hazard is real

    batch = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 0.0, 2, "delete")],
        "k long, ts string, v double, version int, op string")
    merge_into_partitioned(spark, base_dir, batch, key="k",
                           version="version", partition_col="ts",
                           op_col="op")
    left = sorted(p.name for p in (tmp_path / "tbl").glob("ts=*"))
    assert left == [n for n in escaped if "01-02" in n]
    got = {(r.k, r.v) for r in spark.read.parquet(base_dir).collect()}
    assert got == {(2, 2.0)}

    # boolean partition column: Spark writes p=true, Python str gives True
    bdir = str(tmp_path / "btbl")
    spark.createDataFrame([(1, True, 1), (2, False, 1)],
                          "k long, p boolean, version int") \
        .write.partitionBy("p").parquet(bdir)
    db = spark.createDataFrame([(1, True, 2, "delete")],
                               "k long, p boolean, version int, op string")
    merge_into_partitioned(spark, bdir, db, key="k", version="version",
                           partition_col="p", op_col="op")
    names = sorted(p.name for p in (tmp_path / "btbl").glob("p=*"))
    assert names == ["p=false"]


def test_upsert_merge_stages_no_junk_dirs(spark, tmp_path):
    """An ordinary upsert merge leaves NO synthesized empty partition dirs
    behind — only the dirs Spark itself wrote exist after the swap."""
    base_dir = str(tmp_path / "tbl")
    _write_base(spark, base_dir)
    updates = spark.createDataFrame(
        [(1, "a", "one-v2", 2)], "k long, p string, txt string, version int")
    merge_into_partitioned(spark, base_dir, updates, key="k",
                           version="version", partition_col="p")
    for d in Path(base_dir).glob("p=*"):
        assert any(d.glob("*.parquet")), f"empty junk dir {d.name}"


def test_fully_emptied_table_reads_as_empty_and_accepts_next_merge(
        spark, tmp_path):
    """Tombstoning EVERY partition leaves base_dir with no parquet files;
    read_base_partitions must report the table as empty (None) instead of
    crashing on schema inference, and the next merge must re-create it."""
    from localsql_spark.sinks.merge import read_base_partitions

    base_dir = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a", 1.0, 1)],
                          "k long, p string, v double, version int") \
        .write.partitionBy("p").parquet(base_dir)
    kill = spark.createDataFrame([(1, "a", 0.0, 2, "delete")],
                                 "k long, p string, v double, version int, "
                                 "op string")
    merge_into_partitioned(spark, base_dir, kill, key="k",
                           version="version", partition_col="p",
                           op_col="op")
    assert not any(Path(base_dir).rglob("*.parquet"))
    assert read_base_partitions(spark, base_dir, "p", ["a"]) is None
    # the table heals on the next merge instead of raising
    re_ins = spark.createDataFrame([(5, "a", 9.0, 3)],
                                   "k long, p string, v double, version int")
    merge_into_partitioned(spark, base_dir, re_ins, key="k",
                           version="version", partition_col="p")
    got = {(r.k, r.v) for r in spark.read.parquet(base_dir).collect()}
    assert got == {(5, 9.0)}


def test_same_version_tie_keeps_stored_row_matching_empty_feed(spark):
    """An incoming row that only TIES the stored version loses: the stored
    row is untouched, so the store stays consistent with change_feed's
    empty output for same-version rows (code-review r9 — a hash tie-break
    could swap the payload while the feed said nothing)."""
    from localsql_spark.sinks.merge import change_feed
    from localsql_spark.streaming.foreach_upsert import merge_upsert

    existing = spark.createDataFrame([(1, "stored", 5)],
                                     "k long, txt string, version int")
    # payload engineered to differ; any hash order would be wrong for one
    for payload in ("aaaa", "zzzz"):
        batch = spark.createDataFrame([(1, payload, 5)],
                                      "k long, txt string, version int")
        out = merge_upsert(existing, batch, key="k",
                           version="version").collect()
        assert [(r.k, r.txt, r.version) for r in out] == [(1, "stored", 5)]
        assert change_feed(existing, batch, key="k",
                           version="version").isEmpty()
    # within-batch ties (no stored side) still resolve deterministically
    dup = spark.createDataFrame([(1, "x", 5), (1, "y", 5)],
                                "k long, txt string, version int")
    a = merge_upsert(None, dup, key="k", version="version").collect()
    b = merge_upsert(None, dup, key="k", version="version").collect()
    assert len(a) == 1 and a == b


def test_in_batch_tie_winner_matches_feed_regardless_of_column_order(spark):
    """merge_upsert and change_feed break in-batch (key,version) ties with
    the SAME hash basis (sorted column names): whatever column order the
    batch arrives in, the row the merge keeps is the row the feed
    reports (code-review r9 — order-sensitive xxhash64 bases diverged)."""
    from localsql_spark.sinks.merge import change_feed
    from localsql_spark.streaming.foreach_upsert import merge_upsert

    existing = spark.createDataFrame([(1, "old", 1)],
                                     "k long, txt string, version int")
    for cols in ("k long, txt string, version int",
                 "txt string, k long, version int"):
        vals = [("x", 5), ("y", 5)]
        rows = [(k, t, v) if cols.startswith("k") else (t, k, v)
                for t, v in vals for k in [1]]
        batch = spark.createDataFrame(rows, cols)
        kept = merge_upsert(existing, batch, key="k",
                            version="version").collect()[0]
        feed = change_feed(existing, batch, key="k",
                           version="version").collect()
        assert len(feed) == 1 and feed[0].op == "update"
        assert feed[0].new_txt == kept.txt, \
            "feed must report the row the merge actually kept"


def test_compact_partitions_repairs_sliver_files(spark, tmp_path):
    """compact_partitions rewrites only the over-limit partitions down to
    one file each, byte-preserving the rows, through the manifest commit
    (a crash mid-compaction heals like any fold)."""
    from pathlib import Path

    from localsql_spark.sinks.merge import compact_partitions

    base = str(tmp_path / "store")
    # legacy layout: partitionBy without clustering -> sliver per task
    df = spark.createDataFrame(
        [(i, "abc"[i % 3], float(i)) for i in range(300)],
        "k long, lang string, v double").repartition(8)
    df.write.mode("overwrite").partitionBy("lang").parquet(base)
    fat = [d.name for d in Path(base).glob("lang=*")
           if len(list(d.glob("*.parquet"))) > 1]
    assert fat, "fixture should have sliver files"
    before = sorted(map(tuple, spark.read.parquet(base).collect()))

    rewritten = compact_partitions(spark, base, "lang")
    assert sorted(rewritten) == sorted(fat)
    for d in Path(base).glob("lang=*"):
        assert len(list(d.glob("*.parquet"))) == 1, d.name
    assert sorted(map(tuple, spark.read.parquet(base).collect())) == before
    # already-compact store: no-op
    assert compact_partitions(spark, base, "lang") == []
