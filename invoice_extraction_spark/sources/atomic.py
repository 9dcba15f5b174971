"""Atomic snapshot commits + per-partition lineage + resume (north rule).

The north rule requires: "per-partition lineage rows + counters committed
atomically, resumable from last good snapshot". On a production cluster this
is Iceberg: ``df.writeTo(tbl).append()`` is a single atomic snapshot commit,
and the lineage table is a second table written in the same application.

The sandbox has no Iceberg jars, so this module emulates the exact commit
contract on plain parquet (SURVEY.md §7 "hard parts" #4):

- data files are written to ``<table>/data/<run_id>/`` (invisible to readers)
- a *manifest* JSON listing those files + lineage counters is written to a
  temp file and ``os.rename``d into ``<table>/_manifests/`` — the atomic
  publish point (POSIX rename atomicity = Iceberg's metadata swap)
- readers list manifests and load exactly the committed files
- resume = left_anti join of the source against committed urls

A crashed run leaves orphan data files but NO manifest — the table never sees
partial output, and re-running skips nothing it shouldn't.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_COLS = [
    "run_id",
    "partition_id",
    "n_rows",
    "n_ok",
    "n_failed",
    "bytes_in",
    "committed_at",
]


def _stats_value(v):
    """Footer stat -> JSON-comparable scalar (timestamps as ISO strings —
    lexicographic order == chronological for a fixed format)."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return v


def _footer_minmax(md, cols: list[str]) -> dict:
    """[min, max] per requested column from one file's parquet footer
    (metadata-only — no row is read). Columns without footer statistics are
    simply absent, and readers treat missing stats as 'cannot skip'.
    Note: Spark writes timestamps as INT96 by default, which carries NO
    footer min/max — use string/numeric columns (url, ids, scores) as skip
    keys, or epoch-long derived columns when time-range skipping matters."""
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    per_col: dict[str, list] = {}
    for col in cols:
        ci = name_to_idx.get(col)
        if ci is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and lo is not None:
            per_col[col] = [_stats_value(lo), _stats_value(hi)]
    return per_col


def _file_survives_prune(stats_for_file: dict | None, prune: dict) -> bool:
    """False only when the file's recorded [min, max] PROVES no row can
    match — missing stats always keep the file (skipping is an
    optimization, never a correctness lever)."""
    if not stats_for_file:
        return True
    for col, (lo, hi) in prune.items():
        rng = stats_for_file.get(col)
        if rng is None:
            continue
        fmin, fmax = rng
        lo_v = _stats_value(lo) if lo is not None else None
        hi_v = _stats_value(hi) if hi is not None else None
        # Incomparable types (e.g. int bound vs ISO-string stat) must keep
        # the file, not crash read planning — skipping stays conservative.
        try:
            if lo_v is not None and fmax < lo_v:
                return False
            if hi_v is not None and fmin > hi_v:
                return False
        except TypeError:
            continue
    return True


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def list_manifests(table_dir: str) -> list[dict]:
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                out.append(json.load(fh))
    return out


def _files_from(manifests: list[dict]) -> list[str]:
    files: list[str] = []
    for m in manifests:
        if m.get("base"):  # compaction snapshot supersedes all earlier files
            files = list(m["files"])
        else:
            files.extend(m["files"])
    return files


def committed_files(table_dir: str) -> list[str]:
    return _files_from(list_manifests(table_dir))


_PART_FILE = re.compile(r"part-(\d+)-")


def _footer_lineage(data_dir: str, stats_cols: list[str] | None):
    """One pass over the footers of the files a write committed: the
    row-bearing files, their ``stats_cols`` min/max and, per write-task
    partition id (parsed from ``part-NNNNN``), ``[n_rows, n_failed]`` —
    ``num_rows`` and the summed ``null_count`` of the ``_ok`` column, which
    is NULL exactly on the rows that failed ``ok_predicate``. Only footers
    are read, never a data page."""
    import pyarrow.parquet as pq

    files: list[str] = []
    stats: dict[str, dict] = {}
    counts: dict[int, list[int]] = {}
    for root, _dirs, fs in os.walk(data_dir):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            path = os.path.join(root, f)
            md = pq.read_metadata(path)
            if md.num_rows == 0:
                continue
            m = _PART_FILE.match(f)
            if m is None:
                raise ValueError(f"no write-task partition id in data file name {path}")
            ok_idx = next(i for i in range(md.num_columns) if md.schema.column(i).path == "_ok")
            n_failed = 0
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ok_idx).statistics
                if st is None or not st.has_null_count:
                    raise ValueError(f"no null count for _ok in {path}: lineage cannot be read")
                n_failed += st.null_count
            c = counts.setdefault(int(m.group(1)), [0, 0])
            c[0] += md.num_rows
            c[1] += n_failed
            files.append(path)
            if stats_cols and (per_col := _footer_minmax(md, stats_cols)):
                stats[path] = per_col
    return sorted(files), stats, counts


def _publish(table_dir: str, manifest: dict) -> None:
    """Atomic publish point: write the manifest to a temp file, fsync, and
    rename it into ``_manifests/``."""
    run_id = manifest["run_id"]
    mdir = _manifest_dir(table_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".tmp-{run_id}")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, os.path.join(mdir, f"{int(time.time() * 1000)}-{run_id}.json"))


def commit_append(
    df: DataFrame,
    table_dir: str,
    run_id: str | None = None,
    ok_predicate: str = "extracted_text IS NOT NULL AND length(extracted_text) > 0",
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> dict:
    """Write ``df`` as one atomic snapshot append; returns the manifest.

    The commit is ONE Spark write job with no Python operator of its own:
    the per-partition lineage is read afterwards from the parquet FOOTERS
    of the files that job committed, never from the data. ``df`` gains an
    ``_ok`` column, NULL unless ``ok_predicate`` holds (evaluated JVM-side;
    ``read_table`` drops it), so for each write-task partition (its id
    parsed from the ``part-NNNNN`` file name) ``n_rows`` is the files'
    ``num_rows`` and ``n_failed`` their ``_ok`` null count. The counts are
    exact under ``partition_by`` (a task's files are summed) and under task
    retries (only committed files are read). A data file whose name does
    not parse raises.

    ``bytes_in`` is per RUN, not per partition: one ``Observation`` on the
    same write action sums it, and the lineage carries it on a summary row
    with ``partition_id = -1`` and ``n_rows = n_ok = n_failed = 0``, so
    every lineage column sums to the run total.

    The manifest (files, ``df``'s schema, lineage) is published with one
    atomic rename — the Iceberg-snapshot-commit analog. A zero-row commit
    publishes a manifest too (``files: []``, ``lineage: []``), and reads
    back as an empty frame with the recorded schema.

    ``partition_by`` hive-partitions the snapshot's data files (e.g.
    ``["lang"]``): readers filtering on those columns prune whole
    directories at scan planning (PartitionFilters — the Iceberg
    partition-spec analog; asserted in test_atomic_resume). At 100 TB,
    partition pruning is the difference between scanning one language's
    slice and scanning the world.

    ``stats_cols`` records per-FILE min/max for those columns in the
    manifest (read in the same footer pass as the lineage), enabling
    manifest-level file skipping at read time (``read_table(...,
    prune=...)``) — the Iceberg file-stats analog. At 100 TB, skipping
    files before Spark ever lists them is the first line of defense, ahead
    of row-group pushdown.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    # data dir is unique per COMMIT (not per run_id): a retried run_id must
    # never clobber files an earlier manifest already points at
    data_dir = os.path.join(table_dir, "data", f"{run_id}-{uuid.uuid4().hex[:8]}")
    staged = df.withColumn("_ok", F.when(F.expr(ok_predicate), True))
    obs = None
    if "bytes_in" in df.columns:
        obs = Observation(f"commit-{os.path.basename(data_dir)}")
        staged = staged.observe(
            obs, F.sum(F.coalesce(F.col("bytes_in"), F.lit(0))).alias("bytes_in")
        )
    writer = staged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    files, stats, counts = _footer_lineage(data_dir, stats_cols)
    lineage = []
    if counts:
        bytes_in = (obs.get.get("bytes_in") or 0) if obs else 0
        lineage.append(
            {"run_id": run_id, "partition_id": -1, "n_rows": 0, "n_ok": 0, "n_failed": 0, "bytes_in": int(bytes_in)}
        )
    else:  # nothing committed: no data dir to keep, but still a snapshot
        shutil.rmtree(data_dir, ignore_errors=True)
    lineage += [
        {
            "run_id": run_id,
            "partition_id": pid,
            "n_rows": n,
            "n_ok": n - n_failed,
            "n_failed": n_failed,
            "bytes_in": 0,
        }
        for pid, (n, n_failed) in sorted(counts.items())
    ]
    manifest = {
        "run_id": run_id,
        "data_dir": data_dir,
        "partition_by": partition_by or [],
        "files": files,
        "schema": df.schema.json(),
        **({"stats": stats} if stats_cols else {}),
        "committed_at": time.time(),
        "lineage": lineage,
    }
    _publish(table_dir, manifest)
    return manifest


def read_table(
    spark: SparkSession,
    table_dir: str,
    as_of: int | str | None = None,
    prune: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read the committed snapshot (uncommitted data files ignored).

    ``as_of`` gives Iceberg-style time travel: an int reads the table as of
    the Nth snapshot (0-based commit order), a string reads up to and
    including that run_id's commit.

    ``prune`` maps column -> (lo, hi) bounds (either side None for
    open-ended): files whose manifest-recorded min/max (``stats_cols`` at
    commit time) prove no row can match are dropped BEFORE Spark ever
    lists them — manifest-level data skipping, the Iceberg scan-planning
    analog. Pruning is conservative: files without stats are always read,
    and the caller still applies the real row filter (bounds only bound).
    """
    manifests = list_manifests(table_dir)
    if as_of is not None:
        if isinstance(as_of, int):
            manifests = manifests[: as_of + 1]
        else:
            cut = next(
                (i for i, m in enumerate(manifests) if m["run_id"] == as_of), None
            )
            if cut is None:
                raise FileNotFoundError(f"no snapshot with run_id={as_of!r}")
            manifests = manifests[: cut + 1]
    return _read_manifests(spark, manifests, table_dir, prune=prune)


def _read_manifests(
    spark: SparkSession,
    manifests: list[dict],
    table_dir: str,
    prune: dict[str, tuple] | None = None,
) -> DataFrame:
    # Partitioned snapshots need their commit's data_dir as basePath so the
    # hive-style dir values come back as (prunable) partition columns; plain
    # snapshots are batched into ONE multi-file read to keep the plan small.
    plain: list[str] = []
    partitioned: list[tuple[str, list[str]]] = []
    for m in manifests:
        if m.get("base"):
            plain, partitioned = [], []
        files = m["files"]
        if prune:
            stats = m.get("stats", {})
            files = [f for f in files if _file_survives_prune(stats.get(f), prune)]
        if m.get("partition_by"):
            if files:
                partitioned.append((m["data_dir"], files))
        else:
            plain.extend(files)
    if prune and not plain and not partitioned:
        # every file provably out of range: empty frame with the table schema
        return _read_manifests(spark, manifests, table_dir).limit(0)
    if not plain and not partitioned:
        # zero-row snapshots only: empty frame with the newest one's schema
        schema = next((m["schema"] for m in reversed(manifests) if m.get("schema")), None)
        if schema is None:
            raise FileNotFoundError(f"no committed snapshots in {table_dir}")
        return spark.createDataFrame([], T.StructType.fromJson(json.loads(schema)))
    # Schema evolution (Iceberg add-column analog): snapshots may have
    # grown columns over time. mergeSchema unifies file footers within a
    # read; allowMissingColumns nulls absent columns across snapshot
    # generations. Only ADDITIVE evolution is supported — a rename or type
    # change shows up as add+drop and readers see both columns (document
    # renames with a view, as Iceberg users do without a catalog).
    parts = []
    if plain:
        parts.append(spark.read.option("mergeSchema", "true").parquet(*plain))
    for base, files in partitioned:
        parts.append(
            spark.read.option("basePath", base)
            .option("mergeSchema", "true")
            .parquet(*files)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out.drop("_ok")


def rollback(table_dir: str, to: int | str) -> dict:
    """Roll the table head back to snapshot ``to`` (ordinal or run_id):
    later manifests move to ``_manifests/_rolled_back/`` so every reader —
    read_table, resume's pending_source, incremental reads — sees the
    table exactly as of that snapshot, and the next commit_append continues
    history from there. The bad commits' data FILES stay on disk (no longer
    referenced, so a later ``vacuum`` garbage-collects them) — the undo is
    metadata-only and atomic per manifest rename, like Iceberg's
    rollback-to-snapshot (Iceberg keeps the orphaned snapshots in metadata;
    we archive them, which is the same recoverability with a filesystem
    instead of a catalog).

    Refuses to roll back to a state whose data files no longer exist
    (possible when vacuum already collected pre-compaction files) — a
    rollback that would produce an unreadable table is an error, not a
    surprise at read time.
    """
    manifests = list_manifests(table_dir)
    if not manifests:
        raise FileNotFoundError(f"no committed snapshots in {table_dir}")
    idx = _snapshot_index(manifests, to, table_dir)
    target_files = _files_from(manifests[: idx + 1])
    missing = [f for f in target_files if not os.path.exists(f)]
    if missing:
        raise FileNotFoundError(
            f"cannot roll back to {to!r}: {len(missing)} data file(s) already "
            f"vacuumed (first: {missing[0]})"
        )
    mdir = _manifest_dir(table_dir)
    archive = os.path.join(mdir, "_rolled_back")
    names = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
    moved = []
    os.makedirs(archive, exist_ok=True)
    for name in names[idx + 1 :]:
        os.rename(os.path.join(mdir, name), os.path.join(archive, name))
        moved.append(name)
    return {
        "rolled_back_to": manifests[idx]["run_id"],
        "archived_manifests": moved,
    }


def prune_report(table_dir: str, prune: dict[str, tuple]) -> dict:
    """Planning-time observability: how many committed files the given
    bounds would skip (no Spark involved — pure manifest math). Log this
    next to a pruned read; 0 skipped usually means the table was written
    without ``stats_cols`` or isn't clustered on the pruned column."""
    manifests = list_manifests(table_dir)
    total = skipped = 0
    for m in manifests:
        if m.get("base"):
            total = skipped = 0
        stats = m.get("stats", {})
        for f in m["files"]:
            total += 1
            if not _file_survives_prune(stats.get(f), prune):
                skipped += 1
    return {"n_files": total, "n_skipped": skipped, "n_read": total - skipped}


def _snapshot_index(manifests: list[dict], ref: int | str, table_dir: str) -> int:
    if isinstance(ref, int):
        if not -len(manifests) <= ref < len(manifests):
            raise FileNotFoundError(f"no snapshot #{ref} in {table_dir}")
        return ref % len(manifests)
    idx = next((i for i, m in enumerate(manifests) if m["run_id"] == ref), None)
    if idx is None:
        raise FileNotFoundError(f"no snapshot with run_id={ref!r}")
    return idx


def read_snapshot_delta(spark: SparkSession, table_dir: str, ref: int | str) -> DataFrame:
    """The rows appended by snapshot ``ref`` ALONE (ordinal or run_id) —
    the unit of work for per-snapshot incremental consumers (e.g. the
    sketch-backed datacard stats). A compaction snapshot rewrites history
    and appends nothing, so asking for its delta raises."""
    manifests = list_manifests(table_dir)
    if not manifests:
        raise FileNotFoundError(f"no committed snapshots in {table_dir}")
    m = manifests[_snapshot_index(manifests, ref, table_dir)]
    if m.get("base"):
        raise ValueError(
            f"snapshot {m['run_id']} is a compaction (rewrites history, appends no rows)"
        )
    return _read_manifests(spark, [m], table_dir)


def read_appended(
    spark: SparkSession,
    table_dir: str,
    since: int | str,
    until: int | str | None = None,
) -> DataFrame:
    """Incremental scan (the Iceberg incremental-read analog): ONLY the rows
    committed AFTER snapshot ``since`` (exclusive), up to ``until``
    (inclusive, default latest). Refs are snapshot ordinals or run_ids —
    a downstream consumer persists the last run_id it processed and reads
    just the delta each cycle, so daily incremental jobs scan O(new data)
    instead of O(table).

    A compaction snapshot REWRITES history (its files carry all prior rows),
    so an incremental window containing one cannot distinguish appended rows
    from rewritten ones — that window raises, same restriction as Iceberg's
    append-only incremental scan. Windows that merely FOLLOW a compaction
    are fine.

    An empty window (nothing committed since) returns an empty frame with
    the table schema — the no-new-data case is normal, not an error.
    """
    manifests = list_manifests(table_dir)
    if not manifests:
        raise FileNotFoundError(f"no committed snapshots in {table_dir}")
    lo = _snapshot_index(manifests, since, table_dir)
    hi = (
        len(manifests) - 1
        if until is None
        else _snapshot_index(manifests, until, table_dir)
    )
    window = manifests[lo + 1 : hi + 1]
    if not window:
        return _read_manifests(spark, manifests, table_dir).limit(0)
    if any(m.get("base") for m in window):
        raise ValueError(
            "incremental read crosses a compaction snapshot — re-read the "
            "full table (or incremental-read from the compaction onward)"
        )
    return _read_manifests(spark, window, table_dir)


def compact(spark: SparkSession, table_dir: str, target_files: int = 8) -> dict:
    """Rewrite the current snapshot into ``target_files`` files and publish a
    BASE manifest that supersedes all earlier ones — the Iceberg
    ``rewrite_data_files`` maintenance action. At 10^12 docs, thousands of
    small per-run snapshots otherwise degrade scan planning and open-file
    cost. Old data files stay on disk (readers ignore them; a GC pass can
    unlink anything not referenced by the latest base chain).

    Single-writer assumption: don't compact concurrently with appends.
    """
    run_id = f"compact-{uuid.uuid4().hex[:8]}"
    df = read_table(spark, table_dir)
    data_dir = os.path.join(table_dir, "data", run_id)
    df.coalesce(target_files).write.mode("overwrite").parquet(data_dir)
    files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    n_rows = spark.read.parquet(data_dir).count()
    manifest = {
        "run_id": run_id,
        "base": True,
        "files": files,
        "schema": df.schema.json(),
        "committed_at": time.time(),
        "lineage": [
            {
                "run_id": run_id,
                "partition_id": -1,
                "n_rows": n_rows,
                "n_ok": n_rows,
                "n_failed": 0,
                "bytes_in": 0,
            }
        ],
    }
    _publish(table_dir, manifest)
    return manifest


def vacuum(table_dir: str, min_age_seconds: float = 0.0) -> list[str]:
    """Delete data files no longer referenced by the committed manifest chain
    (post-compaction garbage collection — Iceberg's expire_snapshots +
    remove_orphan_files). Returns the deleted paths.

    Safe because readers resolve files ONLY through manifests: anything
    unreferenced is invisible already. Time travel to superseded snapshots
    stops working after vacuum (same trade as Iceberg snapshot expiry).

    Single-writer assumption (same as ``compact``): an in-flight
    ``commit_append`` has written data files but not yet renamed its
    manifest, so a concurrent vacuum would collect them and publish a
    manifest pointing at deleted files. When writers may be live, pass
    ``min_age_seconds`` (e.g. 3600) — data dirs younger than that are
    skipped, so no in-flight commit is ever collected (Iceberg's
    ``older_than`` on remove_orphan_files).
    """
    live = set(committed_files(table_dir))
    deleted = []
    data_root = os.path.join(table_dir, "data")
    if not os.path.isdir(data_root):
        return deleted
    now = time.time()
    for sub in os.listdir(data_root):
        d = os.path.join(data_root, sub)
        if min_age_seconds and now - os.path.getmtime(d) < min_age_seconds:
            continue
        # Partitioned commits (commit_append(partition_by=...)) nest their
        # parquet under hive dirs (lang=xx/...), so liveness and deletion
        # must walk the FULL nested tree and compare full paths — a
        # top-level-only listing classifies live partitioned data as dead
        # and tries to unlink() directories (ADVICE r3 high).
        all_files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(d)
            for f in fs
        ]
        has_live = any(p in live for p in all_files)
        for p in all_files:
            if p in live:
                continue
            if p.endswith(".parquet") or not has_live:
                # sidecars (_SUCCESS, .crc) go with their directory once no
                # live parquet remains in it
                os.unlink(p)
                if p.endswith(".parquet"):
                    deleted.append(p)
        # prune dirs that are now empty, leaves first; dirs still holding a
        # live file (or its parents) are skipped by the emptiness check
        for root, _dirs, _fs in os.walk(d, topdown=False):
            if not os.listdir(root):
                os.rmdir(root)
    return deleted


def lineage_df(spark: SparkSession, table_dir: str) -> DataFrame:
    rows = [ln for m in list_manifests(table_dir) for ln in m["lineage"]]
    if not rows:
        return spark.createDataFrame(
            [], "run_id string, partition_id int, n_rows long, n_ok long, n_failed long, bytes_in long"
        )
    return spark.createDataFrame(rows)


def pending_source(source: DataFrame, table_dir: str, key: str = "url") -> DataFrame:
    """Resume: rows of ``source`` not yet in any committed snapshot.

    left_anti against committed keys (SURVEY.md §2.9). The committed-key side
    is small relative to the source at resume time and is broadcast when under
    the threshold; at 10^12-doc scale use the Iceberg lineage table partition
    filter first, then the anti-join.
    """
    try:
        done = read_table(source.sparkSession, table_dir).select(key).distinct()
    except FileNotFoundError:
        return source
    return source.join(done, key, "left_anti")
