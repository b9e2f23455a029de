"""K1: idempotent upsert sink — REPLACE-INTO-keyed-on-(kit, datum)
semantics (lib/MyARCHIVE.py:360-456) as a latest-row-wins merge.

Two implementations behind one contract (no Delta in this runtime):

- `upsert_parquet` — flat layout: read existing, union, window-dedup on
  the key, crash-safe directory swap. Rewrites the WHOLE dataset per
  merge — correct, but O(archive) I/O, so it is the small-archive /
  test-runtime path only.
- `upsert_parquet_partitioned` — the scale path: archive hive-laid-out
  as `day=YYYY-MM-DD/`; a micro-batch merge reads ONLY the partitions
  whose days appear in the batch (partition pruning does the work),
  dedups, and writes back with dynamic partitionOverwriteMode so
  untouched days are never read, never rewritten, and stay
  byte-identical on disk. Per-micro-batch I/O is O(touched days), not
  O(archive) — the REPLACE-INTO cost model of the reference's
  per-day-indexed MySQL archive, on plain parquet.

Crash safety: the flat path swaps via rename with an `__old_` stash and
restores/cleans orphans on entry; the partitioned path stages the fully
merged touched-day data in a `__stage` sibling BEFORE the dynamic
overwrite mutates the archive, and on entry re-commits a completed
orphaned stage (the stage is a superset of the touched days at crash
time, so recovery is automatic and lossless; re-commit is idempotent).
Streaming checkpoint replay provides the outer at-least-once retry.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

DAY_COL = "day"
# null timestamps get a fixed sentinel day so the touched-day filter and
# dynamic overwrite treat them like any other partition (a NULL day would
# silently fall outside the isin() pruning filter and the merge would
# drop the existing rows of the hive default partition)
NULL_DAY = "0000-00-00"


def _layout(path: str) -> str | None:
    """Detect the archive layout on disk: 'partitioned' (day= dirs),
    'flat' (top-level parquet files), or None (absent/empty). Both
    upsert variants check this at entry — pointing the flat merge at a
    hive layout would silently rewrite it flat (destroying the
    partitioning and flipping the day column's type), and pointing the
    partitioned merge at a flat archive would crash on the missing day
    column; a loud error beats either."""
    if not os.path.exists(path):
        return None
    names = os.listdir(path)
    if any(f.startswith(f"{DAY_COL}=") for f in names):
        return "partitioned"
    if any(f.endswith(".parquet") for f in names):
        return "flat"
    return None


def _stash_name(path: str) -> str:
    """`__old_` stash with a zero-padded epoch-ns field: the monotonic
    creation order is encoded in the NAME, so _restore_orphans can pick
    the latest stash without trusting directory mtimes (which tie within
    filesystem granularity and make 'latest' arbitrary)."""
    return f"{path}__old_{time.time_ns():020d}_{uuid.uuid4().hex[:8]}"


def _restore_orphans(path: str) -> None:
    """Automatic restart recovery for the flat swap: a crash between the
    two renames leaves the archive path absent with all data stranded in
    a `__old_<hex>` sibling (and possibly a half-promoted `__tmp_`). On
    entry: restore the stranded archive if the real path is missing,
    finish the interrupted cleanup if it is present, and drop tmp junk.
    """
    parent = os.path.dirname(os.path.abspath(path)) or "."
    base = os.path.basename(os.path.abspath(path))
    if not os.path.isdir(parent):
        return
    names = os.listdir(parent)
    olds = [d for d in names if d.startswith(base + "__old_")]
    if olds and not os.path.exists(path):
        # a crash during rollback can leave TWO stashes; the LATEST one
        # is the later archive state — restoring an earlier one would
        # resurrect the older archive. Order by the monotonic epoch-ns
        # encoded in the stash name (_stash_name): directory mtimes tie
        # within filesystem timestamp granularity and can be disturbed
        # by tooling, making an mtime-only 'latest' pick arbitrary.
        # Legacy stashes without the epoch field fall back to mtime on
        # the same ns scale, so mixed old/new stash sets still order by
        # (approximate) creation time.
        def stamp(d: str) -> tuple[int, str]:
            suffix = d[len(base + "__old_"):]
            head = suffix.split("_", 1)[0]
            if len(head) == 20 and head.isdigit():
                return (int(head), d)
            return (int(os.path.getmtime(os.path.join(parent, d)) * 1e9), d)

        olds.sort(key=stamp)
        os.rename(os.path.join(parent, olds.pop()), path)
    # stale-stash/tmp sweeps tolerate a concurrent entry having already
    # deleted the same sibling: append_day_partitioned is documented
    # safe beside the single merger/compactor, and BOTH call this — a
    # bare rmtree racing the other entry's sweep raises FileNotFoundError
    # and fails a healthy micro-batch
    for d in olds:
        shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    for d in names:
        if d.startswith(base + "__tmp_"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)


def upsert_parquet(new_df: DataFrame, path: str, keys: list[str], order_col: str) -> None:
    """Merge new_df into the parquet dataset at `path`, keeping the row
    with the greatest `order_col` per key (late/duplicate handling)."""
    spark = new_df.sparkSession
    _restore_orphans(path)
    layout = _layout(path)
    if layout == "partitioned":
        raise ValueError(
            f"{path} is a day-partitioned archive; use "
            f"upsert_parquet_partitioned (the flat merge would rewrite "
            f"it flat and destroy the partition layout)"
        )
    if layout == "flat":
        existing = spark.read.parquet(path)
        merged = existing.unionByName(new_df, allowMissingColumns=True)
    else:
        merged = new_df
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    deduped = merged.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")

    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    deduped.write.mode("overwrite").parquet(tmp)
    # crash-safe swap: move the OLD data aside before promoting the new
    # — the previous rmtree-then-rename left a window where a driver
    # crash lost the whole archive, and the checkpoint replay would then
    # rebuild it from the last micro-batch alone
    trash = _stash_name(path)
    if os.path.exists(path):
        os.rename(path, trash)
    try:
        os.rename(tmp, path)
    except Exception:
        if os.path.exists(trash):  # roll the old data back
            os.rename(trash, path)
        shutil.rmtree(tmp, ignore_errors=True)  # don't strand the failed promote
        raise
    if os.path.exists(trash):
        shutil.rmtree(trash)


class _scoped_conf:
    """Set SQL confs for the duration of a write, restoring previous
    values after — the sink must not leak session-wide planner state."""

    def __init__(self, spark: SparkSession, **confs: str):
        self.spark = spark
        self.confs = confs
        self.saved: dict[str, str | None] = {}

    def __enter__(self):
        for k, v in self.confs.items():
            self.saved[k] = self.spark.conf.get(k, None)
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, old in self.saved.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)


def _commit_stage(spark: SparkSession, stage: str, path: str) -> None:
    """Promote a completed stage (fully merged touched-day data) into the
    archive via dynamic partition overwrite: only the day partitions
    present in the stage are replaced; every other partition's files are
    not opened, not rewritten, not touched. Idempotent — re-committing
    the same stage replaces the same days with the same rows."""
    with _scoped_conf(
        spark,
        **{
            "spark.sql.sources.partitionOverwriteMode": "dynamic",
            # partition values stay plain strings on the round-trip —
            # type inference would read day=2024-01-03 back as DATE and
            # flip the archive's column type vs the batch's
            "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        },
    ):
        staged = spark.read.parquet(stage)
        staged.write.mode("overwrite").partitionBy(DAY_COL).parquet(path)
    # drop the _SUCCESS marker FIRST: rmtree deletes entries in arbitrary
    # order, so a crash mid-delete could otherwise leave _SUCCESS with the
    # data gone, and recovery would then crash-loop trying to re-commit an
    # unreadable stage; without the marker a partial remnant self-
    # classifies as half-written garbage on the next entry
    marker = os.path.join(stage, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)
    shutil.rmtree(stage)


def _recover_stage(spark: SparkSession, stage: str, path: str) -> None:
    """Entry-time restart recovery for the partitioned path: a completed
    stage (_SUCCESS present) that was never cleaned up means the previous
    run crashed during or just after commit — its content is the merged
    truth for its days, so re-commit it; a stage without _SUCCESS is a
    half-written merge, garbage either way (checkpoint replay re-delivers
    the batch)."""
    if not os.path.exists(stage):
        return
    if os.path.exists(os.path.join(stage, "_SUCCESS")):
        # Probe readability BEFORE committing. A marked-complete stage
        # that cannot be read back (data files lost to a crashed cleanup)
        # must not wedge the sink in a crash loop — checkpoint replay
        # re-delivers the batch, so discarding the unreadable stage is
        # safe. But if the stage IS readable and the re-commit fails
        # TRANSIENTLY (OOM, disk full, FS hiccup), the stage may be the
        # only surviving copy of the pre-crash archive rows for its days
        # (the original crash can have happened mid-dynamic-overwrite) —
        # discarding it then would silently lose them, so leave it in
        # place and re-raise: the commit is idempotent and the next
        # entry retries it.
        try:
            spark.read.parquet(stage).schema
        except Exception:
            shutil.rmtree(stage, ignore_errors=True)
            return
        _commit_stage(spark, stage, path)
    else:
        shutil.rmtree(stage)


# --- file-level pruned merge (r8): bound write amplification ----------------

_BACKFILL_CHUNK_DAYS = 30  # days staged per commit on deep backfills
_MANIFEST = "_MERGE_MANIFEST.json"
# driver-side guard: above this many distinct (day, key) pairs the batch
# is fleet-wide and file pruning cannot help — fall back to whole-day
# selection instead of collecting an unbounded control-plane list
_MAX_PRUNE_KEYS = 100_000


def _file_key_ranges(files: list[str], col: str) -> dict[str, tuple]:
    """Per-file [min, max] of `col` from parquet footer statistics
    (pyarrow, driver-side control plane over the file LIST — never
    data). Files without stats map to (None, None) = always selected."""
    import pyarrow.parquet as pq

    out: dict[str, tuple] = {}
    for f in files:
        lo = hi = None
        try:
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            if col in idx:
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[col]).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    lo = st.min if lo is None or st.min < lo else lo
                    hi = st.max if hi is None or st.max > hi else hi
        except Exception:
            lo = hi = None
        out[f] = (lo, hi)
    return out


_RANGES = "_key_ranges.json"
# the footer key under which Spark's parquet writer records the schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _prune_col(keys: list[str], ts_col: str) -> str | None:
    """The file-pruning axis: the first non-time key (batches are sparse
    on it, and the stage write range-partitions by it) — one definition
    for the merge, the compactor, and the day-close detector."""
    cols = [k for k in keys if k != ts_col]
    return cols[0] if cols else None


def _valid_entry(ent, size: int) -> bool:
    """A sidecar entry vouches for a file iff it has the [lo, hi, size]
    shape and the recorded size still matches the file on disk."""
    return isinstance(ent, list) and len(ent) == 3 and ent[2] == size


def _ranges_path(day_dir: str) -> str:
    # underscore-prefixed ⇒ invisible to Spark's parquet listing
    return os.path.join(day_dir, _RANGES)


def _load_ranges(day_dir: str, prune_col: str) -> dict[str, list]:
    """The day's recorded file key ranges: {file name: [lo, hi, size]}.
    Empty on any problem — missing sidecar (legacy day), torn JSON, or a
    sidecar recorded for a DIFFERENT prune column — the caller falls
    back to footer reads, so a bad sidecar can only cost I/O, never
    correctness."""
    import json

    try:
        with open(_ranges_path(day_dir)) as fh:
            doc = json.load(fh)
        if doc.get("col") != prune_col:
            return {}
        files = doc.get("files", {})
        return files if isinstance(files, dict) else {}
    except Exception:
        return {}


def _record_ranges(day_dir: str, prune_col: str) -> None:
    """Refresh the day's sidecar after a promote: keep still-valid
    entries, footer-read only the files NOT yet recorded (the
    just-promoted ones — plus, once per legacy day, its pre-sidecar
    files, which self-heals old archives into the recorded path), drop
    entries whose file is gone or resized. Written atomically
    (tmp + os.replace) by the single merger/compactor — appends never
    write it (their files simply fall back to footer reads until the
    day-close compaction records them). Values that do not survive JSON
    (e.g. timestamp keys) are recorded as [None, None] — still counted
    as recorded by the day-close detector, but footer-read at selection
    time; never a wrong range."""
    import json

    if prune_col is None or not os.path.isdir(day_dir):
        return
    old = _load_ranges(day_dir, prune_col)
    out: dict[str, list] = {}
    missing: list[str] = []
    for f in sorted(os.listdir(day_dir)):
        if not f.endswith(".parquet"):
            continue
        size = os.path.getsize(os.path.join(day_dir, f))
        ent = old.get(f)
        if _valid_entry(ent, size):
            out[f] = ent
        else:
            missing.append(f)
    for f, (lo, hi) in _file_key_ranges(
        [os.path.join(day_dir, f) for f in missing], prune_col
    ).items():
        name = os.path.basename(f)
        try:
            json.dumps([lo, hi])
        except TypeError:
            # range values that do not survive JSON (date/bytes/decimal
            # prune keys): record [None, None] — the file is RECORDED
            # (so the day-close detector does not mistake it for a fresh
            # append and re-compact the day forever) but carries no
            # usable range, and _select_files footer-reads it instead
            lo = hi = None
        out[name] = [lo, hi, os.path.getsize(f)]
    final = _ranges_path(day_dir)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"col": prune_col, "files": out}, fh)
    os.replace(tmp, final)


def _select_files(day_dir: str, batch_keys: list | None, prune_col: str) -> tuple[list, list]:
    """Split a day directory's parquet files into (replace, keep): a file
    must be merged iff its [min, max] range of `prune_col` contains ANY
    of the batch's keys for that day (None stats or a None key list ⇒
    conservatively merge). Files the batch cannot collide with are never
    read, never rewritten, and stay byte-identical.

    Ranges come from the day's `_key_ranges.json` sidecar (recorded at
    promote time — r9), validated per entry by file size; files missing
    from the sidecar (legacy days, fresh appends, stale entries) fall
    back to the driver-side parquet-footer read. At a multi-thousand-
    file day the sidecar turns the per-merge footer loop into one JSON
    read + one stat per file (SCALING.md)."""
    import bisect

    files = sorted(
        os.path.join(day_dir, f)
        for f in os.listdir(day_dir)
        if f.endswith(".parquet")
    )
    if batch_keys is None or any(k is None for k in batch_keys):
        # no key list (fleet-wide fallback) or NULL keys (footer stats
        # say nothing about NULL rows): conservatively merge every file
        return files, []
    recorded = _load_ranges(day_dir, prune_col)
    ranges: dict[str, tuple] = {}
    fallback: list[str] = []
    for f in files:
        ent = recorded.get(os.path.basename(f))
        if (
            _valid_entry(ent, os.path.getsize(f))
            # a recorded [None, None] means "recorded, range unusable"
            # (JSON-hostile key type, or genuinely stat-less) — consult
            # the footer, which yields a real range when one exists
            and not (ent[0] is None and ent[1] is None)
        ):
            ranges[f] = (ent[0], ent[1])
        else:
            fallback.append(f)
    ranges.update(_file_key_ranges(fallback, prune_col))
    ks = sorted(batch_keys)
    replace, keep = [], []
    for f in files:
        lo, hi = ranges[f]
        if lo is None:
            replace.append(f)
            continue
        try:
            i = bisect.bisect_left(ks, lo)
            hit = i < len(ks) and ks[i] <= hi
        except TypeError:
            # bounds not comparable with the batch keys (key type
            # migrated, hand-edited sidecar): conservatively merge the
            # file — a replace is always safe, a crash loop never is
            hit = True
        (replace if hit else keep).append(f)
    return replace, keep


def _manifest_path(path: str) -> str:
    """The merge manifest lives BESIDE the stage, not inside it: the
    stage write's mode("overwrite") clears the stage directory, and the
    manifest must be durably on disk BEFORE the stage write begins (see
    _recover_file_merge for why that ordering is load-bearing)."""
    return f"{path}__stage_manifest.json"


def _write_manifest(path: str, replaced: list[str]) -> None:
    """Atomic manifest write (tmp + rename): a crash mid-write must not
    leave a torn JSON at the final name — recovery decisions key off the
    manifest's presence and content."""
    import json

    final = _manifest_path(path)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"replaced": replaced}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, final)


def _recover_file_merge(spark: SparkSession, stage: str, path: str) -> bool:
    """Entry-time recovery for a file-level merge. The writer's ordering
    is manifest FIRST, stage write second, promote third — so:

    - manifest + staged _SUCCESS: crashed mid-promote; re-promote
      (idempotent: moves skip files already in place, deletes skip
      files already gone).
    - manifest, no completed stage: crashed before/during the stage
      write; discard both — checkpoint replay re-delivers the batch.
    - completed stage, NO manifest: NOT ours — return False so the
      legacy full-day recovery (_recover_stage) judges it. The
      manifest-first ordering is what makes this dichotomy sound: a
      file-merge stage can never exist without its manifest, so a
      manifest-less _SUCCESS stage is always legacy full-day truth.
      (The pre-ordering code wrote the manifest AFTER the stage; a
      crash in that window made the legacy recovery dynamic-overwrite
      whole days with a files-subset stage — silent row loss for every
      pruned-out keep file.)
    - torn/unreadable manifest (only possible from a legacy writer —
      _write_manifest is tmp+rename): discard manifest and stage
      rather than crash-looping the sink; replay re-delivers.
    """
    import json

    tmp = _manifest_path(path) + ".tmp"
    if os.path.exists(tmp):
        os.remove(tmp)  # torn tmp from a crashed _write_manifest
    manifest = _manifest_path(path)
    legacy = os.path.join(stage, _MANIFEST)  # pre-r8.1 in-stage location
    if not os.path.exists(manifest) and not os.path.exists(legacy):
        return False
    try:
        with open(manifest if os.path.exists(manifest) else legacy) as fh:
            json.load(fh)["replaced"]
    except Exception:
        shutil.rmtree(stage, ignore_errors=True)
        if os.path.exists(manifest):
            os.remove(manifest)
        return True
    if os.path.exists(os.path.join(stage, "_SUCCESS")):
        try:
            spark.read.parquet(stage).schema
        except Exception:
            shutil.rmtree(stage, ignore_errors=True)
            if os.path.exists(manifest):
                os.remove(manifest)
            return True
        _promote_file_merge(stage, path)
    else:
        shutil.rmtree(stage, ignore_errors=True)
        if os.path.exists(manifest):
            os.remove(manifest)
    return True


def _promote_file_merge(stage: str, path: str, prune_col: str | None = None) -> None:
    """Idempotent file-level promote: move every staged day's new files
    into the archive (skip ones already there), THEN delete the replaced
    files listed in the manifest (skip ones already gone). A crash at
    any point re-runs cleanly on the next entry; until recovery the
    archive may transiently hold both old and new files for the merged
    keys — the single-writer + recover-on-entry contract, same as the
    legacy stage protocol. The manifest is deleted LAST: it must outlive
    the replaced-file deletes so an interrupted promote still knows what
    to finish.

    With `prune_col`, each touched day's `_key_ranges.json` sidecar is
    refreshed after the deletes (r9): the sidecar is a pure optimization
    cache — recovery promotes pass None and simply leave the new files
    on the footer-fallback path until the next successful merge records
    them — so it sits OUTSIDE the crash protocol: no crash point can
    make it wrong, only absent."""
    import json

    manifest = _manifest_path(path)
    if not os.path.exists(manifest):
        manifest = os.path.join(stage, _MANIFEST)  # legacy in-stage
    with open(manifest) as fh:
        replaced = json.load(fh)["replaced"]
    touched_days: list[str] = []
    for d in os.listdir(stage):
        if not d.startswith(f"{DAY_COL}="):
            continue
        src_dir = os.path.join(stage, d)
        dst_dir = os.path.join(path, d)
        os.makedirs(dst_dir, exist_ok=True)
        touched_days.append(dst_dir)
        for f in os.listdir(src_dir):
            if not f.endswith(".parquet"):
                continue
            dst = os.path.join(dst_dir, f)
            if not os.path.exists(dst):
                os.rename(os.path.join(src_dir, f), dst)
    for f in replaced:
        if os.path.exists(f):
            os.remove(f)
    if prune_col is not None:
        for dst_dir in touched_days:
            _record_ranges(dst_dir, prune_col)
    marker = os.path.join(stage, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)
    shutil.rmtree(stage)
    sibling = _manifest_path(path)
    if os.path.exists(sibling):
        os.remove(sibling)


def upsert_parquet_partitioned(
    new_df: DataFrame,
    path: str,
    keys: list[str],
    order_col: str,
    ts_col: str = "ts",
) -> None:
    """Scale-path merge: day-partitioned archive, I/O proportional to the
    days — and within each day, the FILES — the batch touches
    (lib/MyARCHIVE.py:360-456 REPLACE INTO against the per-day-indexed
    table — same cost model, extended to the file level).

    Plan shape per micro-batch: one control-plane collect of the
    batch's distinct (day, first-key) pairs, capped at _MAX_PRUNE_KEYS
    — it yields both the touched days and each day's keys (O(pairs in
    batch) rows, never data; a dynamic-partition-pruning semi-join was
    tried instead but DPP's benefit heuristic makes the pruning
    non-deterministic, while a literal isin() is a STATIC
    PartitionFilter the plan-contract test can pin). Only a batch over
    the cap (or a key-less archive) collects the distinct days alone,
    and a deep over-cap backfill re-tries the capped collect per chunk.
    Then per chunk of ≤30 touched days: footer-statistics file pruning
    (only files whose first-key [min,max] range intersects the batch's
    keys are read and rewritten — merged output is range-partitioned on
    the key so files keep narrow ranges and future merges stay
    selective), a replace-file read whose schema comes from a footer
    on the driver (no schema-inference job), one range exchange that
    serves both the key-window dedup and the partitioned stage write,
    one idempotent file-level promote. A second merge into an existing
    day runs 6 Spark jobs on the fixture batches
    (test_merge_job_count_ratchet pins the ceiling). A
    year-deep archive with a 2-day late-data watermark reads 2
    partitions — and of those, only the files the late kits actually
    live in; a 365-day backfill stages at most 30 days at a time instead
    of the whole year.

    Write amplification: a batch rewrites Σ(selected file sizes) +
    O(batch), NOT Σ(touched day sizes) — measured per-batch in
    SCALING.md (tools/sink_write_amplification.py). A fleet-wide batch
    (every kit reporting) still intersects every file of its days; the
    tuning contract for that steady state is trigger interval ×
    ingest rate ≈ day size / desired daily write factor.

    Contract: `ts_col` must be one of `keys`. The merge reads only the
    batch's touched days, so latest-row-wins resolves within a day — a
    key that did not pin the timestamp could have an older row for the
    same key sitting on an UNTOUCHED day, silently surviving alongside
    the new one; time-free keys need the full-archive merge
    (`upsert_parquet`). Single writer per archive path (the Structured
    Streaming foreachBatch guarantee): concurrent writers would race
    the fixed stage directory and the dynamic overwrite — multi-writer
    archives are what Delta/Iceberg MERGE INTO exists for."""
    if ts_col not in keys:
        raise ValueError(
            f"ts_col {ts_col!r} must be part of keys {keys!r}: the "
            f"touched-day merge cannot resolve latest-row-wins across "
            f"days for a key that does not pin the timestamp — use "
            f"upsert_parquet (full-archive merge) for time-free keys"
        )
    spark = new_df.sparkSession
    # a crashed migrate_to_partitioned strands the archive in a __old_
    # stash with `path` absent; entering through any sink then MUST
    # restore it first — otherwise a fresh archive grows at `path` and a
    # later orphan pass deletes the stash (path exists ⇒ stale) along
    # with the entire pre-migration history
    _restore_orphans(path)
    stage = f"{path}__stage"
    if not _recover_file_merge(spark, stage, path):
        _recover_stage(spark, stage, path)

    batch = new_df.withColumn(
        DAY_COL,
        F.coalesce(F.date_format(F.col(ts_col), "yyyy-MM-dd"), F.lit(NULL_DAY)),
    )
    # persist unconditionally: even a single-chunk merge drives TWO
    # actions over the batch lineage (the control-plane collect below,
    # the stage write) — unpersisted, each one re-evaluates the
    # micro-batch source on the hot ingest path
    batch.persist()
    # prune_col: the axis batches are sparse on (a late-data batch
    # touches few kits; stats on a key the merged files are
    # range-partitioned by make the file selection sharp). With a
    # single-key archive there is nothing to prune on.
    prune_col = _prune_col(keys, ts_col)
    # one control-plane collect gives both the touched days (the static
    # partition-pruning list) and each day's keys for file pruning; only
    # a key-less archive or a fleet-wide batch over the cap needs the
    # separate days collect (exempted in
    # test_sinks_never_materialize_on_driver — O(days), never data)
    keys_by_day = _prune_keys(batch, prune_col) if prune_col is not None else None
    if keys_by_day is not None:
        days = sorted(keys_by_day)
    else:
        days = sorted(r[0] for r in batch.select(DAY_COL).distinct().collect())
    if not days:
        batch.unpersist()
        return

    layout = _layout(path)
    if layout == "flat":
        raise ValueError(
            f"{path} is a flat parquet archive; use upsert_parquet "
            f"(the partitioned merge needs the day= hive layout — "
            f"rewrite the archive with write_date_partitioned first)"
        )

    # chunk deep backfills: a 365-day replay stages ≤30 days at a time,
    # bounding peak stage size; a crash between chunks is covered by the
    # committed chunks being idempotent re-merges under checkpoint replay
    chunks = [days[i : i + _BACKFILL_CHUNK_DAYS] for i in range(0, len(days), _BACKFILL_CHUNK_DAYS)]
    try:
        for chunk in chunks:
            cbatch = batch.where(F.col(DAY_COL).isin(chunk))
            if layout != "partitioned":
                # manifest BEFORE the stage write — the ordering that
                # keeps recovery sound (_recover_file_merge docstring)
                _write_manifest(path, [])
                _stage_write(cbatch, stage, keys, order_col, prune_col)
                _promote_file_merge(stage, path, prune_col)
                layout = "partitioned"  # subsequent chunks merge
                continue

            # file pruning: per touched day, select only the files whose
            # prune_col footer range intersects the batch's keys
            chunk_keys = keys_by_day
            if chunk_keys is None and prune_col is not None and len(chunks) > 1:
                # over the cap batch-wide; one chunk of a deep backfill
                # may still be under it
                chunk_keys = _prune_keys(cbatch, prune_col)
            replace_files: list[str] = []
            for day in chunk:
                day_dir = os.path.join(path, f"{DAY_COL}={day}")
                if not os.path.isdir(day_dir):
                    continue
                bkeys = None if chunk_keys is None else chunk_keys.get(day, [])
                rep, _keep = _select_files(day_dir, bkeys, prune_col)
                replace_files.extend(rep)

            with _scoped_conf(
                spark,
                **{"spark.sql.sources.partitionColumnTypeInference.enabled": "false"},
            ):
                if replace_files:
                    reader = spark.read.option("basePath", path)
                    schema = _footer_schema(replace_files)
                    if schema is not None:
                        reader = reader.schema(schema)
                    existing = reader.parquet(*replace_files)
                    merged = existing.unionByName(cbatch, allowMissingColumns=True)
                else:
                    merged = cbatch
                # manifest BEFORE the stage write: a stage that reaches
                # _SUCCESS without its manifest would otherwise be
                # promoted by the LEGACY recovery as full-day truth,
                # dynamic-overwriting the day with only the selected
                # files' rows — deleting every pruned-out keep file's
                # rows. With the manifest durably first, that window
                # cannot exist (_recover_file_merge).
                _write_manifest(path, replace_files)
                # the stage write is an ACTION over a plan that reads
                # `path`; it must fully materialize before the promote
                # mutates `path`
                _stage_write(merged, stage, keys, order_col, prune_col)
            _promote_file_merge(stage, path, prune_col)
    finally:
        batch.unpersist()


def _footer_schema(files: list[str]) -> StructType | None:
    """The Spark schema recorded in the footer of the first file (by
    path) — the file `spark.read.parquet` infers the schema from when
    schemas are not merged. Read on the driver, so the replace-file read
    skips Spark's schema-inference job. None when there is no usable
    recorded schema (a file from another writer, an unreadable footer):
    Spark then infers, and reports a broken file, itself."""
    import json

    import pyarrow.parquet as pq

    try:
        meta = pq.read_metadata(min(files)).metadata or {}
        return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    except (OSError, ValueError, KeyError):
        return None


def _prune_keys(batch: DataFrame, prune_col: str) -> dict[str, list] | None:
    """The batch's distinct (day, prune_col) pairs as {day: [keys]}, or
    None above _MAX_PRUNE_KEYS pairs (fleet-wide: prune by day only).
    Capped by a limit() BEFORE the collect, so the driver never holds
    more than the cap."""
    kd = batch.select(DAY_COL, prune_col).distinct().limit(_MAX_PRUNE_KEYS + 1).collect()
    if len(kd) > _MAX_PRUNE_KEYS:
        return None
    out: dict[str, list] = {}
    for day, key in kd:
        out.setdefault(day, []).append(key)
    return out


def _stage_write(
    rows: DataFrame, stage: str, keys: list[str], order_col: str, prune_col: str | None
) -> None:
    """Dedup the merged chunk to the latest row per key and stage it
    day-partitioned and RANGE-partitioned on (day, prune_col): each
    output file then covers a narrow key range, which is exactly what
    keeps the NEXT merge's footer-stats file selection sharp. Without the
    range partitioning, every file spans the whole key space and
    file-level pruning degenerates to whole-day rewrites.

    The dedup window needs no exchange of its own: the rows of one key
    share its day (`ts` is a key) and its prune_col, so they land in one
    range partition, and a window over keys + day is already clustered
    by the range exchange."""
    if prune_col is not None:
        rows = rows.repartitionByRange(F.col(DAY_COL), F.col(prune_col))
    deduped = latest_view(rows, [*keys, DAY_COL], order_col)
    deduped.write.mode("overwrite").partitionBy(DAY_COL).parquet(stage)


def append_day_partitioned(
    new_df: DataFrame, path: str, ts_col: str = "ts", partitions: int | None = None
) -> None:
    """Steady-state fleet ingest: blind day-partitioned APPEND — write
    amplification exactly 1 (each batch writes only its own bytes; no
    existing file is read or rewritten). The complement of the merge
    path for the workload where merging is hopeless: a fleet-wide batch
    (every kit reporting) intersects every file of its day, so
    `upsert_parquet_partitioned` rewrites the day per batch and a day
    ingested as N batches costs ~N/2 × its resting size in writes
    (measured: 13.8× at 24 batches — SCALING.md). Append + one
    `compact_days` pass costs ~2×.

    Semantics: at-least-once until compaction. Appended days may hold
    multiple rows per (key) — later batches, foreachBatch retries after
    a crash — resolved by latest-row-wins exactly as the merge resolves
    them: run `compact_days` on a cadence (e.g. close out yesterday) to
    rewrite the day deduped and range-partitioned, or read through
    `latest_view` for dedup-on-read in the interim. A retried batch
    appends byte-identical rows, which latest-row-wins collapses, so
    append + compact converges to the same archive the per-batch merge
    produces (pinned by pytest).

    `partitions` bounds the files written per batch PER TOUCHED DAY (a
    plain repartition before the per-day split, so total files ≈
    partitions × touched days; a steady-state batch touches 1-2 days).
    Small micro-batches otherwise inherit the batch's partition count
    and write dozens of row-group-sized files whose parquet footers
    dominate the bytes (measured: 24 tiny fleet batches at 32 files
    each read as 4.6× amplification from footer overhead alone; at
    1 file/batch the same workload is ~2.1× — SCALING.md). Size it so
    batch_bytes/partitions ≈ the archive's file-size target;
    compact_days re-ranges the files at day close regardless.

    Concurrency: append NEVER touches the stage/manifest — not even
    for recovery — so appends are safe to run concurrently with the
    ONE merger/compactor the single-writer contract allows (an append
    that ran recovery here could destroy a LIVE compaction's manifest
    mid-stage-write, and the orphaned _SUCCESS stage would then read
    as legacy full-day truth — the exact loss the manifest ordering
    exists to prevent). A compaction crash before append only leaves
    the day transiently un-deduped; the next compact/merge entry
    recovers it. Files appended while a compaction is in flight are
    not in its manifest, so its promote never deletes them."""
    _restore_orphans(path)
    layout = _layout(path)
    if layout == "flat":
        raise ValueError(
            f"{path} is a flat parquet archive; append_day_partitioned "
            f"needs the day= hive layout (migrate_to_partitioned first)"
        )
    batch = new_df.withColumn(
        DAY_COL,
        F.coalesce(F.date_format(F.col(ts_col), "yyyy-MM-dd"), F.lit(NULL_DAY)),
    )
    if partitions is not None:
        batch = batch.repartition(partitions)
    batch.write.mode("append").partitionBy(DAY_COL).parquet(path)


def compact_days(
    spark: SparkSession,
    path: str,
    keys: list[str],
    order_col: str,
    days: list[str] | None = None,
    ts_col: str = "ts",
) -> list[str]:
    """Close out appended days: rewrite each target day latest-row-wins
    deduped and range-partitioned on (day, first non-time key) — the
    layout that keeps future pruned merges' footer-stats file selection
    sharp. Runs on the merge machinery's stage/manifest/promote
    protocol, so compaction inherits its crash safety (manifest first;
    every crash point in the promote sequence recovers — the sweep
    test), and deep backlogs chunk ≤30 days per idempotent commit.

    `days` defaults to every day in the archive; a steady-state
    deployment passes yesterday once per day (compaction cost = 1× the
    day, so append-ingest + daily compact ≈ 2× total write
    amplification vs ~batches/2 × for merge-per-batch). Same contract
    as the merge: `ts_col` must be in `keys` so latest-row-wins
    resolves within the day. Returns the compacted day list."""
    if ts_col not in keys:
        raise ValueError(
            f"ts_col {ts_col!r} must be part of keys {keys!r} (see "
            f"upsert_parquet_partitioned: dedup is per-day)"
        )
    _restore_orphans(path)
    stage = f"{path}__stage"
    if not _recover_file_merge(spark, stage, path):
        _recover_stage(spark, stage, path)
    if _layout(path) != "partitioned":
        raise ValueError(f"{path} is not a day-partitioned archive")
    on_disk = sorted(
        d.split("=", 1)[1] for d in os.listdir(path) if d.startswith(f"{DAY_COL}=")
    )
    targets = on_disk if days is None else [d for d in on_disk if d in set(days)]
    prune_col = _prune_col(keys, ts_col)
    for i in range(0, len(targets), _BACKFILL_CHUNK_DAYS):
        chunk = targets[i : i + _BACKFILL_CHUNK_DAYS]
        replace_files = []
        for day in chunk:
            day_dir = os.path.join(path, f"{DAY_COL}={day}")
            replace_files.extend(
                os.path.join(day_dir, f)
                for f in sorted(os.listdir(day_dir))
                if f.endswith(".parquet")
            )
        if not replace_files:
            continue
        with _scoped_conf(
            spark,
            **{"spark.sql.sources.partitionColumnTypeInference.enabled": "false"},
        ):
            existing = spark.read.option("basePath", path).parquet(*replace_files)
            _write_manifest(path, replace_files)
            _stage_write(existing, stage, keys, order_col, prune_col)
        _promote_file_merge(stage, path, prune_col)
    return targets


def compact_closed_days(
    spark: SparkSession,
    path: str,
    keys: list[str],
    order_col: str,
    before_day: str,
    ts_col: str = "ts",
) -> list[str]:
    """Compact exactly the CLOSED-but-uncompacted days: days strictly
    before `before_day` (the watermark frontier — no more rows can reach
    them through the stream's late-data horizon) whose directory holds
    parquet files not recorded in the day's `_key_ranges.json` sidecar.

    The sidecar IS the compaction marker: appends never write it, while
    compaction's promote records every surviving file — so "closed and
    has unrecorded files" means "appended since last compacted". That
    makes the detection self-healing under at-least-once replay: a
    checkpoint replay that re-appends rows to an already-compacted day
    adds files the sidecar does not know, and the next batch end
    re-compacts the day — no separate high-water marker that a replayed
    append could silently invalidate. Cost per batch end: one listdir +
    one JSON read per closed day, driver-side control plane.

    Requires a non-time key to prune on (the sidecar is keyed to it);
    raises otherwise — a single-key archive has no sidecar to mark
    compaction with, and blind re-compaction every batch would rewrite
    history per micro-batch."""
    prune_col = _prune_col(keys, ts_col)
    if prune_col is None:
        raise ValueError(
            f"compact_closed_days needs a non-time key in {keys!r}: the "
            f"key-ranges sidecar doubles as the compaction marker, and "
            f"it is keyed to the first non-time key"
        )
    if _layout(path) != "partitioned":
        return []
    targets: list[str] = []
    for d in sorted(os.listdir(path)):
        if not d.startswith(f"{DAY_COL}="):
            continue
        day = d.split("=", 1)[1]
        # NULL_DAY never closes: null-ts rows keep landing on it forever
        # (it sorts before every real day, so a naive compare would call
        # it permanently closed and rewrite the growing partition at
        # every batch end) — dedup it on read (latest_view) or with a
        # manual compact_days
        if day >= before_day or day == NULL_DAY:
            continue
        day_dir = os.path.join(path, d)
        recorded = _load_ranges(day_dir, prune_col)
        if any(
            f not in recorded
            for f in os.listdir(day_dir)
            if f.endswith(".parquet")
        ):
            targets.append(day)
    # bound the in-stream work: a deep backlog (first enablement on a
    # pre-sidecar archive) drains oldest-first at one merge-chunk per
    # batch end instead of stalling a micro-batch on the whole history
    targets = targets[:_BACKFILL_CHUNK_DAYS]
    if targets:
        compact_days(spark, path, keys, order_col, days=targets, ts_col=ts_col)
    return targets


def finalize_append(
    spark: SparkSession,
    path: str,
    keys: list[str],
    order_col: str,
    before_day: str | None = None,
    ts_col: str = "ts",
    include_null_day: bool = True,
) -> list[str]:
    """Batch twin of the streaming tail's auto-compact (r10): a pure
    -batch backfill through append_day_partitioned leaves its days
    appended-but-uncompacted until the next auto-compacting stream run
    — this entry point drains the WHOLE backlog in one call, using the
    same sidecar-marker detection compact_closed_days uses (a day is
    pending iff its directory holds parquet files the `_key_ranges.json`
    sidecar does not record), looped until the markers show nothing
    left (each pass commits ≤_BACKFILL_CHUNK_DAYS idempotently, so a
    crash mid-drain loses at most the in-flight chunk and a re-run
    resumes from the markers).

    `before_day` bounds the frontier exactly like the stream's
    watermark (days >= it stay open); None means the backfill is DONE
    and every day is closed. Unlike the stream (where null-ts rows keep
    landing forever), a finished batch backfill CAN close NULL_DAY —
    `include_null_day=True` compacts it when it has unrecorded files;
    pass False when appends will continue. Returns every day compacted,
    in commit order. Single-writer contract unchanged: this IS the one
    merger/compactor while it runs."""
    done: list[str] = []
    frontier = before_day if before_day is not None else "9999-12-31"
    seen: set[str] = set()
    while True:
        batch = compact_closed_days(
            spark, path, keys, order_col, before_day=frontier, ts_col=ts_col
        )
        if not batch:
            break
        if seen.intersection(batch):
            raise RuntimeError(
                f"finalize_append is not converging: {sorted(seen & set(batch))} "
                f"re-targeted after compaction — the day's sidecar did not "
                f"record the promoted files"
            )
        seen.update(batch)
        done.extend(batch)
    if include_null_day:
        null_dir = os.path.join(path, f"{DAY_COL}={NULL_DAY}")
        prune_col = _prune_col(keys, ts_col)
        if os.path.isdir(null_dir) and prune_col is not None:
            recorded = _load_ranges(null_dir, prune_col)
            if any(
                f.endswith(".parquet") and f not in recorded
                for f in os.listdir(null_dir)
            ):
                done.extend(
                    compact_days(
                        spark, path, keys, order_col, days=[NULL_DAY], ts_col=ts_col
                    )
                )
    return done


def latest_view(archive: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Dedup-on-read for an appended-but-not-yet-compacted archive: the
    same latest-row-wins rule the merge and compaction apply, as a view.

    Apply day/partition filters to `archive` BEFORE this view: a filter
    added ABOVE the window cannot push below it (`day` is not one of
    the window's partition keys), so it would scan the whole archive.
    Pre-filtering by day is always safe here — `ts` is part of the row
    key, so every duplicate of a key lives on the same day and a day
    filter never splits a key group across the boundary."""
    w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        archive.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def migrate_to_partitioned(spark: SparkSession, path: str, ts_col: str = "ts") -> bool:
    """One-shot flat -> day-partitioned archive migration, so an old
    archive can adopt the O(touched-days) sink. Reads the flat dataset,
    rewrites it hive-partitioned into a tmp sibling, then swaps with the
    same stash-and-rename protocol as the flat upsert (a crash at any
    point leaves either the old archive, or a `__old_` stash that
    _restore_orphans puts back). Returns True if a migration happened;
    False if the archive is already partitioned or absent (idempotent —
    safe to call unconditionally at pipeline setup).

    NOT concurrency-safe: unlike append_day_partitioned (documented safe
    beside the single merger/compactor), this must run with NO other
    sink entry on the same path — a concurrent entry's _restore_orphans
    can rename the stash back during the swap window and fail the final
    rename. Run it once at adoption time, pipeline stopped."""
    _restore_orphans(path)
    if _layout(path) != "flat":
        return False
    df = spark.read.parquet(path)
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    (
        df.withColumn(
            DAY_COL,
            F.coalesce(F.date_format(F.col(ts_col), "yyyy-MM-dd"), F.lit(NULL_DAY)),
        )
        .write.mode("overwrite")
        .partitionBy(DAY_COL)
        .parquet(tmp)
    )
    trash = _stash_name(path)
    os.rename(path, trash)
    try:
        os.rename(tmp, path)
    except Exception:
        if os.path.exists(trash):
            os.rename(trash, path)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    shutil.rmtree(trash)
    return True


def write_date_partitioned(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Archive layout for the 100 TB fact table: hive-partitioned by day
    (SURVEY §1.1 — the long fact table is date-partitioned so period
    queries prune partitions instead of scanning the corpus; the
    reference gets the same effect from per-period WHERE clauses against
    indexed MySQL, e.g. FilterShow.py:419-429 chunking).

    Day is derived, stored as a partition column; readers filtering on
    `day` (or on `ts` through it) touch only matching directories —
    verified by the partition-pruning test."""
    (
        df.withColumn("day", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
