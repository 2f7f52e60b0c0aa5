"""Streamed decoded-event archive: decode once, query many.

At 100 TB the expensive thing is not any single query — it is
re-running explode+dispatch+decode over the raw transaction archive
for EVERY query. This sink materializes the decode once, as a
columnar event lake with the same two-level pruning layout as the raw
archives (`sources/replay.py`): slot-range directory partitions
(planning-time PartitionFilters) over the wide event schema, written
exactly-once by Structured Streaming's file sink (the `_spark_metadata`
commit log means a concurrent batch reader only ever sees committed
files — Spark's batch parquet reader honors the log automatically when
pointed at the sink directory).

J3 (the dev flag) is stored with the core decode: the decode worker
computes it per signature, and a signature never spans transactions,
so the stored flag equals the batch semantics. J4/P11 (bot flag, swap
amount fill) are row-local projections and stay at READ time
(`plans.pipeline.enrich_events`), so one archive serves any bot
wallet. Store the core decode, enrich at read.

Row-group-level pruning (the (program_id, slot) sort the batch writer
applies) cannot be expressed in a streaming write — compaction
restores the large-file profile and tight row-group stats. Two forms:
`sources.replay.compact_archive` rewrites the sink dir in place
(stream must be stopped); `compact_event_archive_snapshot` below is
the 100 TB form — generational snapshots + an atomic manifest swap
that run WHILE the stream keeps appending (read via
`load_event_lake`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_SLOTS_PER_DIR = 10_000


def start_event_archive_stream(raw_stream: DataFrame,
                               archive_dir: str,
                               checkpoint_dir: str,
                               slots_per_dir: int = DEFAULT_SLOTS_PER_DIR,
                               protocols=None,
                               available_now: bool = False,
                               processing_time: str = "10 seconds",
                               max_records_per_file: int | None = None,
                               writer_options: dict | None = None,
                               dedup_redelivery: str | None = None,
                               state_partitions: int | None = None):
    """raw transaction stream -> decoded events -> partitioned parquet.

    Exactly-once: the file sink's commit log. Partitioning: slot-range
    directories (same key as `write_slot_range_archive`), so archived
    events get planning-time slot pruning from day one.

    ``max_records_per_file`` caps file sizes at high feed rates (the
    other half of the small-file problem: ONE giant file per partition
    per batch is as bad for parallel reads as thousands of tiny ones);
    ``writer_options`` passes any extra DataStreamWriter options
    through (e.g. parquet compression codec).

    ``dedup_redelivery``: a watermark duration (e.g. "10 minutes")
    inserts the cross-batch redelivery filter (`streaming/dedup.py`)
    before the write — an effectively-once LAKE even when the
    transport redelivers after reconnects, at the cost of the keyed
    state (same knob as `start_event_stream`).

    ``state_partitions``: state-store width for the dedup arm, applied
    to a NEW checkpoint before the first commit (the width freezes into
    the checkpoint). Default None = `state.DEFAULT_STATE_PARTITIONS`
    (the measured low-latency lever); pass an executor-sized value on a
    real cluster, or 0 to leave the session conf untouched.
    """
    from ..plans.pipeline import build_events_core

    events = build_events_core(raw_stream, protocols)
    if dedup_redelivery is not None:
        from .dedup import dedup_event_stream
        events = dedup_event_stream(events, watermark=dedup_redelivery)
    return _start_lake_writer(events, archive_dir, checkpoint_dir,
                              slots_per_dir, available_now,
                              processing_time, max_records_per_file,
                              writer_options, state_partitions,
                              stateful=dedup_redelivery is not None)


# An account update's redelivery identity: the same account state at
# the same slot from the same transaction (the tx-side analog is
# streaming/dedup.EVENT_IDENTITY).
ACCOUNT_IDENTITY = ("pubkey", "slot", "signature")


def start_account_archive_stream(raw_account_stream: DataFrame,
                                 archive_dir: str,
                                 checkpoint_dir: str,
                                 slots_per_dir: int =
                                 DEFAULT_SLOTS_PER_DIR,
                                 available_now: bool = False,
                                 processing_time: str = "10 seconds",
                                 max_records_per_file: int | None = None,
                                 writer_options: dict | None = None,
                                 dedup_redelivery: str | None = None,
                                 state_partitions: int | None = None):
    """Account-update analog: decoded account events (D3 dispatch,
    `plans/account_pipeline.py`) into the same slot-range lake layout.

    Same knobs as the tx-side sink — the small-file and redelivery
    physics are identical: ``max_records_per_file`` caps per-partition
    file sizes, ``writer_options`` passes writer options through, and
    ``dedup_redelivery`` (a watermark duration) inserts the cross-batch
    duplicate filter keyed on :data:`ACCOUNT_IDENTITY` before the
    write."""
    from ..plans.account_pipeline import build_account_events

    events = build_account_events(raw_account_stream)
    if dedup_redelivery is not None:
        from .dedup import dedup_event_stream
        events = dedup_event_stream(events, watermark=dedup_redelivery,
                                    key_cols=ACCOUNT_IDENTITY)
    return _start_lake_writer(events, archive_dir, checkpoint_dir,
                              slots_per_dir, available_now,
                              processing_time, max_records_per_file,
                              writer_options, state_partitions,
                              stateful=dedup_redelivery is not None)


# How long the sink keeps superseded per-batch commit-log files after
# they fold into a .compact. Spark's 10-minute default is tuned for
# sinks nobody else reads; the lake compactor attributes absorption by
# batch id, so batch log files must outlive the SNAPSHOT cadence —
# 30 days covers any sane cadence while still bounding the log dir.
SINK_LOG_RETENTION_MS = 30 * 24 * 3600 * 1000
_SINK_LOG_DELAY_CONF = "spark.sql.streaming.fileSink.log.cleanupDelay"


def _start_lake_writer(events: DataFrame, archive_dir: str,
                       checkpoint_dir: str, slots_per_dir: int,
                       available_now: bool, processing_time: str,
                       max_records_per_file: int | None,
                       writer_options: dict | None,
                       state_partitions: int | None = None,
                       stateful: bool = False):
    from .state import resolve_state_width, pin_state_width

    out = events.withColumn(
        "slot_range", (F.col("slot") / slots_per_dir).cast("long"))
    writer = (out.writeStream.format("parquet")
              .partitionBy("slot_range")
              .option("path", archive_dir)
              .option("checkpointLocation", checkpoint_dir))
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile",
                               str(max_records_per_file))
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    spark = events.sparkSession
    restore = pin_state_width(
        spark, checkpoint_dir,
        resolve_state_width(spark, state_partitions, stateful))
    # Bracketed like the state width: StreamExecution clones the session
    # conf at start, so the long log retention binds to THIS query only.
    prev_delay = spark.conf.get(_SINK_LOG_DELAY_CONF, None)
    spark.conf.set(_SINK_LOG_DELAY_CONF, str(SINK_LOG_RETENTION_MS))
    try:
        return writer.start()
    finally:
        if prev_delay is None:
            spark.conf.unset(_SINK_LOG_DELAY_CONF)
        else:
            spark.conf.set(_SINK_LOG_DELAY_CONF, prev_delay)
        restore()


# ---------------------------------------------------------------------------
# Live snapshot compaction (VERDICT r8 item 5)
#
# `sources.replay.compact_archive` rewrites the sink directory in place
# and therefore needs the stream stopped. At 100 TB the stream never
# stops, so the lake supports GENERATIONAL snapshot compaction instead:
#
#   * a snapshot absorbs the files the sink's commit log listed at one
#     point in time (committed files are immutable — the sink only ever
#     appends new files and new log entries, so the snapshot races with
#     nothing) plus the previous generation, rewritten large + sorted;
#   * a one-line JSON manifest records {gen, absorbed}; the swap is a
#     single os.replace, so a reader sees either (gen K, longer live
#     tail) or (gen K+1, shorter tail) — both complete, never a tear;
#   * `load_event_lake` = compacted generation UNION the committed sink
#     files the manifest does not absorb (explicit file list — bounded
#     by the compaction cadence, exact by construction).
#
# The streaming query is untouched throughout: it keeps appending to
# the sink directory and its own _spark_metadata log.
# ---------------------------------------------------------------------------

_LAKE_MANIFEST = "_LAKE_MANIFEST.json"


# --- filesystem facade (ADVICE r9) -----------------------------------------
# The sink itself is FS-agnostic (Spark writes wherever the URI
# points), but the compactor's manifest/log bookkeeping was local-only
# (os.listdir/open/os.replace). These helpers keep the fast os path for
# plain local paths and route any scheme-qualified URI (s3a://, hdfs://,
# file://, ...) through the session's Hadoop FileSystem, so snapshot
# compaction works on object stores. The manifest swap stays atomic on
# local disk and HDFS (FileContext rename OVERWRITE); on S3-family
# stores rename is copy+delete — the one-line manifest makes the
# non-atomic window a stale-read, never a torn read.

def _is_uri(path: str) -> bool:
    return "://" in path


def _hadoop_fs(path: str):
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"no active SparkSession to resolve remote path {path!r}")
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm, jpath, jpath.getFileSystem(conf), conf, \
        spark.sparkContext._gateway


class _java_io_as_oserror:
    """Translate Py4J-surfaced Hadoop IOExceptions into OSError so the
    error-handling semantics of every ``_fs_*`` helper match the local
    branch (callers guard with ``except OSError``; without this, a
    missing-path race on s3a/hdfs crashes code that tolerates the same
    race on local disk). RuntimeError (no active session) passes
    through untranslated.

    The translation is NARROW (ADVICE r11): only Py4J-surfaced errors
    and exceptions whose message names a java.* class become OSError.
    A Python-side bug (TypeError, AttributeError) propagates as itself
    — non-strict callers like _sink_committed_files skip OSError as
    "unreadable batch", and swallowing a real fault there would mask
    it."""

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc, tb):
        if exc is None or isinstance(
                exc, (OSError, RuntimeError, KeyboardInterrupt)):
            return False
        try:
            from py4j.protocol import Py4JError
        except ImportError:  # pragma: no cover - py4j ships with pyspark
            Py4JError = ()
        msg = str(exc)
        if isinstance(exc, Py4JError) or "java." in msg:
            raise OSError(msg) from None
        return False


def _fs_listdir(path: str) -> list[str]:
    if not _is_uri(path):
        return os.listdir(path)
    with _java_io_as_oserror():
        _, jpath, fs, _, _ = _hadoop_fs(path)
        return [st.getPath().getName() for st in fs.listStatus(jpath)]


def _fs_isdir(path: str) -> bool:
    if not _is_uri(path):
        return os.path.isdir(path)
    with _java_io_as_oserror():
        _, jpath, fs, _, _ = _hadoop_fs(path)
        return bool(fs.exists(jpath)
                    and fs.getFileStatus(jpath).isDirectory())


def _fs_read_text(path: str) -> str:
    """Returns the file's text; raises OSError if unreadable/absent."""
    if not _is_uri(path):
        with open(path) as fh:
            return fh.read()
    jvm, jpath, fs, _, _ = _hadoop_fs(path)
    try:
        stream = fs.open(jpath)
    except Exception as exc:                     # Hadoop IOException
        raise OSError(str(exc)) from None
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def _fs_write_atomic(path: str, text: str) -> None:
    """Write-then-rename publish of a small file (the manifest)."""
    if not _is_uri(path):
        import tempfile as _tempfile
        d = os.path.dirname(path)
        fd, tmp = _tempfile.mkstemp(dir=d, prefix=".manifest_")
        with os.fdopen(fd, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
        return
    with _java_io_as_oserror():
        jvm, jpath, fs, conf, gateway = _hadoop_fs(path)
        tmp = jvm.org.apache.hadoop.fs.Path(
            jpath.getParent(), f".manifest_tmp_{os.getpid()}")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jpath.toUri(), conf)
        # rename(Path, Path, Options.Rename...) is varargs -> Java array
        opts = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(tmp, jpath, opts)


def _fs_rmtree(path: str) -> None:
    if not _is_uri(path):
        import shutil as _shutil
        _shutil.rmtree(path)
        return
    with _java_io_as_oserror():
        _, jpath, fs, _, _ = _hadoop_fs(path)
        fs.delete(jpath, True)


def _join(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join would not harm these inputs,
    but keep the intent explicit)."""
    return "/".join([base.rstrip("/")] + [p.strip("/") for p in parts])


class LakeLogIntegrityError(RuntimeError):
    """The sink commit log can no longer be aligned with the lake
    manifest's absorption high-water mark (a batch log file in the
    unabsorbed range was cleaned up, or the ordered-prefix self-check
    failed). Prevent it by compacting at least once per
    ``spark.sql.streaming.fileSink.log.cleanupDelay`` — the lake writer
    pins a long delay (see ``_start_lake_writer``) precisely so routine
    cadences can never hit this."""


def _sink_log_entries(archive_dir: str,
                      strict: bool = True) -> tuple[list[str], int]:
    """The sink commit log as an ORDERED list of sink-relative data-file
    paths, plus the max log id seen.

    ``strict`` governs a transiently unreadable log file: the ordered
    form (v2 manifests, and the FIRST snapshot, which records
    ``absorbed_count`` over this very sequence) must NOT skip one —
    later batches would silently shift into the absorbed prefix and
    every subsequent ``_lake_tail`` would raise
    :class:`LakeLogIntegrityError` over the shifted order. A read
    failure is retried briefly (rename races on object stores are
    sub-second) and then raised. Only the legacy v1 set-based manifest
    path passes ``strict=False``, where a skipped batch merely stays
    un-absorbed until the next cycle.

    Order is the absorption contract the v2 manifest relies on: Spark's
    CompactibleFileStreamLog concatenates old entries before new ones on
    every log compaction and the file sink only ever APPENDS (no delete
    actions), so the committed-file sequence is append-only — a snapshot
    that absorbed the first K entries stays a prefix of every later
    scan. The manifest additionally records the K-th path and readers
    re-verify it, so a violated assumption fails loudly
    (:class:`LakeLogIntegrityError`), never silently.

    Reading a log file the sink is writing concurrently is safe: log
    files are published by atomic rename, so a listed file is complete;
    files committed after the listing simply stay un-absorbed until the
    next snapshot."""
    import json as _json
    import os as _os
    from urllib.parse import unquote, urlparse

    log_dir = _join(archive_dir, "_spark_metadata")
    if not _fs_isdir(log_dir):
        return [], -1
    batches: dict[int, str] = {}
    compacts: dict[int, str] = {}
    for name in _fs_listdir(log_dir):
        if name.startswith("."):
            continue
        stem = name.split(".")[0]
        if not stem.isdigit():
            continue
        (compacts if name.endswith(".compact") else batches)[
            int(stem)] = _join(log_dir, name)
    base = max(compacts) if compacts else -1
    batch_ids = sorted(i for i in batches if i > base)
    for want, got in zip(range(base + 1, base + 1 + len(batch_ids)),
                         batch_ids):
        if want != got:
            raise LakeLogIntegrityError(
                f"sink log batch {want} missing under {log_dir} (have "
                f"compact={base}, batches={batch_ids}); a log file was "
                "cleaned up before the lake absorbed it")
    ordered = ([compacts[base]] if compacts else []) + [
        batches[i] for i in batch_ids]
    max_id = max([base] + batch_ids)

    # compare on the PATH component so s3a://bucket/... log entries
    # still resolve relative to an s3a:// archive_dir
    root = _os.path.abspath(unquote(urlparse(archive_dir).path))
    out: list[str] = []
    seen: set[str] = set()
    for path in ordered:
        try:
            lines = _read_text_retry(path).splitlines()
        except OSError as exc:
            if strict:
                raise LakeLogIntegrityError(
                    f"sink log file {path!r} unreadable after retries "
                    f"({exc}); refusing to skip it — a skip would shift "
                    "later batches into the absorbed prefix") from exc
            continue
        for line in lines:
            if not line.startswith("{"):
                continue
            try:
                entry = _json.loads(line)
            except ValueError:
                continue
            p = entry.get("path")
            if not p:
                continue
            if entry.get("action") == "delete":
                raise LakeLogIntegrityError(
                    "file-sink log carries a 'delete' action — the "
                    "append-only absorption contract does not hold for "
                    f"{archive_dir}")
            rel = _os.path.relpath(
                _os.path.abspath(unquote(urlparse(p).path)), root)
            if rel not in seen:          # compact re-lists batch entries
                seen.add(rel)
                out.append(rel)
    return out, max_id


def _read_text_retry(path: str, attempts: int = 3,
                     delay: float = 0.2) -> str:
    """:func:`_fs_read_text` with a short retry for transient read
    failures (an object-store rename race, an NFS hiccup)."""
    import time as _time

    for i in range(attempts):
        try:
            return _fs_read_text(path)
        except OSError:
            if i == attempts - 1:
                raise
            _time.sleep(delay)
    raise AssertionError("unreachable")


def _sink_committed_files(archive_dir: str) -> set[str]:
    """Set form of :func:`_sink_log_entries` (legacy v1 manifests) —
    the one consumer for which skipping an unreadable batch is safe
    (its files just stay un-absorbed until the next cycle)."""
    entries, _ = _sink_log_entries(archive_dir, strict=False)
    return set(entries)


def _read_lake_manifest(compacted_dir: str) -> dict | None:
    import json as _json
    try:
        return _json.loads(
            _fs_read_text(_join(compacted_dir, _LAKE_MANIFEST)))
    except (OSError, ValueError):
        return None


def _write_lake_manifest(compacted_dir: str, manifest: dict) -> None:
    import json as _json
    _fs_write_atomic(_join(compacted_dir, _LAKE_MANIFEST),
                     _json.dumps(manifest))


_PART_RE = None


def _file_partition(rel_path: str) -> str:
    """slot_range value of a sink-relative data-file path."""
    import re as _re
    global _PART_RE
    if _PART_RE is None:
        _PART_RE = _re.compile(r"(?:^|/)slot_range=([^/]+)/")
    m = _PART_RE.search(rel_path)
    if m is None:
        raise ValueError(
            f"sink file {rel_path!r} is not under a slot_range= "
            "partition directory — not a lake sink layout")
    return m.group(1)


def _lake_tail(archive_dir: str, manifest: dict | None
               ) -> tuple[list[str], int, list[str]]:
    """(committed-but-not-absorbed sink files in order, max log id,
    ALL committed files in order).

    v2 manifests record absorption as an O(1) high-water mark over the
    ORDERED commit log — ``absorbed_count`` entries, ending at
    ``absorbed_last`` — instead of an ever-growing file list (the list
    form grew by every path ever committed and was rescanned in full
    each cycle). The recorded last path is re-verified against the
    current scan, so the ordered-prefix assumption is self-checking."""
    # strict unless the manifest is legacy v1 set-based: the ordered
    # prefix only matters where absorbed_count is (or is about to be)
    # recorded over it
    legacy_v1 = manifest is not None and "absorbed_count" not in manifest
    entries, max_id = _sink_log_entries(archive_dir, strict=not legacy_v1)
    if manifest is None:
        return entries, max_id, entries
    if "absorbed_count" in manifest:                      # v2
        k = manifest["absorbed_count"]
        if k:
            if len(entries) < k:
                raise LakeLogIntegrityError(
                    f"sink log lists {len(entries)} committed files but "
                    f"the manifest absorbed {k} — log rewritten?")
            if entries[k - 1] != manifest["absorbed_last"]:
                raise LakeLogIntegrityError(
                    "absorbed prefix mismatch at entry "
                    f"{k - 1}: log has {entries[k - 1]!r}, manifest "
                    f"recorded {manifest['absorbed_last']!r}")
        return entries[k:], max_id, entries
    absorbed = set(manifest.get("absorbed", ()))          # legacy v1
    return [e for e in entries if e not in absorbed], max_id, entries


def _manifest_partitions(compacted_dir: str, manifest: dict
                         ) -> dict[str, int]:
    """slot_range -> generation map. v1 manifests (single full
    generation) are upgraded by listing the generation directory."""
    if "partitions" in manifest:
        return dict(manifest["partitions"])
    parts: dict[str, int] = {}
    gen_dir = _join(compacted_dir, f"gen={manifest['gen']}")
    if _fs_isdir(gen_dir):
        for name in _fs_listdir(gen_dir):
            if name.startswith("slot_range="):
                parts[name.split("=", 1)[1]] = manifest["gen"]
    return parts


def _read_generation_partitions(spark: SparkSession, compacted_dir: str,
                                parts: dict[str, int]) -> DataFrame | None:
    """Union the per-generation partition directories the manifest maps
    to — one read per DISTINCT generation (bounded by compaction
    cadence between full rewrites), each pruned to its own partition
    dirs, never a byte from a superseded copy."""
    by_gen: dict[int, list[str]] = {}
    for n, g in parts.items():
        by_gen.setdefault(g, []).append(n)
    df = None
    for g, ns in sorted(by_gen.items()):
        base = os.path.join(compacted_dir, f"gen={g}")
        sub = (spark.read.option("mergeSchema", "true")
               .option("basePath", base)
               .parquet(*[os.path.join(base, f"slot_range={n}")
                          for n in sorted(ns)])
               .withColumn("slot_range", F.col("slot_range").cast("long")))
        df = sub if df is None else df.unionByName(
            sub, allowMissingColumns=True)
    return df


def compact_event_archive_snapshot(spark: SparkSession, archive_dir: str,
                                   compacted_dir: str,
                                   sort_within: tuple[str, ...] =
                                   ("program_id", "slot"),
                                   max_records_per_file: int | None = None,
                                   full_rewrite: bool = False) -> dict:
    """Compact the lake WITHOUT stopping the stream — PARTITION-SCOPED:
    only ``slot_range`` partitions that received new sink files since
    the previous snapshot are rewritten (previous compacted copy of the
    partition + its new tail, one large sorted file per partition);
    untouched partitions carry forward in the manifest by generation
    indirection, zero bytes copied. A live feed is slot-contiguous, so
    the touched set is a tiny suffix of the lake — each cycle costs
    O(new data), not O(lake).

    ``full_rewrite=True`` is the MAJOR form: rewrite every partition
    into one generation (collapses the generation fan-out a long minor
    cadence accumulates; the previous O(lake) behavior, now opt-in).

    The manifest swap stays a single atomic rename; a reader sees
    either (gen K, longer live tail) or (gen K+1, shorter tail), never
    a tear. Superseded partition copies are left on disk for in-flight
    readers and recorded in the manifest's garbage ledger; reap them
    with :func:`prune_event_archive_generations` after a grace period.

    Returns {gen, absorbed_total, absorbed_new, rewritten_partitions,
    carried_partitions}.
    """
    import time as _time

    prev = _read_lake_manifest(compacted_dir)
    tail, max_id, entries = _lake_tail(archive_dir, prev)
    prev_parts = (_manifest_partitions(compacted_dir, prev)
                  if prev else {})
    prev_count = (prev.get("absorbed_count",
                           len(prev.get("absorbed", ()))) if prev else 0)
    gen_prev = prev["gen"] if prev else 0

    if not tail and not (full_rewrite and prev_parts):
        return {"gen": gen_prev, "absorbed_total": prev_count,
                "absorbed_new": 0, "rewritten_partitions": 0,
                "carried_partitions": len(prev_parts)}

    by_part: dict[str, list[str]] = {}
    for f in tail:
        by_part.setdefault(_file_partition(f), []).append(f)
    touched = (dict.fromkeys(list(prev_parts) + list(by_part))
               if full_rewrite else by_part)

    parts = []
    old_touched = {n: g for n, g in prev_parts.items() if n in touched}
    if old_touched:
        parts.append(_read_generation_partitions(
            spark, compacted_dir, old_touched))
    if tail:
        parts.append(spark.read.option("mergeSchema", "true")
                     .option("basePath", archive_dir).parquet(
                         *[os.path.join(archive_dir, f) for f in tail])
                     .withColumn("slot_range",
                                 F.col("slot_range").cast("long")))
    df = parts[0]
    for p in parts[1:]:
        # allowMissingColumns: the sink schema may have EVOLVED between
        # the previous generation and the new tail (plug-in columns)
        df = df.unionByName(p, allowMissingColumns=True)
    df = (df.repartition("slot_range")
          .sortWithinPartitions("slot_range", *sort_within))

    gen = gen_prev + 1
    writer = df.write.mode("overwrite").partitionBy("slot_range")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile",
                               str(max_records_per_file))
    writer.parquet(os.path.join(compacted_dir, f"gen={gen}"))

    now = _time.time()
    garbage = [g for g in (prev or {}).get("garbage", ())]
    new_parts: dict[str, int] = {}
    for n, g in prev_parts.items():
        if n in touched:
            garbage.append({"path": f"gen={g}/slot_range={n}",
                            "since": now})
        else:
            new_parts[n] = g
    for n in touched:
        new_parts[n] = gen

    entries_total = prev_count + len(tail)
    # entries[entries_total-1] rather than tail[-1]: also correct when
    # upgrading a v1 manifest with an empty tail (full_rewrite), where
    # v1 never recorded a last-absorbed path
    manifest = {"version": 2, "gen": gen,
                "absorbed_count": entries_total,
                "absorbed_last": (entries[entries_total - 1]
                                  if entries_total else ""),
                "absorbed_through": max_id,
                "partitions": new_parts,
                "garbage": garbage,
                "created_utc": now}
    _write_lake_manifest(compacted_dir, manifest)
    return {"gen": gen, "absorbed_total": entries_total,
            "absorbed_new": len(tail),
            "rewritten_partitions": len(touched),
            "carried_partitions": len(new_parts) - len(touched)}


#: Superseded partition copies younger than this are NOT reaped — the
#: grace period an in-flight reader (whose plan resolved file lists
#: against the previous manifest) gets to finish its scan.
DEFAULT_PRUNE_GRACE_SECONDS = 3600.0


def prune_event_archive_generations(compacted_dir: str,
                                    grace_seconds: float =
                                    DEFAULT_PRUNE_GRACE_SECONDS
                                    ) -> list[str]:
    """Reap superseded compacted data the current manifest no longer
    references, once it has been unreferenced for ``grace_seconds``
    (readers that planned against an older manifest keep their files
    for the grace window — nothing enforces reader draining except
    this TTL, so don't pass 0 while readers may be mid-scan).

    v2 manifests reap partition-scoped garbage from the manifest's
    ledger (and drop reaped entries from it, atomically); v1 manifests
    keep the old whole-generation semantics with no grace."""
    import time as _time

    manifest = _read_lake_manifest(compacted_dir)
    if manifest is None:
        return []
    removed: list[str] = []
    if "garbage" in manifest or "partitions" in manifest:     # v2
        now = _time.time()
        keep: list[dict] = []
        for entry in manifest.get("garbage", ()):
            if now - entry["since"] < grace_seconds:
                keep.append(entry)
                continue
            full = _join(compacted_dir, entry["path"])
            if _fs_isdir(full):
                _fs_rmtree(full)
            removed.append(entry["path"])
            parent = full.rsplit("/", 1)[0]
            try:                       # drop a fully-reaped generation
                if parent.rsplit("/", 1)[-1].startswith("gen=") \
                        and not any(n.startswith("slot_range=")
                                    for n in _fs_listdir(parent)):
                    _fs_rmtree(parent)
                    removed.append(parent.rsplit("/", 1)[-1])
            except OSError:
                pass
        if removed:
            manifest = dict(manifest)
            manifest["garbage"] = keep
            _write_lake_manifest(compacted_dir, manifest)
        return removed
    for name in _fs_listdir(compacted_dir):                    # v1
        if name.startswith("gen=") and name != f"gen={manifest['gen']}":
            _fs_rmtree(_join(compacted_dir, name))
            removed.append(name)
    return removed


def load_event_lake(spark: SparkSession, archive_dir: str,
                    compacted_dir: str | None = None) -> DataFrame:
    """Read the lake through the compaction manifest: every partition's
    current compacted copy (resolved per generation through the
    manifest's partition map) plus the committed-but-not-yet-absorbed
    sink tail. With no manifest (or no ``compacted_dir``) this is
    exactly :func:`load_event_archive`."""
    manifest = (_read_lake_manifest(compacted_dir)
                if compacted_dir is not None else None)
    if manifest is None:
        return load_event_archive(spark, archive_dir)
    gen_df = _read_generation_partitions(
        spark, compacted_dir, _manifest_partitions(compacted_dir,
                                                   manifest))
    tail, _, _ = _lake_tail(archive_dir, manifest)
    if not tail:
        return gen_df if gen_df is not None else \
            load_event_archive(spark, archive_dir).limit(0)
    tail_df = (spark.read.option("mergeSchema", "true")
               .option("basePath", archive_dir).parquet(
                   *[os.path.join(archive_dir, f) for f in tail])
               .withColumn("slot_range", F.col("slot_range").cast("long")))
    if gen_df is None:
        return tail_df
    return gen_df.unionByName(tail_df, allowMissingColumns=True)


def read_event_archive_stream(spark: SparkSession, archive_dir: str,
                              max_files_per_trigger: int = 16,
                              merge_schema: bool = True) -> DataFrame:
    """STREAM the decoded-event lake: downstream jobs (analytics,
    training-data extraction) tail committed event files instead of
    re-decoding raw transactions. New files appear as micro-batches;
    `slot_range` rides along for windowed downstream filters.

    The stream's schema is pinned at query start from the committed
    files — with ``merge_schema=True`` (default) it is the UNION of
    every file's schema, so an archive whose schema evolved (plug-in
    columns added mid-stream) does not stay pinned to whichever file
    the single-file inference happened to sample. One footer sweep at
    query start; restart the reader to pick up later evolutions."""
    schema = (spark.read
              .option("mergeSchema", "true" if merge_schema else "false")
              .parquet(archive_dir).schema)
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(archive_dir))


def load_event_archive(spark: SparkSession, archive_dir: str,
                       merge_schema: bool = False) -> DataFrame:
    """Batch-read the streamed event archive (commit-log aware: only
    committed files are visible). `slot_range` is kept for pruning;
    use :func:`read_event_archive_slot_window` for windowed reads or
    drop it yourself.

    ``merge_schema=True`` unions the schemas of every committed file —
    required after the event schema EVOLVED mid-archive (a protocol
    plug-in registered between writes widens it; files written before
    lack the new columns, which read back NULL). Off by default: the
    footer sweep it costs is wasted on the common non-evolved archive.
    """
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(archive_dir)


def load_enriched_events(spark: SparkSession, archive_dir: str,
                         bot_wallet: str | None = None) -> DataFrame:
    """The documented enrich-at-read pattern as an API: archive core
    events (J3 stored) + the J4/P11 projections of `enrich_events` —
    equal to batch `build_events` over the original raws (tested in
    test_event_archive_stream_roundtrip_and_pruning)."""
    from ..plans.pipeline import enrich_events
    return enrich_events(
        load_event_archive(spark, archive_dir).drop("slot_range"),
        bot_wallet)


def read_event_archive_slot_window(spark: SparkSession, archive_dir: str,
                                   min_slot: int | None = None,
                                   max_slot: int | None = None,
                                   slots_per_dir: int =
                                   DEFAULT_SLOTS_PER_DIR) -> DataFrame:
    """Slot-window read with directory pruning — identical contract to
    `sources.replay.read_archive_slot_window`, over decoded events."""
    from ..sources.replay import read_archive_slot_window
    return read_archive_slot_window(spark, archive_dir, min_slot,
                                    max_slot, slots_per_dir)


def read_event_lake_slot_window(spark: SparkSession, archive_dir: str,
                                compacted_dir: str | None = None,
                                min_slot: int | None = None,
                                max_slot: int | None = None,
                                slots_per_dir: int =
                                DEFAULT_SLOTS_PER_DIR) -> DataFrame:
    """Slot-window read THROUGH the compaction manifest: the windowed
    analog of :func:`load_event_lake`.

    The manifest's partition map makes the window a DRIVER-SIDE prune —
    out-of-window generation partitions and tail files never reach the
    file listing, let alone a footer read. At 100 TB this is the
    difference between a query planning over a day's slot dirs and one
    planning over the whole lake. Row-level slot bounds are applied on
    top (a slot_range dir brackets ``slots_per_dir`` slots)."""
    manifest = (_read_lake_manifest(compacted_dir)
                if compacted_dir is not None else None)
    if manifest is None:
        return read_event_archive_slot_window(spark, archive_dir,
                                              min_slot, max_slot,
                                              slots_per_dir)
    lo = None if min_slot is None else min_slot // slots_per_dir
    hi = None if max_slot is None else max_slot // slots_per_dir

    def _in_window(part: str) -> bool:
        v = int(part)
        return (lo is None or v >= lo) and (hi is None or v <= hi)

    parts = {n: g for n, g in
             _manifest_partitions(compacted_dir, manifest).items()
             if _in_window(n)}
    gen_df = _read_generation_partitions(spark, compacted_dir, parts)
    tail, _, _ = _lake_tail(archive_dir, manifest)
    tail = [f for f in tail if _in_window(_file_partition(f))]
    if tail:
        tail_df = (spark.read.option("mergeSchema", "true")
                   .option("basePath", archive_dir).parquet(
                       *[os.path.join(archive_dir, f) for f in tail])
                   .withColumn("slot_range",
                               F.col("slot_range").cast("long")))
        df = (tail_df if gen_df is None else
              gen_df.unionByName(tail_df, allowMissingColumns=True))
    elif gen_df is not None:
        df = gen_df
    else:
        return (load_event_archive(spark, archive_dir).limit(0)
                .filter(F.lit(False)))
    if min_slot is not None:
        df = df.filter(F.col("slot") >= min_slot)
    if max_slot is not None:
        df = df.filter(F.col("slot") <= max_slot)
    return df
