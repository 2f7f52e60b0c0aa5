"""SparkSession factory tuned for the engine.

Two entry points:

- :func:`get_spark` -- build a local session (tests / bench). Sizes
  ``local[N]`` from ``SPARK_GRAFT_CPUS`` (default 32).
- :func:`tune` -- apply the runtime-settable subset of our config to an
  *externally provided* session (the driver hands us one in
  ``__spark_entry__``); safe to call repeatedly.

Scale rationale (100 TB target, SURVEY §4):
- AQE on everywhere: runtime coalescing of small shuffle partitions and
  skew-join splitting replace hand-tuned partition counts when the same
  plan runs at 1000x the data.
- Arrow on: every pandas UDF (Borsh decode path) moves columns, not rows.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_STATE_STORE_PROVIDERS = {
    "rocksdb": ("org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"),
    "hdfs": ("org.apache.spark.sql.execution.streaming.state."
             "HDFSBackedStateStoreProvider"),
}


def _state_store_provider() -> str:
    """Streaming state-store backend. RocksDB by default: it is the
    100 TB-scale answer (state spills to local disk instead of executor
    heap, changelog checkpointing uploads per-batch deltas instead of
    full snapshots). ``SPARK_GRAFT_STATE_STORE=hdfs`` restores the
    in-memory provider for A/B measurement (BENCH_NOTES round 8)."""
    name = os.environ.get("SPARK_GRAFT_STATE_STORE", "rocksdb").lower()
    return _STATE_STORE_PROVIDERS.get(name, name)


# SPARK_GRAFT_PREFER_SHJ is a boolean knob: parse the VALUE (r18 ADVICE —
# plain truthiness made "=false"/"=0" enable it).
_PREFER_SHJ = os.environ.get(
    "SPARK_GRAFT_PREFER_SHJ", "").strip().lower() in ("true", "1", "yes")

# Runtime-settable confs applied to any session we touch.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Joins (r18, optimization guide §3.1): shuffled-hash instead of
    # sort-merge when a side fits per-partition memory skips two
    # sorts — a real lever on big-shuffle clusters, so it ships as an
    # env knob. It is OFF here by default: the r18 conf A/B (same JVM,
    # arms interleaved per rep, 6 reps) measured the effect at local
    # fixture scale as noise (0.84↔1.14 across converged runs on the
    # same queries, with a mild 1.06 regression on the 94k-row
    # dex_pipeline_throughput full-outer self-check join), so forcing
    # it would be tuning to noise (OPTIMIZATION_r18.md "Changes" 4).
    # SPARK_GRAFT_PREFER_SHJ=true -> preferSortMergeJoin=false + a
    # 64 MiB AQE SMJ->SHJ local-map threshold (per-partition build
    # size, well inside real executor task memory).
    "spark.sql.join.preferSortMergeJoin":
        "false" if _PREFER_SHJ else "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":
        str(64 * 1024 * 1024) if _PREFER_SHJ else "0",
    # Whole-stage codegen is the right choice on a real cluster (set
    # SPARK_GRAFT_CODEGEN=true). In this sandbox, C2 JIT compilation of
    # the large generated methods intermittently freezes a task thread
    # for 10-170 s (verified: no stalls with codegen off OR with
    # -XX:TieredStopAtLevel=1; GC/IO/steal ruled out), so default off —
    # on 32 local cores the interpreter-mode expression eval is not the
    # bottleneck at test scale.
    "spark.sql.codegen.wholeStage": os.environ.get(
        "SPARK_GRAFT_CODEGEN", "false"),
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark cannot
    # read natively; read as long and normalize in tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Streaming state store (read at query start, so runtime-settable):
    # RocksDB + changelog checkpointing — bounded executor memory and
    # O(delta) per-batch checkpoint uploads at 100 TB state. See
    # _state_store_provider for the env override.
    "spark.sql.streaming.stateStore.providerClass":
        _state_store_provider(),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
}

# Static confs (need to be set before the JVM session starts).
_STATIC_CONF = {
    # Split target: on a real cluster 128 MiB is the right granularity
    # (100 TB -> ~800k input partitions across 1000 executors). The local
    # testdata is one small parquet file per table, so a 128 MiB target
    # would serialize every scan into a single task; default to 4 MiB
    # locally and let deployments override via env.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "4194304"),
    "spark.sql.files.openCostInBytes": "1048576",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # This host shows vCPU steal: a single task thread can stall for tens
    # of seconds while the rest of the stage finishes instantly.
    # Speculative re-attempts cap the damage (also the right setting on a
    # busy multi-tenant cluster).
    "spark.speculation": "true",
    "spark.speculation.interval": "200ms",
    "spark.speculation.multiplier": "3",
    "spark.speculation.quantile": "0.75",
    "spark.sql.shuffle.partitions": "auto",  # replaced below
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    # Arrow batch rows for the mapInArrow/pandas stages. The r19 conf
    # A/B (interleaved, 2000/10000/50000 on the decode + multimodal
    # queries) read flat at fixture scale — tasks carry fewer rows than
    # any cap, so one batch per task either way. The knob matters at
    # real volumes (bounds per-batch Python/Arrow memory for the
    # 375-wide decode schema); deployments size it via env, and a
    # byte-bounded deployment should prefer
    # spark.sql.execution.arrow.maxBytesPerBatch where available.
    "spark.sql.execution.arrow.maxRecordsPerBatch": os.environ.get(
        "SPARK_GRAFT_ARROW_BATCH_ROWS", "10000"),
    "spark.ui.enabled": "false",
}


def n_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an existing session (idempotent)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable at runtime in this build -- skip
            pass
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_cpus()))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "solana-event-stream-spark",
              master: str | None = None) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession."""
    cpus = n_cpus()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]")
    conf = dict(_STATIC_CONF)
    conf["spark.sql.shuffle.partitions"] = str(cpus)
    for k, v in conf.items():
        builder = builder.config(k, v)
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
