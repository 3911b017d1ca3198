"""SparkSession factory tuned for this engine.

Defaults target the test/bench harness (single JVM, ``local[N]``) but every
knob is chosen to also be the right default on a real multi-executor
cluster at 100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- ANSI off: the reference's semantics are permissive — every parse/cast
  failure becomes NULL (pandas ``errors="coerce"``, see SURVEY §2 N2/D1);
  Spark 4 defaults ANSI on, which would raise instead.
- Session timezone UTC so timestamp arithmetic matches the DuckDB oracle
  bit-for-bit regardless of host timezone.
- Arrow enabled for the (rare) Pandas-UDF paths.
- Broadcast threshold left at default 10 MB; dimension tables in this
  engine are all ≪ that, so dim joins plan as broadcast hash joins.
- Generated-class cache sized to the engine's working set, not to
  Spark's default of 100 entries. One star build plus its warehouse
  write (``build_star`` + ``sources/sinks.write_warehouse``) fills 118
  entries from 84 distinct sources, a class compiled on the driver and
  again on a task thread being two entries. At 100 entries every warm
  pass recompiled 136-143 classes and the JIT then recompiled those;
  at 1000 a warm pass compiles none. Class names carry no codegen
  stage id: adaptive execution numbers stages in the order they are
  planned, so the same stage would otherwise miss the cache about one
  warm pass in ten (measured at sf0.001 and sf0.01).
- Streaming checkpoints written through the Hadoop ``FileSystem`` API
  (``FileSystemBasedCheckpointFileManager``), not Spark's default
  ``FileContext`` manager. Every micro-batch writes an offset and a
  commit log entry, plus one state-store delta per state partition,
  each as a temp-file create and a rename. Without the native Hadoop
  library the ``FileContext`` rename resolves symlinks by forking a
  ``readlink`` process. Measured on the stream benchmark's
  ``first_seen`` drain (10-copy replica, 8 state partitions, 4-core
  host): the pid counter advanced by about 890 per drain with the
  default manager and about 230 with this one (threads included), and
  the CPU of the JVM's exited children fell from 0.34-0.39 s to
  0.08-0.09 s; what is left is mostly the ``chmod`` each checksummed
  create still forks. Replay is unchanged: the metadata
  logs never overwrite, and ``FileSystem.rename`` refuses an existing
  target (the local file system included), so a state-store delta
  that a replayed batch writes again keeps the file the first attempt
  wrote, from the same pinned input and the same state below it. The
  conf is internal to Spark, so ``tests/test_streaming.py`` pins that
  Spark still builds this manager for a checkpoint path and fails
  loudly if it stops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Spark's supported spark.io.compression.codec short names.
_IO_CODECS = frozenset({"lz4", "lzf", "snappy", "zstd"})


def _io_codec() -> str:
    """The shuffle/spill block codec, validated EARLY: a typo in
    SPARK_GRAFT_IO_CODEC (e.g. 'zstandard') would otherwise surface as
    an opaque JVM ClassNotFound at the first shuffle — and in a
    session-reusing test run not at all, since getOrCreate() silently
    ignores configs once a session exists (ADVICE r16)."""
    codec = os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd").strip().lower()
    if codec not in _IO_CODECS:
        raise ValueError(
            f"SPARK_GRAFT_IO_CODEC={codec!r} is not a supported Spark codec; "
            f"choose one of {sorted(_IO_CODECS)}"
        )
    return codec


def get_spark(
    app_name: str = "nyc-opendata-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback ``local[*]``).
    ``shuffle_partitions`` defaults to the parallelism of the master — on a
    real cluster you would size this to ~2-3× total cores and let AQE
    coalesce; at 100 TB you'd raise it so post-shuffle partitions stay
    ≲ 200 MB.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Shuffle/spill/broadcast block codec (guide §2.3/§9): zstd's
        # better ratio wins exactly where shuffle+spill bytes dominate —
        # measured at the 100× replica: market_basket_pairs_relative
        # (the spill-heaviest pair stage) 49.0→34.9 s warm-min (−29%),
        # CPU-bound kernels (dedup_clusters, containment, q9) neutral;
        # sf0.1 bench neutral (tiny shuffles either way). Env override
        # for boxes where lz4's lower CPU cost wins instead.
        .config("spark.io.compression.codec", _io_codec())
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # generated-class cache (a static conf), see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # checkpoint logs and state deltas through FileSystem renames,
        # see the module docstring
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # managed-table location for bucketed tables (sources/bucketed.py);
        # keep artifacts out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        # dynamic partition overwrite: re-running one backfill window
        # replaces only that window's partitions (operators/backfill.py)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
