"""SparkSession factory with engine defaults.

Tuned for Arrow-batched Python UDF pipelines over binary tile payloads;
designed for a multi-executor cluster (AQE on, skew-join on) and tested on
``local[N]``.  Local defaults are sized from the host: one core per CPU in
the process's affinity set, a driver heap of min(16g, half of physical RAM).

Two settings cut the fixed CPU every query pays; neither is an option.

- ``spark.sql.codegen.cache.maxEntries`` is ``CODEGEN_CACHE_ENTRIES``.
  Spark's default of 100 generated classes is smaller than one pass of the
  perfbench operator suite (145 classes), so every warm pass evicted and
  recompiled 88-104 of them at about 10 ms each.
- For ``local[...]`` masters, the Python worker daemon is
  ``homonim_spark.pydaemon``.  It stops every task from re-reading the
  directory of ``pyspark.zip``, 0.2-0.3 CPU-s per task before Python 3.13.

The daemon setting fails open: a UDF that runs without it must run with
it.  The daemon process has to import this package, so it is set only when
the package is a directory on disk (under ``--py-files`` the driver imports
it from a zip, and nothing changes) and only on a local master (an
executor host need not have that directory).  The package root is then
added to ``spark.executorEnv.PYTHONPATH``, ahead of any value the caller
passes in ``extra_conf``, so the daemon starts from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from homonim_spark.enums import ConfigError

_UNITS = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
_PKG_DIR = os.path.dirname(os.path.abspath(__file__))

#: About 2x the distinct generated classes that one ``tools/check_oracles.py``
#: session compiles (858 for its 56 queries at sf0.01, counted with a cache
#: of 2048); that tool warns when a run compiles more than this.
CODEGEN_CACHE_ENTRIES = 2048


def _ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` (Spark size syntax; a bare number is MiB),
    else min(16g, half of physical RAM); a heap beyond RAM fails here."""
    ram = _ram_bytes()
    req = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not req:
        return f"{min(16 * 2**10, ram // 2**21)}m"
    v = req.strip().lower()
    if int(v.rstrip("kmgt")) * _UNITS.get(v[-1], 2**20) > ram:
        raise ConfigError(f"SPARK_GRAFT_DRIVER_MEM={req} exceeds this host's "
                          f"{ram / 2**30:.1f} GiB of physical RAM")
    return req


def get_spark(
    app_name: str = "homonim-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # local mode: match cores; on a cluster this is overridden per job
        cores = master.split("[")[-1].rstrip("]")
        shuffle_partitions = int(cores) if cores.isdigit() else 200
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan, skew-join splitting, partition coalescing —
        # the north_rule's explicit skew handling rides on this plus salting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast the side that fits (guide §3.1): the default 10 MB
        # threshold misses the engine's dimension tables and vector corpora
        # (e.g. a 20k×64-dim embedding corpus estimates ~11 MB), forcing
        # sort-merge joins whose shuffles dwarf a one-shot broadcast.  64 MB
        # is conservative against the 8 GB broadcast cap and any executor
        # profile that can run this engine's Arrow pipelines; joins whose
        # build side outgrows it (the 100 TB case) degrade gracefully to
        # the shuffled plans.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Coalescing merges shuffle partitions by BYTES.  The engine's
        # tile group stages are CPU-bound per byte and bytes-based
        # coalescing starves cores there (measured 4-6x on the fuse
        # exchange), so those exchanges pin an explicit partition count
        # (partitioning.pinned_repartition), which opts them out.  With the
        # hot exchanges pinned, coalescing is ON for the relational side:
        # metadata-scale shuffles at 4x-cores partitions paid ~3.5x in
        # per-task/per-block overhead (dedup_exact at sf1.0: 2.04 s @128
        # partitions vs 0.58 s @32 — round-6 measurement), exactly the
        # guide §2.2 small-block regime.  parallelismFirst (default true)
        # keeps parallelism near defaultParallelism rather than the 256 MB
        # advisory size; the 64k floor stops over-coalescing of small-byte
        # but CPU-heavy stages (regex profiling: ~0.5 MB/partition).
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Arrow is the only Python<->JVM path the engine uses.
        # Batch size: tile rows are ~40-300 KB of binary payload, so the
        # 10k default (and even 2048) builds multi-hundred-MB Arrow batches
        # that thrash the allocator on both sides of the socket; small-row
        # paths (id pairs, embeddings) instead pay per-batch overhead.
        # Round-6 interleaved A/B at the bench config: the fuse group stage
        # is flat across 256/512/1024 while the LSH verify path is ~20%
        # faster at ≥512 (9k batches → 2.2k), so 512 is the new default —
        # still ≤ tens of MB per batch for the fattest tile rows.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        # binary tile payloads make rows heavy; keep file partitions modest
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", _driver_memory())
        # event-time semantics (watermarks, NTZ→TIMESTAMP casts,
        # unix_timestamp/unix_micros) must not depend on the host's zone:
        # the DuckDB oracles read the same parquet NTZ values as UTC
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # progress bars share the terminal with the tools' own output and
        # break line-anchored log parsing
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    extra_conf = dict(extra_conf or {})
    if master.split("[")[0] == "local" and os.path.isdir(_PKG_DIR):
        b = b.config("spark.python.daemon.module", "homonim_spark.pydaemon")
        key = "spark.executorEnv.PYTHONPATH"
        extra_conf[key] = os.pathsep.join(
            p for p in (os.path.dirname(_PKG_DIR), extra_conf.get(key)) if p)
    for k, v in extra_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
