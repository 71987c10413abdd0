"""SparkSession factory with the confs this library depends on.

Local mode is the test/bench proxy for a real cluster (TESTDATA.md);
partitioning decisions are made as if multi-executor: AQE on, Arrow on,
shuffle partitions sized to cores (not the 200 default).

Python workers start through :mod:`sketchlib._daemon`
(``spark.python.daemon.module``). Spark puts pyspark.zip, the py4j zip
and the spark-core jar first on every worker's ``sys.path``, and
PySpark's worker calls ``importlib.invalidate_caches()`` once per task,
which re-reads the directory of each of those archives (pyspark.zip
alone has 1,328 entries) through every ``zipimporter`` cached over them.
Measured on 4 vCPUs with ``get_spark(cores=4)``: the call costs 79-163
ms inside a worker, an empty 16-task ``mapInArrow`` job took 0.89 s and
3.2 core-s with the archives on the path and 0.33 s and 0.8 core-s
without them. The daemon drops the archives before pyspark is imported,
so workers import the pyspark the driver uses. It changes nothing when
the interpreter has no pyspark or py4j of its own, when a present
pyspark.zip holds another pyspark version, or when the JVM was started
without this package on ``PYTHONPATH`` (then the stock daemon runs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ensure_worker_pythonpath() -> str:
    """Put the directory holding the sketchlib package on ``PYTHONPATH``
    (first, unless it is there already) and return it. Python workers
    are separate processes: they see ``PYTHONPATH``, not the driver's
    ``sys.path``, and a JVM started after this call passes it on to them
    (cluster deployments ship :func:`build_pyfiles_zip` via
    ``--py-files`` instead)."""
    pp = os.environ.get("PYTHONPATH", "")
    if _PKG_PARENT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_PKG_PARENT}{os.pathsep}{pp}" if pp else _PKG_PARENT
    return _PKG_PARENT


def build_pyfiles_zip(out: str | None = None) -> str:
    """Zip the sketchlib package (its ``.py`` modules and ``.npz``
    tables) for ``spark-submit --py-files`` or ``SparkContext.addPyFile``
    and return the zip's path.

    Without ``out`` the zip is ``/tmp/sketchlib_pyfiles_<hash>.zip``,
    named by a hash of its members' paths and bytes: an existing zip of
    that name is reused, and workers never import a stale package after
    an edit."""
    import hashlib
    import zipfile

    members = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(os.path.join(_PKG_PARENT, "sketchlib"))
        if "__pycache__" not in root
        for f in files
        if f.endswith((".py", ".npz"))
    )
    if out is None:
        h = hashlib.sha256()
        for full in members:
            h.update(full.encode())
            with open(full, "rb") as fh:
                h.update(fh.read())
        out = f"/tmp/sketchlib_pyfiles_{h.hexdigest()[:16]}.zip"
        if os.path.exists(out):
            return out
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for full in members:
            z.write(full, os.path.relpath(full, _PKG_PARENT))
    return out


def run_concurrently(*thunks):
    """Run independent Spark actions concurrently and return the thunks'
    results in order (optimization guide §2.6: actions are only
    sequential because driver code calls them sequentially —
    overlapping independent jobs lets the next job's tasks back-fill
    executors freed by the current job's tail).

    Every thunk runs to completion before this returns or raises, so no
    job outlives the call. The first failing thunk's error is raised,
    and each later thunk's error is attached to it as a note, in thunk
    order whatever the order they failed in. ``InheritableThread`` so
    each job inherits the caller's job group and local properties (a
    streaming query's ``stop()`` can then cancel them). Safe with shared
    persisted frames, though two jobs that reach an uncached block at
    the same time may both compute it (the BlockManager keeps one)."""
    from pyspark import InheritableThread

    results = [None] * len(thunks)
    errs: list[BaseException | None] = [None] * len(thunks)

    def run(i):
        try:
            results[i] = thunks[i]()
        except BaseException as e:  # surfaced after all joins
            errs[i] = e

    threads = [InheritableThread(target=run, args=(i,)) for i in range(len(thunks))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    failed = [e for e in errs if e is not None]
    if failed:
        first = failed[0]
        for e in failed[1:]:
            first.add_note(f"concurrent failure: {type(e).__name__}: {e}")
        raise first
    return results


def _workers_see(pkg_parent: str) -> bool:
    """Whether Python workers of the next SparkContext start with
    ``pkg_parent`` on their path, so that they can run
    :mod:`sketchlib._daemon`: the JVM gives them its own environment,
    fixed when it started."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        # the JVM starts now from os.environ, unless a launcher
        # (spark-submit, the pyspark shell) started it already
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    pp = SparkContext._jvm.java.lang.System.getenv("PYTHONPATH") or ""
    return pkg_parent in pp.split(os.pathsep)


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """The driver heap :func:`get_spark` asks for by default: the smaller
    of 48g and half of ``phys_bytes``, the host's physical memory when
    not given (``os.sysconf``), in whole megabytes. A heap allowed to
    grow past the host's memory gets the JVM killed by the kernel's OOM
    killer instead of failing a task with an ``OutOfMemoryError``."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(48 * 1024, phys_bytes // 2 // 2**20))}m"


def get_spark(
    app: str = "sketchlib",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """A local session with the confs this library depends on (module
    docstring). ``driver_memory`` defaults to
    :func:`default_driver_memory`."""
    if driver_memory is None:
        driver_memory = default_driver_memory()
    pkg_parent = ensure_worker_pythonpath()
    daemon = _workers_see(pkg_parent)

    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    n_cores = os.cpu_count() if cores in ("*", None) else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * n_cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    if daemon:
        builder = builder.config("spark.python.daemon.module", "sketchlib._daemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
