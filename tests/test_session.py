"""SparkSession factory helpers (invertedfiles_jl_spark/session.py)."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from invertedfiles_jl_spark import worker_daemon
from invertedfiles_jl_spark.session import _is_tmpfs, daemon_module, driver_memory

MOUNTS = """\
/dev/vda / ext4 rw,relatime 0 0
tmpfs /dev/shm tmpfs rw,relatime 0 0
tmpfs /scratch tmpfs rw 0 0
/dev/vdb /scratch ext4 rw 0 0
/dev/vdc /srv ext4 rw 0 0
tmpfs /srv/fast tmpfs rw 0 0
"""


def test_is_tmpfs_reads_fs_type_not_path(tmp_path):
    mounts = tmp_path / "mounts"
    mounts.write_text(MOUNTS)
    m = str(mounts)
    assert _is_tmpfs("/dev/shm", m)
    assert _is_tmpfs("/dev/shm/spark-local", m)
    assert not _is_tmpfs("/dev/shmx", m)          # prefix of a name, not a dir
    assert not _is_tmpfs("/tmp/spark-local", m)   # on the ext4 root
    assert not _is_tmpfs("/scratch/x", m)         # later mount shadows tmpfs
    assert _is_tmpfs("/srv/fast/x", m)            # longest mount point wins
    assert not _is_tmpfs("/srv/slow", m)
    assert not _is_tmpfs("/dev/shm", str(tmp_path / "missing"))


@pytest.mark.skipif(not (os.path.isdir("/dev/shm") and
                         os.path.exists("/proc/mounts")),
                    reason="needs Linux /dev/shm and a mount table")
def test_is_tmpfs_live_mount_table():
    assert _is_tmpfs("/dev/shm/spark-local")
    # a checkout on a block device (nonzero major number) is never tmpfs
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.major(os.stat(repo).st_dev):
        assert not _is_tmpfs(repo)


def test_driver_memory_default_is_half_of_ram():
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * 2**30 // 4096}
    assert driver_memory({}, pages.__getitem__) == "7680m"
    assert driver_memory({"SPARK_DRIVER_MEMORY": "2g"},
                         pages.__getitem__) == "2g"
    # the live host: never more than it has
    mb = int(driver_memory({})[:-1])
    assert 0 < mb * 2**20 <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_daemon_module_only_for_local_masters():
    for master in ("local", "local[8]", "local[*]", "local[4,2]"):
        assert daemon_module(master, {}) == "invertedfiles_jl_spark.worker_daemon"
    # a cluster daemon starts before --py-files reach the executor
    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443",
                   "local-cluster[2,1,1024]"):
        assert daemon_module(master, {}) is None
    # under spark-submit the JVM never saw get_spark's PYTHONPATH
    assert daemon_module("local[8]", {"PYSPARK_GATEWAY_PORT": "4040"}) is None


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_lazy_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(str(archive))
    original = zipimport.zipimporter.invalidate_caches
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read_directory(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.lazy_invalidate(original))

    worker_daemon.stamp_importers([importer, object()])
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []
    assert importer.find_spec("b") is None

    _write_zip(archive, ["a", "b"])
    importer.invalidate_caches()
    assert reads == [str(archive)]
    assert importer.find_spec("b") is not None
    importer.invalidate_caches()
    assert len(reads) == 1

    # an importer never stamped reads once, then is stamped
    fresh = zipimport.zipimporter(str(archive))
    fresh.invalidate_caches()
    fresh.invalidate_caches()
    assert len(reads) == 2


def test_importing_worker_daemon_patches_nothing():
    before = zipimport.zipimporter.invalidate_caches
    importlib.reload(worker_daemon)
    assert zipimport.zipimporter.invalidate_caches is before
    assert before.__qualname__ == "zipimporter.invalidate_caches"


def test_python_tasks_skip_unchanged_archives(spark):
    def zip_rereads(_):  # nested: pickled by value into the worker
        import importlib as il
        import zipimport as zi

        calls = []
        read_directory = zi._read_directory
        zi._read_directory = lambda p: calls.append(p) or read_directory(p)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read_directory
        yield len(calls)

    assert (spark.conf.get("spark.python.daemon.module")
            == "invertedfiles_jl_spark.worker_daemon")
    rereads = (spark.sparkContext.parallelize(range(4), 4)
               .mapPartitions(zip_rereads).collect())
    assert rereads == [0, 0, 0, 0]


def test_python_tasks_import_this_package_from_any_cwd(tmp_path):
    """A driver whose working directory holds a decoy
    ``invertedfiles_jl_spark``: its Python tasks must still import this
    package, though Spark starts the daemon with ``python -m`` in that
    directory."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    decoy = tmp_path / "checkout" / "invertedfiles_jl_spark"
    decoy.mkdir(parents=True)
    (decoy / "__init__.py").write_text("")
    (decoy / "worker_daemon.py").write_text(
        "from pyspark.daemon import manager\n\nmanager()\n")
    driver = tmp_path / "driver.py"
    driver.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from invertedfiles_jl_spark.session import get_spark

        def where(_):
            import invertedfiles_jl_spark
            yield invertedfiles_jl_spark.__file__

        spark = get_spark("daemon-cwd", master="local[1]")
        rdd = spark.sparkContext.parallelize([0], 1)
        print("PACKAGE", rdd.mapPartitions(where).collect()[0])
        spark.stop()
    """))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               SPARK_LOCAL_DIRS=str(tmp_path))
    proc = subprocess.run([sys.executable, str(driver)], cwd=decoy.parent,
                          capture_output=True, text=True, env=env,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    real = os.path.join(repo, "invertedfiles_jl_spark", "__init__.py")
    assert f"PACKAGE {real}" in proc.stdout, proc.stdout
