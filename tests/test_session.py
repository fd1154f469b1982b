"""SparkSession factory helpers (invertedfiles_jl_spark/session.py)."""

from __future__ import annotations

import os

import pytest

from invertedfiles_jl_spark.session import _is_tmpfs, driver_memory

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
