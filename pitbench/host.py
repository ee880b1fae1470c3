"""Host and session facts for the run record, and peak RSS from /proc."""

from __future__ import annotations

import os
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def _engine_pids():
    """The JVM and Python workers this process started, found by walking its
    process tree."""
    kids = _children()
    todo = list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd or b"pyspark" in cmd:
            yield pid


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak RSS) over the JVM and its Python workers."""
    total = 0
    for pid in _engine_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


def cpu_s() -> float:
    """User plus system CPU seconds used so far by this process, the JVM and
    its Python workers, counting workers that have exited and been waited
    for. Time the hypervisor steals from the guest is not in it."""
    ticks = 0
    for pid in _engine_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                # utime, stime, cutime, cstime: fields 14-17, after the ')'
                ticks += sum(map(int, f.read().rsplit(")", 1)[1].split()[11:15]))
        except (OSError, ValueError):
            continue
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


def _fs_type(path: str) -> str:
    """Filesystem type of the mount that holds ``path``."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, parts[2]
    return fstype


def facts(spark) -> dict:
    """Cores, RAM, /dev/shm free, where shuffle files go, and the session
    settings that size the engine."""
    import pyspark

    with open("/proc/meminfo") as f:
        mem = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    shm = os.statvfs("/dev/shm")
    conf = spark.sparkContext.getConf()
    local_dir = os.environ.get("SPARK_LOCAL_DIRS") or conf.get("spark.local.dir", "/tmp")
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem["MemTotal"] / (1 << 20), 2),
        "dev_shm_free_gb": round(shm.f_bavail * shm.f_frsize / (1 << 30), 2),
        "master": spark.sparkContext.master,
        "local_dir": local_dir,
        "local_dir_fs": _fs_type(local_dir.split(",")[0]),
        # what get_spark itself chose; the benchmark keeps shuffle files in
        # its own directory, so this records the engine's decision only
        "session_local_dir": conf.get("spark.local.dir", None),
        "driver_memory": conf.get("spark.driver.memory", None),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "arrow_batch_rows": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "pyspark": pyspark.__version__,
    }
