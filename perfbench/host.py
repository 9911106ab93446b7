"""Host and configuration record, process memory, and the run's scratch."""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import subprocess
import sys
import time


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def configure_env() -> None:
    """Settle the environment the session is built from, before any JVM
    starts: all cores of this host, and a driver heap that fits it (the
    engine's 24g default does not fit a 15 GB host; a quarter of RAM,
    at most 8g, leaves room for the Python side and the page cache)."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    if "SPARK_GRAFT_DRIVER_MEM" not in os.environ:
        gb = max(1, min(8, _meminfo_kb("MemTotal") // (4 << 20)))
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gb}g"


def _git_head(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest(root: str, package: str) -> str:
    """sha256 over the program's source files: what identifies the
    code in a checkout that is a plain copy of the files, without git."""
    h = hashlib.sha256()
    base = os.path.join(root, package)
    for dirpath, dirs, files in os.walk(base):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def record(root: str, package: str, spark_version: str) -> dict:
    """Host facts and the settings the run used."""
    du = shutil.disk_usage(root)
    head = _git_head(root)
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(_meminfo_kb("MemTotal") / (1 << 20), 1),
        "free_disk_gb": round(du.free / (1 << 30), 1),
        "git_head": head,
        "source_sha256": None if head else source_digest(root, package),
        "spark": spark_version,
        "python": platform.python_version(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "argv": sys.argv[1:],
    }


def retained_heap_mb(spark) -> float:
    """Driver heap in use once a full collection frees nothing more.
    Spark's ContextCleaner drops broadcast and shuffle state only after
    a collection has found its owner unreachable, so the first few
    collections after a run each free part of it; one collection reads
    anywhere between that state's size and none of it."""
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    last = float("inf")
    for _ in range(10):
        spark._jvm.System.gc()
        used = (rt.totalMemory() - rt.freeMemory()) / 2**20
        if last - used < 1.0:
            return used
        last = used
        # let the cleaner's thread release what this collection found
        time.sleep(0.5)
    return last


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after it
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process plus every
    process it started, which is the driver JVM in local mode."""
    me = os.getpid()
    kb = _status_kb(me, "VmHWM") + sum(_status_kb(p, "VmHWM") for p in _children(me))
    return kb / 1024.0
