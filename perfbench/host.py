"""Host shape: what a result must carry to be comparable.

A number is only compared against one taken on the same shape
(``cpus``, ``sf``, the workload and the software versions); comparing
across shapes raises :class:`ShapeMismatch`. Steal time is stamped over
the timed window so a run on a contended host can be told apart from a
regression.
"""

from __future__ import annotations

import os
import platform
import subprocess

SHAPE_KEYS = ("workload", "cpus", "sf", "python", "pyspark", "java")


class ShapeMismatch(ValueError):
    pass


class EnvError(RuntimeError):
    pass


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def prepare_env(work_dir: str, repo_root: str) -> int:
    """Pin the session to this host's shape before pyspark starts.

    ``session.get_spark`` reads ``SPARK_GRAFT_CPUS`` for both the master
    and the shuffle partition count and silently defaults to 32, so the
    benchmark sets it from the CPU count; an injected
    ``SPARK_GRAFT_CONF`` would change the engine under test, so it is
    refused outright."""
    if os.environ.get("SPARK_GRAFT_CONF", "").strip():
        raise EnvError(
            "SPARK_GRAFT_CONF is set; it injects session configs and makes "
            "results incomparable. Fix: run with `env -u SPARK_GRAFT_CONF`."
        )
    cpus = cpu_count()
    local_dirs = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    os.environ["TMPDIR"] = tmp  # Python's temp files stay inside the run directory
    # Python workers import the package too (pandas UDFs, foreachBatch).
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")
    return cpus


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


class StealWindow:
    """Hypervisor steal as a percent of all CPU ticks between
    construction and :meth:`pct`."""

    def __init__(self):
        self._t0, self._s0 = _cpu_ticks()

    def pct(self) -> float:
        t1, s1 = _cpu_ticks()
        dt = t1 - self._t0
        return round(100.0 * (s1 - self._s0) / dt, 3) if dt > 0 else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (``VmHWM``) of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def shape(workload: str, cpus: int, sf: float) -> dict:
    import pyspark

    return {
        "workload": workload,
        "cpus": cpus,
        "sf": sf,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version(),
    }


def check_same_shape(a: dict, b: dict) -> None:
    """Raise unless two results were taken on the same host shape."""
    diff = {k: (a.get(k), b.get(k)) for k in SHAPE_KEYS if a.get(k) != b.get(k)}
    if diff:
        raise ShapeMismatch(
            f"results have different host shapes {diff}; re-run both on one "
            "host shape before comparing"
        )
