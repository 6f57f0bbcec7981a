"""Host settings the benchmark pins, and the host record it keeps per run."""

from __future__ import annotations

import os


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: str) -> None:
    """Keep every file Spark and Python write inside ``run_dir``.

    Must run before the JVM starts: ``SPARK_LOCAL_DIRS`` (shuffle, spill,
    local checkpoints) is read at launch, and ``tempfile`` caches ``TMPDIR``
    on first use."""
    for key, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[key] = os.path.join(run_dir, sub)
        os.makedirs(os.environ[key], exist_ok=True)


def spark_conf(run_dir: str) -> dict[str, str]:
    """Session settings that pin the driver heap, where the JVM writes and
    what it prints. ``get_spark`` would otherwise take the heap from
    ``SPARK_GRAFT_DRIVER_MEM``; the master and shuffle partitions are passed
    to it explicitly, since it falls back to ``local[32]``."""
    return {
        "spark.driver.memory": "8g",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
        # -XX:-UseDynamicNumberOfCompilerThreads: the JIT compiler threads
        # live as long as the JVM, so CpuMeter can leave all their time out
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        " -Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }


def _ppid(pid: int) -> int:
    # field 4 of /proc/<pid>/stat; comm (field 2) may contain spaces or
    # parens, so parse from the LAST ')'
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    return int(stat[stat.rindex(")") + 2:].split()[1])


def _is_descendant(pid: int, ancestor: int) -> bool:
    p = pid
    for _ in range(64):
        if p == ancestor:
            return True
        if p <= 1:
            return False
        p = _ppid(p)
    return False


def _java_pids() -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/comm") as f:
                if f.read().strip() == "java":
                    pids.append(int(entry))
        except OSError:
            continue
    return pids


def own_jvms() -> list[int]:
    """Java processes started by this process (the local-mode JVM)."""
    me, pids = os.getpid(), []
    for pid in _java_pids():
        try:
            if _is_descendant(pid, me):
                pids.append(pid)
        except (OSError, ValueError):
            continue
    return pids


def foreign_jvms() -> int:
    """Java processes on the host that this process did not start. A
    process that vanishes mid-walk counts as foreign: over-counting a dying
    JVM beats under-counting a live one."""
    me, count = os.getpid(), 0
    for pid in _java_pids():
        try:
            own = _is_descendant(pid, me)
        except (OSError, ValueError):
            own = False
        count += not own
    return count


def probe() -> dict:
    """Load average and foreign-JVM count at one moment."""
    la1, la5, la15 = os.getloadavg()
    return {
        "load1": round(la1, 2),
        "load5": round(la5, 2),
        "load15": round(la15, 2),
        "foreign_jvms": foreign_jvms(),
        "nproc": nproc(),
    }


def _stat_cpu(path: str) -> float:
    """User + system seconds in a ``/proc/.../stat`` file (fields 14-15;
    comm may contain spaces or parens, so parse from the LAST ')')."""
    with open(path) as f:
        stat = f.read()
    fields = stat[stat.rindex(")") + 2:].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class CpuMeter:
    """CPU seconds spent so far by this process and the JVM it started,
    less the JVM's JIT compiler threads.

    The compiler threads are left out because their work is warm-up, not
    the job's: a catalog pass spends over half its CPU in them on the first
    warm repeat and a tenth by the sixth, so counting them would tie the
    figure to how many repeats a run made. The kernel charges neither
    count with time the hypervisor stole. A compiler thread that exits
    keeps its last reading, since the JVM's own total keeps its time; the
    time it spent after that reading would count as the job's, which is
    why ``spark_conf`` keeps the compiler threads alive."""

    COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self._names: dict[str, str] = {}  # thread id -> name
        self._compiler: dict[str, float] = {}  # thread id -> CPU at last reading

    def read(self) -> float:
        t = os.times()
        total = t.user + t.system + _stat_cpu(f"/proc/{self.jvm_pid}/stat")
        tasks = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(tasks):
            try:
                if tid not in self._names:
                    with open(f"{tasks}/{tid}/comm") as f:
                        self._names[tid] = f.read().strip()
                if self._names[tid].startswith(self.COMPILER_THREADS):
                    self._compiler[tid] = _stat_cpu(f"{tasks}/{tid}/stat")
            except OSError:  # the thread exited meanwhile
                continue
        return total - sum(self._compiler.values())


def steal_seconds() -> float:
    """Time the hypervisor stole from all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (``VmHWM``) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
