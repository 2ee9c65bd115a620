"""Host sizing, the Spark session the benchmark drives, and the worker
RSS sampler.

Everything the benchmark writes lives under ``<checkout>/.bench_work``:
Spark's local dirs, the warehouse, the JVM and Python temp dirs and the
generated input tables.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(total_mb: int) -> int:
    """A quarter of the box, between 1 and 8 GiB: local mode runs the
    whole JVM side in the driver, and the Python workers need the rest."""
    return max(1024, min(8192, total_mb // 4))


class Host:
    """What the run is sized from; stamped into every result."""

    def __init__(self, workload: str, seed: int):
        self.cpus = nproc()
        self.mem_mb = mem_total_mb()
        self.driver_mb = driver_mem_mb(self.mem_mb)
        self.workload = workload
        self.seed = seed
        self.work = os.path.join(WORK, workload)
        self.tmp = os.path.join(self.work, "tmp")

    def stamp(self) -> dict:
        return {
            "workload": self.workload, "seed": self.seed, "nproc": self.cpus,
            "mem_total_mb": self.mem_mb, "driver_mem_mb": self.driver_mb,
        }

    def prepare(self) -> None:
        """Fresh work dir and the process env the JVM and workers inherit."""
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.tmp)
        # Python workers import the package from the checkout
        old = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{self.driver_mb}m"
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp  # gettempdir() may be cached already
        # the launcher JVM of spark-submit must not write /tmp/hsperfdata
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass  # another workload's dir is still there

    def session(self):
        from ocr_pipeline_spark.plans.job import default_session

        spark = default_session(
            f"local[{self.cpus}]",
            app_name=f"perfbench-{self.workload}",
            shuffle_partitions=self.cpus,
            extra={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark


class CpuAccount:
    """Box-wide CPU shares over a window from /proc/stat: how busy the
    box was and how much time the hypervisor stole (co-tenant noise)."""

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def __enter__(self) -> "CpuAccount":
        self._start = self._read()
        self.result: dict = {}
        return self

    def __exit__(self, *exc) -> None:
        d = [b - a for a, b in zip(self._start, self._read())]
        total = sum(d[:8]) or 1  # user nice system idle iowait irq softirq steal
        self.result = {
            "busy_frac": round((total - d[3] - d[4] - d[7]) / total, 4),
            "steal_frac": round(d[7] / total, 4),
        }


# --- worker memory ------------------------------------------------------------
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every process visible in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited between listdir and open
        # comm may contain spaces; it is wrapped in the outermost parens
        lpar, rpar = raw.index("("), raw.rindex(")")
        ppid = int(raw[rpar + 2:].split()[1])
        table[int(name)] = (ppid, raw[lpar + 1:rpar])
    return table


def python_workers(jvm_pid: int) -> list[int]:
    """The Python processes descending from the JVM (the pyspark
    daemon and the workers it forks)."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, stack = [], list(children.get(jvm_pid, ()))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        if table[pid][1].startswith("python"):
            found.append(pid)
    return found


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited while sampling
    return total / (1 << 20)


class RssSampler:
    """Peak summed worker RSS over a window, sampled every `period` s.

    Walking /proc for the worker set costs ~2 ms, so it is refreshed
    every `rescan` samples; in between only the known workers are read,
    keeping the sampler off the cores the job runs on."""

    def __init__(self, jvm_pid: int, period: float = 0.1, rescan: int = 5):
        self.jvm_pid = jvm_pid
        self.period = period
        self.rescan = rescan
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, pids: list[int]) -> None:
        self.peak = max(self.peak, rss_mb(pids))

    def _run(self) -> None:
        n, pids = 0, []
        while not self._stop.is_set():
            if n % self.rescan == 0:
                pids = python_workers(self.jvm_pid)
            self._sample(pids)
            n += 1
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample(python_workers(self.jvm_pid))


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (stopping the context also stops the Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on stdin EOF
    gateway.proc.wait(timeout=60)
