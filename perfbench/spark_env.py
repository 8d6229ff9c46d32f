"""The benchmark's Spark session: its conf, its private temp tree, the
driver processes it reads, and a teardown that waits for them to end."""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import time

#: The fixture tables of TESTDATA.md; read only.
DATA_ROOT = "/root/testdata"

#: Heap of the single local JVM, which hosts every executor thread: it
#: fits a 15 GB machine with room for the Python side and DuckDB, and
#: it is small enough that old-generation collection keeps the peak RSS
#: of a run steady (with 6g it wandered between 1.9 and 3.4 GB). It is
#: also the initial heap: when the heap grew on demand, how far it grew
#: depended on collection timing, and the peak RSS of olap_bench_rows
#: runs wandered between 1.7 and 2.5 GB.
DRIVER_MEMORY = "3g"
#: a fixed young generation, for the same reason
YOUNG_GEN = "1g"


def cores() -> int:
    """CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def data_dir(sf: str) -> str:
    """Fixture directory for scale factor ``sf``; raises with a clear
    message when it is missing."""
    path = os.path.join(DATA_ROOT, f"sf{sf}")
    if not os.path.isfile(os.path.join(path, "orders.parquet")):
        raise FileNotFoundError(
            f"fixture directory {path} with orders.parquet is missing; "
            "the benchmark needs the fixture tables at sf0.1"
        )
    return path


class SparkEnv:
    """Owns a temp tree under ``root`` for the warehouse, Spark local
    dirs, derby and JVM temp files; starts one local session in it and
    removes it all in ``close``."""

    def __init__(self, root: str):
        self.tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=root)
        self.local_dir = os.path.join(self.tmp, "local")
        self.java_tmp = os.path.join(self.tmp, "jtmp")
        for d in (self.local_dir, self.java_tmp):
            os.makedirs(d)
        # Python temp files (py4j connection info, pyspark) and any
        # SPARK_LOCAL_DIRS inherited from the caller go into the tree.
        tempfile.tempdir = self.java_tmp
        os.environ["TMPDIR"] = self.java_tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        # the package's plan-memo switch: measure its default (on)
        os.environ.pop("MCS_PLAN_CACHE", None)
        self.spark = None
        self.jvm_pid: int | None = None

    def conf(self) -> dict[str, str]:
        from mariadb_columnstore_engine_spark.session import ENGINE_CONF

        java_opts = " ".join((
            ENGINE_CONF.get("spark.driver.extraJavaOptions", ""),
            f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}",
            f"-Djava.io.tmpdir={self.java_tmp}",
            f"-Dderby.system.home={self.tmp}",
        )).strip()
        return {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": self.local_dir,
            "spark.sql.warehouse.dir": os.path.join(
                self.tmp, "spark-warehouse"),
            # bench.py's scan split for the small sf0.1 files
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self):
        """``session.get_session`` on ``local[cores]`` with the
        benchmark conf; returns the session."""
        from mariadb_columnstore_engine_spark import session

        n = cores()
        self.spark = session.get_session(
            "perfbench", f"local[{n}]", shuffle_partitions=n,
            extra_conf=self.conf(),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(
            self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def resolved_conf(self) -> dict[str, str]:
        pairs = self.spark.sparkContext.getConf().getAll()
        return dict(sorted(pairs))

    # --- driver process readings -------------------------------------

    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # utime and stime are fields 14 and 15 of stat(5)
        ticks = int(fields[11]) + int(fields[12])
        return ticks / os.sysconf("SC_CLK_TCK")

    def jvm_gc_s(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        beans = mf.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def peak_rss_mb(self) -> float:
        """VmHWM of the JVM plus this Python process."""
        return (_vm_hwm_kb("self") + _vm_hwm_kb(str(self.jvm_pid))) / 1024

    # --- teardown ------------------------------------------------------

    def close(self) -> None:
        """Stop the session, end the JVM and the processes it started,
        wait for each, then remove the temp tree."""
        try:
            if self.spark is not None:
                self._stop_jvm()
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)

    def _stop_jvm(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        children = _descendants(self.jvm_pid) if self.jvm_pid else []
        try:
            self.spark.stop()
        finally:
            if gateway is not None:
                # PythonGatewayServer exits when its stdin closes; py4j's
                # own shutdown can block on the callback server's socket
                proc = gateway.proc
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — any wait failure
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            _reap(children)
            self.spark = None


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def _descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid`` (Python workers the JVM
    forked)."""
    parent_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent_of[int(entry)] = ppid
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        found += kids
        frontier += kids
    return found


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout: float = 10.0) -> None:
    """Wait for ``pids`` to end; kill what is left after ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
