"""Host sizing and memory sampling for benchmark runs.

Every Spark session the benchmark starts is sized from the host it runs
on: ``local[<cpus>]`` over the CPUs this process may use, and a driver
heap that is a fixed share of MemTotal (the engine's own 48g default is
larger than many hosts' RAM). All scratch space stays inside the
checkout's work directory.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from dataclasses import asdict, dataclass
from pathlib import Path

# Share of MemTotal given to the driver heap. The JVM's resident size
# runs above its heap (metaspace, code cache, direct buffers, Python
# workers beside it), and the host may be shared, so this stays well
# below half of physical memory.
HEAP_SHARE = 0.25


@dataclass(frozen=True)
class Host:
    cpus: int
    mem_total_mb: int
    heap_mb: int
    source_digest: str

    def as_dict(self) -> dict:
        return asdict(self)

    def key(self) -> str:
        """Results are only comparable between runs with the same key."""
        return f"cpus={self.cpus},mem_total_mb={self.mem_total_mb},heap_mb={self.heap_mb}"


def mem_total_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no MemTotal in {meminfo}")


def source_digest(root: Path) -> str:
    """Identity of the engine sources under test. The benchmark may run
    from a plain file tree, not a git checkout, so it hashes the files
    instead of asking git for a commit."""
    h = hashlib.sha256()
    for p in sorted((root / "tsengine").glob("*.py")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def configure(root: Path, work: Path) -> Host:
    """Set the process environment that every session of this run
    inherits: heap, scratch directories and the Python path of the
    Spark workers (which start in another directory and would otherwise
    fail with ModuleNotFoundError: tsengine)."""
    cpus = len(os.sched_getaffinity(0))
    total = mem_total_mb()
    heap = int(total * HEAP_SHARE)
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TSENGINE_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + path if path else "")
    return Host(cpus, total, heap, source_digest(root))


def spark_conf(work: Path, host: Host) -> dict[str, str]:
    """Session settings that keep the JVM's scratch in the checkout and
    its heap resident from the start."""
    java = [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-XX:-UsePerfData",  # no hsperfdata files in the system temp directory
        # The heap is committed and touched at start-up. Otherwise its
        # resident size follows the collector's adaptive sizing, and the
        # peak RSS of the same pass swings between 2.3 and 4 GB.
        f"-Xms{host.heap_mb}m",
        "-XX:+AlwaysPreTouch",
    ]
    return {
        "spark.driver.extraJavaOptions": " ".join(java),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = Path(f"/proc/{pid}/task")
    try:
        tids = [t.name for t in task_dir.iterdir()]
    except OSError:
        return out
    for tid in tids:
        try:
            out.extend(int(c) for c in (task_dir / tid / "children").read_text().split())
        except OSError:
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    seen: list[int] = []
    stack = _children(pid)
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(_children(p))
    return seen


def _jvm_and_python(pid: int) -> list[int]:
    """This process's children (the Spark JVM) and the Python processes
    below them. Other descendants are left out: a child the JVM spawns
    shares the JVM's address space until it execs, and would count the
    whole JVM twice."""
    out = _children(pid)
    for p in descendants(pid):
        try:
            exe = os.path.basename(os.readlink(f"/proc/{p}/exe"))
        except OSError:
            continue
        if exe.startswith("python") and p not in out:
            out.append(p)
    return out


class PeakRss:
    """Samples, every ``interval`` seconds, the summed resident size of
    the Spark JVM and the Python workers below it. This process's own
    interpreter is not counted. RSS counts pages shared by forked workers
    once per process, as ``ps`` does."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, pid: int) -> None:
        total = sum(_rss_kb(p) for p in _jvm_and_python(pid))
        self.peak_kb = max(self.peak_kb, total)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_children(timeout: float = 30.0) -> None:
    """Wait until every process this one started has exited."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
