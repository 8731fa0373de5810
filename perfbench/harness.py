"""Shared machinery of the benchmark.

- a private scratch root inside the checkout, deleted at the end;
- the benchmark-owned Spark session (start, and a stop that waits for
  the JVM to exit);
- peak resident memory and CPU time of the process tree, read from
  ``/proc``;
- :class:`Recorder`: times every call into the engine's public
  functions, counts attempted and failed operations, and (traced runs
  only) records spans;
- :class:`SparkLedger`: job and stage records read from Spark's
  ``AppStatusStore`` (the same ``jobsList``/``stageList`` calls
  ``plans/metrics.py::StageMetricsProbe`` makes).

Importing this module starts no thread, process or JVM.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "svdmovie_lens_parallel_apache_spark_spark"
# local mode is one JVM: this is the whole engine's heap. The engine's
# own default (48g) is sized for a large host.
DRIVER_MEM = "2g"


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def quantile(values, q: float) -> float:
    """Linearly interpolated quantile (NumPy's default rule)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(FileNotFoundError):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes sharing it, so forked Python workers are not
    counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree(root_pid: int) -> list[tuple[int, list[str]]]:
    """(pid, /proc/<pid>/stat fields after the command name) of
    ``root_pid`` and every descendant (the JVM and the Python workers
    it forks)."""
    children: dict[int, list[int]] = defaultdict(list)
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: split after it
        fields = stat[stat.rfind(")") + 2:].split()
        stats[int(name)] = fields
        children[int(fields[1])].append(int(name))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        stack.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes (PSS) of ``root_pid`` and every descendant."""
    return sum(_pss_bytes(pid) for pid, _f in _tree(root_pid))


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int = 0) -> float:
    """CPU seconds (user + system, waited-for children included) used so
    far by this process and every descendant. Time the hypervisor gave
    to other guests is not in it."""
    # fields 14-17 of /proc/<pid>/stat, counted after the command name
    return sum(
        sum(int(x) for x in f[11:15]) for _pid, f in _tree(root_pid or os.getpid())
    ) / _TICK


class RssSampler:
    """Peak of :func:`tree_rss_bytes` over this process, sampled on a
    background thread every ``period`` seconds between start and stop.

    The peak is taken over the median of each three consecutive
    samples: a walk of ``/proc`` that races a fork reads the parent
    before the fork and the child after it, counting shared pages
    one and a half times for that one sample."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="perfbench-rss", daemon=True
        )

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        pid = os.getpid()
        last: list[int] = []
        while not self._stop.is_set():
            last = last[-2:] + [tree_rss_bytes(pid)]
            self.peak_bytes = max(self.peak_bytes, sorted(last)[len(last) // 2])
            self._stop.wait(self.period)


# ---------------------------------------------------------------------------
# private root + session
# ---------------------------------------------------------------------------


class Sandbox:
    """Private scratch root under the checkout; every temp, spill, table
    and checkpoint directory of a run lives in it. Removed on close."""

    def __init__(self):
        base = os.path.join(REPO, ".perfbench_tmp")
        os.makedirs(base, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=base)
        self.tmp = self.path("tmp")
        os.makedirs(self.tmp)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.root))


def start_session(box: Sandbox):
    """The benchmark's session on ``local[min(4, nproc)]``: the engine's
    own defaults (``session.get_spark``) plus what keeps a run private
    and quiet."""
    local = box.path("spark-local")
    os.makedirs(local)
    # read by the engine's session module at import time
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = box.tmp
    tempfile.tempdir = box.tmp
    # every JVM of the run (launcher and driver) skips /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    # Python workers unpickle the engine's functions by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    from svdmovie_lens_parallel_apache_spark_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{min(4, os.cpu_count() or 1)}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": box.path("warehouse"),
            # the heap starts at its pinned size, so resident memory
            # does not depend on when the collector chose to grow it
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={box.tmp} -Dderby.system.home={box.root}"
            ),
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# timing, spans, failures
# ---------------------------------------------------------------------------


class OpFailed(RuntimeError):
    """An engine call raised; the workload's state is no longer known."""


class Tracer:
    """In-memory spans: name, start, end, parent index, run id. Off by
    default; when off, :meth:`span` records nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[list] = []  # [name, start, end, parent]
        self.overhead_s = 0.0
        self._stack: list[int] = []
        # perf_counter -> epoch seconds, to line spans up with Spark's
        # job and stage timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = [name, 0.0, 0.0, parent]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec[1] = time.perf_counter()
        self.overhead_s += rec[1] - t_in
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec[2]

    def epoch_ms(self, t: float) -> float:
        return (t + self.epoch_offset) * 1000.0

    def windows(self, name: str, t0: float, t1: float) -> list[tuple[float, float]]:
        """Epoch-ms intervals of the spans called ``name`` that start
        inside [t0, t1] (perf_counter seconds)."""
        return [
            (self.epoch_ms(s), self.epoch_ms(e))
            for n, s, e, _p in self.spans
            if n == name and t0 <= s <= t1
        ]

    def self_times(self, t0: float, t1: float) -> dict[str, float]:
        """Seconds of self time per layer (span name up to the first
        dot) for spans that start inside [t0, t1]: a span's duration
        minus the part its children cover."""
        child = defaultdict(float)
        for _n, s, e, parent in self.spans:
            if parent is not None:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (name, s, e, _p) in enumerate(self.spans):
            if t0 <= s <= t1:
                out[name.split(".")[0]] += (e - s) - child[i]
        return dict(out)

    def to_json(self) -> list[dict]:
        return [
            {
                "run": self.run_id, "id": i, "name": n, "parent": p,
                "start_ms": self.epoch_ms(s), "end_ms": self.epoch_ms(e),
            }
            for i, (n, s, e, p) in enumerate(self.spans)
        ]


class Recorder:
    """Times each engine call and each workload phase, and counts
    attempted and failed operations.

    ``call`` is the only way a workload reaches the engine: one call is
    one attempted operation; a raise is a failed one (and aborts the
    workload via :class:`OpFailed`); a failed :meth:`check` marks the
    most recent call failed. Samples are kept only while ``measuring``.
    """

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.measuring = False
        self.attempted = 0
        self._failed: set[int] = set()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.phases: dict[str, list[tuple[int, float]]] = defaultdict(list)  # (round, s)
        self.rounds: list[float] = []
        self.round_cpu: list[float] = []
        self.measured_calls = 0
        self.notes: list[str] = []

    @property
    def failed(self) -> int:
        return len(self._failed)

    def call(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        op = self.attempted
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn(*args, **kwargs)
        except Exception as e:
            self._failed.add(op)
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(f"{name}: {type(e).__name__}: {e}") from e
        if self.measuring:
            self.samples[name].append(time.perf_counter() - t0)
            self.measured_calls += 1
        return out

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self._failed.add(self.attempted)
            self.notes.append(what)
            log("CHECK FAILED:", what)
        return bool(ok)

    @contextlib.contextmanager
    def phase(self, kind: str):
        t0 = time.perf_counter()
        yield
        if self.measuring:
            self.phases[kind].append((len(self.rounds), time.perf_counter() - t0))

    def phase_per_round(self, kind: str) -> list[float]:
        """Seconds spent in ``kind`` phases, summed per measured round."""
        per = [0.0] * len(self.rounds)
        for i, dt in self.phases[kind]:
            if i < len(per):
                per[i] += dt
        return per

    @contextlib.contextmanager
    def round(self):
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with self.tracer.span("bench.round"):
            yield
        if self.measuring:
            self.rounds.append(time.perf_counter() - t0)
            self.round_cpu.append(tree_cpu_s() - c0)


# ---------------------------------------------------------------------------
# Spark's status store
# ---------------------------------------------------------------------------


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


class SparkLedger:
    """Job and stage records of this application, read once at the end
    of a traced run. Times are epoch milliseconds."""

    def __init__(self, spark):
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        empty = gw.jvm.java.util.Collections.emptyList()
        seq = store.jobsList(empty)
        self.jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            self.jobs.append({
                "submit": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
            })
        seq = store.stageList(empty, False, False, gw.new_array(gw.jvm.double, 0), empty)
        self.stages = []
        for i in range(seq.size()):
            s = seq.apply(i)
            submit = _opt_ms(s.submissionTime())
            if submit is None:  # skipped: never ran
                continue
            self.stages.append({
                "submit": submit,
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
            })

    def jobs_in(self, windows) -> list[dict]:
        return [
            j for j in self.jobs
            if j["submit"] is not None and _inside(j["submit"], windows)
        ]

    def stages_in(self, windows) -> list[dict]:
        return [s for s in self.stages if _inside(s["submit"], windows)]

    def summary(self, t0_ms: float, t1_ms: float) -> dict[str, float]:
        """The ``spark.*`` per-layer metrics over one window."""
        win = [(t0_ms, t1_ms)]
        jobs = self.jobs_in(win)
        stages = self.stages_in(win)
        intervals = sorted(
            (j["submit"], min(j["end"] or t1_ms, t1_ms)) for j in jobs
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.task_busy_s": sum(s["run_ms"] for s in stages) / 1000.0,
            "spark.job_busy_s": sum(e - s for s, e in intervals) / 1000.0,
            "spark.driver_gap_s": ((t1_ms - t0_ms) - covered) / 1000.0,
            "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
            "spark.failed_tasks": sum(s["failed_tasks"] for s in stages),
        }


def _inside(t: float, windows) -> bool:
    return any(a <= t <= b for a, b in windows)


