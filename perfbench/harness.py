"""Run scaffolding shared by the workloads.

- ``Scratch``: the per-run directory every engine write goes to (tables,
  GeoParquet outputs, Spark local dirs, event logs). It lives under
  ``.perfbench_run/`` at the checkout root and is deleted when the run
  ends, so repeated runs leave the tree and the disk as they found them.
- ``Session``: starts, restarts and finally stops the Spark driver JVM
  and waits for its Python workers to exit.
- ``Recorder``: the closed-loop client. It times each op, runs the op's
  output check outside the timed region, and counts failures.
- ``reference_s``: a fixed plain-PySpark job timed beside the passes,
  the yardstick for the host's speed.
- ``Tracer``: spans around layer calls for ``--trace 1``, with one Spark
  job group per span so the event log attributes jobs to spans.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN_DIR = ROOT / ".perfbench_run"
OUT_DIR = ROOT / ".perfbench_out"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


REF_ROWS = 50_000
# a run samples the reference before its first pass, after each pass,
# and between ops once this many seconds have passed since the last
# sample, so a slow stretch inside a pass shows in the reference too
REF_EVERY_S = 4.0


def _double_x(batches):
    for pdf in batches:
        yield pdf.assign(x=pdf["x"] * 2.0)


def reference_s(spark) -> float:
    """Wall time of a fixed plain-PySpark job: a shuffle aggregate, a
    ``mapInPandas`` round trip through the Python workers and a trivial
    job. It calls nothing of the engine and runs in its own session with
    fixed SQL settings, so no change to the program moves it, while it
    shares the JVM, the Python workers and the CPUs with the workload.
    Dividing a pass's wall time by it cancels the host's speed at the
    time of the run, which on a shared machine can change severalfold
    from one stretch of minutes to the next."""
    from pyspark.sql import functions as F

    s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", str(cpus()))
    s.conf.set("spark.sql.adaptive.enabled", "true")
    t0 = time.perf_counter()
    df = s.range(0, REF_ROWS, numPartitions=cpus()).selectExpr(
        "id", "id % 101 AS k", "CAST(id AS DOUBLE) * 0.5 AS x")
    df.groupBy("k").agg(F.sum("x")).collect()
    df.mapInPandas(_double_x, df.schema).agg(F.sum("x")).collect()
    s.range(1).count()
    return time.perf_counter() - t0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> float:
    """The highest percentile with at least ten samples beyond it
    (0.0 with fewer than eleven samples)."""
    xs = sorted(xs)
    return float(xs[-11]) if len(xs) >= 11 else 0.0


class Scratch:
    """Per-run scratch root; ``close()`` deletes it."""

    def __init__(self, name: str):
        self.path = RUN_DIR / f"{name}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        self.path.mkdir(parents=True)
        tmp = self.sub("tmp")
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)

    def sub(self, *parts: str) -> Path:
        p = self.path.joinpath(*parts)
        p.mkdir(parents=True, exist_ok=True)
        return p

    def clear(self, *parts: str) -> None:
        shutil.rmtree(self.path.joinpath(*parts), ignore_errors=True)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        with contextlib.suppress(OSError):
            RUN_DIR.rmdir()  # only when no other run is using it


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Session:
    """The Spark driver for one run.

    ``start()`` builds the session through ``gedixr_spark.session.get_spark``;
    ``restart()`` stops the SparkContext and builds a new one in the same
    JVM (set-up is measured several times per run); ``close()`` stops the
    context, shuts the JVM down and waits for every process it started."""

    def __init__(self, scratch: Scratch, event_log: bool):
        self.scratch = scratch
        self.event_log_dir = scratch.sub("eventlog") if event_log else None
        self.spark = None

    def conf(self) -> dict[str, str]:
        s = self.scratch
        conf = {
            "spark.local.dir": str(s.sub("spark-local")),
            "spark.sql.warehouse.dir": str(s.sub("warehouse")),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={s.sub('tmp')} -XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log_dir is not None:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.event_log_dir}",
                "spark.eventLog.compress": "false",
            })
        return conf

    def start(self):
        from gedixr_spark.session import get_spark

        os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
        self.spark = get_spark("perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the driver JVM plus its Python
        workers: the sum of each live process's high-water mark."""
        pid = self.jvm_pid()
        if pid is None:
            return 0.0
        return sum(_hwm_kb(p) for p in descendants(pid)) / 1024.0

    def close(self) -> None:
        from pyspark import SparkContext

        pid = self.jvm_pid()
        procs = descendants(pid) if pid is not None else []
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for p in procs:
            while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
                try:
                    with open(f"/proc/{p}/stat") as f:
                        if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                            break  # exited; its parent reaps it
                except OSError:
                    break
                time.sleep(0.05)
            if os.path.exists(f"/proc/{p}") and time.monotonic() >= deadline:
                with contextlib.suppress(OSError):
                    os.kill(p, 9)


@dataclass
class Op:
    kind: str
    cls: str  # "write" or "read"
    pass_no: int
    wall: float
    ok: bool
    traced: bool
    plan_s: float = 0.0
    python_nodes: int = 0
    info: dict = field(default_factory=dict)


class Recorder:
    """Closed loop with one client: each op starts when the previous one
    has returned and its output has been checked."""

    def __init__(self, session: Session, tracer: "Tracer | None" = None):
        self.session = session
        self.tracer = tracer
        self.ops: list[Op] = []
        self.passes: list[dict] = []
        self.pass_no = 0
        self.traced = False
        self.peak_rss = 0.0
        self.spark = None  # set to sample the reference (end-to-end runs)
        self.ref: list[float] = []  # reference_s samples of this run
        self._ref_at = 0.0

    def sample_reference(self, force: bool = False) -> None:
        """Time the reference job, when forced or when REF_EVERY_S has
        passed since the last sample; never inside an op's timing."""
        if self.spark is not None and (
                force or time.perf_counter() - self._ref_at >= REF_EVERY_S):
            self.ref.append(reference_s(self.spark))
            self._ref_at = time.perf_counter()

    def op(self, kind, cls, build, execute=None, check=None):
        """Run one op: ``build()`` is the engine call that returns a
        frame or result (its eager jobs are the op's build phase);
        ``execute(frame)`` runs the final action. ``check(output)`` is
        the engine-independent output check; it is not timed. Returns
        the output, or None when the op raised."""
        tr = self.tracer if self.traced else None
        rec = Op(kind, cls, self.pass_no, 0.0, False, self.traced)
        if tr is not None:
            tr.op_seq += 1
            rec.info["op_id"] = tr.op_seq
        frame = out = None
        self.sample_reference()
        t0 = time.perf_counter()
        try:
            with _span(tr, f"op.{kind}.build", rec):
                frame = out = build()
            if execute is not None:
                with _span(tr, f"op.{kind}.execute", rec):
                    out = execute(frame)
            rec.wall = time.perf_counter() - t0
        except Exception as e:
            rec.wall = time.perf_counter() - t0
            rec.info["error"] = _describe(e)
            print(f"[perfbench] op {kind} raised: {rec.info['error']}", file=sys.stderr)
            out = None
        else:
            try:
                rec.ok = bool(check(out)) if check is not None else True
            except Exception as e:
                rec.info["error"] = "check raised " + _describe(e)
            if not rec.ok:
                rec.info["wrong"] = True
                print(f"[perfbench] op {kind} failed its output check "
                      f"{rec.info.get('error', '')}", file=sys.stderr)
        if tr is not None and frame is not None and hasattr(frame, "_jdf"):
            rec.plan_s, rec.python_nodes, rec.info["udf_nodes"] = plan_stats(frame)
        self.ops.append(rec)
        self.peak_rss = max(self.peak_rss, self.session.peak_rss_mb())
        return out if rec.ok else None

    def run_pass(self, body, rows: int) -> None:
        start = len(self.ops)
        body()
        ops = self.ops[start:]
        self.passes.append({
            "no": self.pass_no, "rows": rows, "traced": self.traced,
            "wall": sum(o.wall for o in ops),
        })
        print(f"[perfbench] pass {self.pass_no}{' traced' if self.traced else ''}: "
              f"{self.passes[-1]['wall']:.3f} s, ops "
              + " ".join(f"{o.kind}={o.wall:.2f}{'' if o.ok else '!'}" for o in ops),
              file=sys.stderr)
        self.pass_no += 1

    def end_to_end(self, setup_s: float) -> dict:
        walls = [p["wall"] for p in self.passes if not p["traced"]]
        ops = [o for o in self.ops if not o.traced]
        ref = median(self.ref)
        return {
            "setup_s": (setup_s, "s"),
            "pass_vs_ref": (median(walls) / ref if ref else 0.0, "x"),
            "ok_share": (sum(o.ok for o in ops) / len(ops) if ops else 0.0, "ratio"),
            "peak_rss_mb": (self.peak_rss, "MB"),
        }


def _describe(e: BaseException) -> str:
    java = getattr(e, "java_exception", None)
    text = str(java.toString()) if java is not None else str(e)
    first = (text.strip().splitlines() or [""])[0]
    return f"{type(e).__name__}: {first[:300]}"


def plan_stats(df) -> tuple[float, int, int]:
    """(analysis + optimization + planning seconds, Python-evaluating
    plan nodes, of which scalar-UDF nodes) of a DataFrame's executed
    query."""
    qe = df._jdf.queryExecution()
    it = qe.tracker().phases().iterator()
    ms = 0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    nodes = plan_nodes(qe.executedPlan().toString())
    return (ms / 1000.0, sum(1 for n in nodes if n.startswith(PYTHON_NODES)),
            sum(1 for n in nodes if n.startswith(UDF_NODES)))


UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")
PYTHON_NODES = UDF_NODES + ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                            "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                            "AggregateInPandas", "WindowInPandas")


def plan_nodes(plan: str) -> list[str]:
    """Node names of a physical plan's tree string, the final plan only
    when AQE printed both."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return [line.lstrip(" :+-*()0123456789").split(" ", 1)[0]
            for line in plan.splitlines()]


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    group: str


class Tracer:
    """Spans around layer calls. Each span sets its own Spark job group,
    so a job belongs to the innermost span open when it was submitted;
    the event log, parsed after the session stops, maps jobs to groups."""

    def __init__(self, session: Session):
        self.session = session
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._wrapped: list[tuple] = []
        self.op_seq = 0

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        sc = self.session.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.sid if parent else None, op_id, f"perfbench-span-{len(self.spans)}")
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        orig = getattr(module, attr)

        def traced(*a, **k):
            with self.span(name):
                out = orig(*a, **k)
            if on_result is not None:
                on_result(out)
            return out

        setattr(module, attr, traced)
        self._wrapped.append((module, attr, orig))

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._wrapped):
            setattr(module, attr, orig)
        self._wrapped.clear()

    # -- analysis, after the session has stopped ---------------------------
    def jobs_by_group(self) -> dict[str, list[tuple[float, float]]]:
        """{job group: [(submitted, completed) epoch seconds, ...]} from
        every event log of the run (one per SparkContext)."""
        out: dict[str, list[tuple[float, float]]] = {}
        d = self.session.event_log_dir
        # one event log per SparkContext: a file, or a directory of
        # rolled ``events_<n>_<app>`` files
        for app in sorted(d.iterdir()) if d else []:
            parts = (sorted(app.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
                     if app.is_dir() else [app])
            start: dict[int, tuple[str, int]] = {}
            for part in parts:
                with open(part) as fh:
                    for line in fh:
                        if '"SparkListenerJob' not in line[:40]:
                            continue
                        ev = json.loads(line)
                        if ev["Event"] == "SparkListenerJobStart":
                            g = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                            start[ev["Job ID"]] = (g, ev["Submission Time"])
                        elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in start:
                            g, t = start[ev["Job ID"]]
                            out.setdefault(g, []).append((t / 1000.0, ev["Completion Time"] / 1000.0))
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover
        (children of one span never overlap: the client is one thread)."""
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.sid: (s.end - s.start) - child[s.sid] for s in self.spans}

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        spans = [s.__dict__ for s in self.spans]
        path.write_text(json.dumps({"spans": spans, **extra}))


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals: jobs of one query
    can run concurrently (broadcast builds), so busy time is not their sum."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _span(tracer, name, rec):
    if tracer is None:
        return contextlib.nullcontext()
    return tracer.span(name, op_id=rec.info["op_id"])
