#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload gedi_extract --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

Run from the checkout root. The run generates its inputs from ``--seed``
under ``.perfbench_run/`` (deleted at exit), sets the session up three
times (the first in a cold JVM, the others as new SparkContexts in the
same JVM) and reports the median as ``setup_s``, then runs passes of the
workload in a closed loop with one client, checking every op's output
against an engine-independent expectation. A new pass starts only when it
is expected to end within ``--seconds``; the first one always runs.
Before, between and after the passes' ops it times a fixed
plain-PySpark reference job (``harness.reference_s``); ``pass_vs_ref``
is the median pass wall time over the reference's median time, so the
host's speed at the time of the run cancels out.

``--workload all`` runs every workload, each in its own process, and
prints one JSON object keyed by workload. ``--trace 0`` prints the
end-to-end metrics. ``--trace 1`` runs with the
Spark event log on, alternates untraced and traced passes (at least three
passes, spans around each layer call), prints the per-layer metrics and
writes the spans to ``.perfbench_out/<workload>-trace.json`` (the
latest traced run of each workload).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

SETUPS = 3
TRIVIAL_JOBS = 10


def workloads():
    from perfbench.corpus import CorpusDedup
    from perfbench.gedi import GediExtract
    from perfbench.lakehouse import LakehouseMixed

    return {w.name: w for w in (GediExtract, LakehouseMixed, CorpusDedup)}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="a workload name, or 'all'")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def run(args) -> dict:
    from perfbench.harness import OUT_DIR, Recorder, Scratch, Session, Tracer, median, reference_s

    wl_cls = workloads()[args.workload]
    t_start = time.perf_counter()

    def phase(name):
        print(f"[perfbench] {name} at {time.perf_counter() - t_start:.2f} s", file=sys.stderr)

    scratch = Scratch(args.workload)
    try:
        session = Session(scratch, event_log=bool(args.trace))
        tracer = Tracer(session) if args.trace else None
        rec = Recorder(session, tracer)
        setups, starts, per_job = [], [], []
        try:
            wl = wl_cls(scratch, args.seed, args.scale)
            phase("inputs generated")
            for i in range(SETUPS):
                t0 = time.perf_counter()
                spark = session.start() if i == 0 else session.restart()
                starts.append(time.perf_counter() - t0)
                wl.warm_up(spark)
                setups.append(time.perf_counter() - t0)
                phase(f"setup {i} took {setups[-1]:.2f} s")
            if args.trace:
                for _ in range(TRIVIAL_JOBS):
                    t0 = time.perf_counter()
                    spark.range(1).count()
                    per_job.append(time.perf_counter() - t0)
            if not args.trace:
                # the reference job: once to warm it, then sampled
                # before, between and after the passes
                reference_s(spark)
                rec.spark = spark
                rec.sample_reference(force=True)
            wl.start(spark, traced=bool(args.trace))
            # closed loop: another pass starts only when it is expected
            # to end within --seconds (the first one always runs), so a
            # run measures whole passes and its length stays predictable
            t0 = time.perf_counter()
            elapsed = pass_s = 0.0
            # a traced run alternates untraced and traced passes after a
            # first untraced pass, so overhead compares passes equally warm
            min_passes = 3 if args.trace else 1
            while rec.pass_no < min_passes or elapsed + pass_s <= args.seconds:
                rec.traced = bool(args.trace) and rec.pass_no % 2 == 1
                if rec.traced:
                    wl.trace_hooks(tracer)
                begun = time.perf_counter()
                try:
                    wl.run_pass(spark, rec)
                finally:
                    if tracer is not None:
                        tracer.unwrap()
                pass_s = time.perf_counter() - begun
                rec.sample_reference(force=True)
                elapsed = time.perf_counter() - t0
        finally:
            phase("passes done, reference job "
                  + " ".join(f"{x:.3f}" for x in rec.ref) + " s")
            session.close()  # flushes the event log the trace analysis reads
            phase("session closed")
        if args.trace:
            metrics = per_layer(wl, rec, tracer, median(starts), median(per_job))
            tracer.dump(OUT_DIR / f"{args.workload}-trace.json",
                        {"ops": [o.__dict__ for o in rec.ops], "passes": rec.passes})
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in rec.end_to_end(median(setups)).items()}
    finally:
        scratch.close()
    return {
        # an op that raised counts in ``failed``; ``correct`` turns false
        # only when an op returned an output that failed its check
        "correct": not any(o.info.get("wrong") for o in rec.ops),
        "attempted": len(rec.ops),
        "failed": sum(1 for o in rec.ops if not o.ok),
        "metrics": metrics,
    }


def per_layer(wl, rec, tracer, start_s: float, per_job_s: float) -> dict:
    from perfbench.harness import covered, median
    from perfbench.metrics import PER_LAYER, SELF_LAYERS, VERSIONED_OPS

    jobs = tracer.jobs_by_group()
    spans = tracer.spans
    kids: dict[int, list] = {s.sid: [] for s in spans}
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.sid)
    n_jobs, intervals = {}, {}
    for s in reversed(spans):  # children have larger ids than their parent
        intervals[s.sid] = jobs.get(s.group, []) + [
            iv for c in kids[s.sid] for iv in intervals[c]]
        n_jobs[s.sid] = len(intervals[s.sid])
    busy = {sid: covered(ivs) for sid, ivs in intervals.items()}
    self_t = tracer.self_times()
    op_of = {o.info["op_id"]: o for o in rec.ops if o.traced}
    traced = [p for p in rec.passes if p["traced"]]
    by_pass: dict[int, list] = {p["no"]: [] for p in traced}
    for s in spans:
        o = op_of.get(s.op_id)
        if o is not None:
            by_pass[o.pass_no].append(s)

    def dur(s):
        return s.end - s.start

    def layer(prefixes, f):
        """Median over traced passes of f summed over matching spans."""
        return median([sum(f(s) for s in ss if s.name.startswith(prefixes))
                       for ss in by_pass.values()])

    out = {name: 0.0 for name, _ in PER_LAYER}
    out["session.start_s"] = start_s
    out["session.per_job_s"] = per_job_s
    for metric, prefixes in (("hdf5.build", ("hdf5.",)),
                             ("joins.build", ("joins.",)),
                             ("raster.build", ("raster.",)),
                             ("dedup.build", ("dedup.",))):
        out[f"{metric}_s"] = layer(prefixes, dur)
        out[f"{metric}_jobs"] = layer(prefixes, lambda s: n_jobs[s.sid])
    out["text.build_s"] = layer(("text.",), dur)
    out["sampling.build_s"] = layer(("sampling.",), dur)
    out["cdc.mirror_s"] = layer(("cdc.",), dur)
    out["cdc.mirror_jobs"] = layer(("cdc.",), lambda s: n_jobs[s.sid])
    gp = ("geoparquet.",)
    out["geoparquet.write_s"] = layer(gp, dur)
    out["geoparquet.write_jobs"] = layer(gp, lambda s: n_jobs[s.sid])
    out["geoparquet.job_busy_s"] = layer(gp, lambda s: busy[s.sid])
    out["geoparquet.driver_s"] = layer(gp, lambda s: dur(s) - busy[s.sid])

    root = {}  # (op_id, "build" | "execute") -> span
    for s in spans:
        if s.name.startswith("op."):
            root[(s.op_id, s.name.rsplit(".", 1)[1])] = s
    ok_ops = [o for o in op_of.values() if o.ok]
    for kind in VERSIONED_OPS:
        ops = [o for o in ok_ops if o.kind == kind]
        out[f"versioned.{kind}_s"] = median([o.wall for o in ops])
        out[f"versioned.{kind}_jobs"] = median([_op_jobs(o, root, n_jobs) for o in ops])
    for cls in ("write", "read"):
        ops = [o for o in ok_ops if o.cls == cls]
        for phase in ("build", "execute"):
            spans_of = [root.get((o.info["op_id"], phase)) for o in ops]
            out[f"{cls}.{phase}_s"] = median([dur(s) if s else 0.0 for s in spans_of])
            out[f"{cls}.{phase}_jobs"] = median([n_jobs[s.sid] if s else 0 for s in spans_of])
        out[f"{cls}.plan_s"] = median([o.plan_s for o in ops])
        out[f"{cls}.python_nodes"] = median([o.python_nodes for o in ops])

    for name in SELF_LAYERS:
        out[f"self.{name}_s"] = layer((f"{name}.",), lambda s: self_t[s.sid])
    out["self.remainder_s"] = layer(("op.",), lambda s: self_t[s.sid])
    walls = {p["no"]: p["wall"] for p in traced}
    out["trace.traced_pass_s"] = median(list(walls.values()))
    # the first pass is the coldest: overhead compares the later ones
    out["trace.untraced_pass_s"] = median(
        [p["wall"] for p in rec.passes if not p["traced"] and p["no"] > 0])
    out["trace.overhead_s"] = out["trace.traced_pass_s"] - out["trace.untraced_pass_s"]
    out["trace.accounted_share"] = median([
        sum(self_t[s.sid] for s in ss) / walls[no] for no, ss in by_pass.items() if walls[no]])

    out.update(wl.layer_counters(rec.ops))
    return {name: {"value": float(out[name]), "unit": unit} for name, unit in PER_LAYER}


def _op_jobs(o, root, n_jobs) -> int:
    return sum(n_jobs[s.sid] for ph in ("build", "execute")
               if (s := root.get((o.info["op_id"], ph))) is not None)


def main(argv=None) -> int:
    args = parse(argv)
    try:
        import gedixr_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload from one seed, one process each, one after another."""
    results = {}
    for name in workloads():
        p = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", args.scale],
            stdout=subprocess.PIPE, text=True,
        )
        if p.returncode != 0:
            return p.returncode
        results[name] = json.loads(p.stdout.strip().splitlines()[-1])
    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
