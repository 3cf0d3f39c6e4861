#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fresh JVM.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload pipeline|suite --seed N \
        [--seconds S] [--trace 0|1]

Builds graft from source (``build.py``), makes the workload's inputs from
the seed (``gen.py``), runs the JVM program (``src/graftbench/Main.scala``) on
``local[4]``, checks every output (``oracle.py``) and prints, as the last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and the metrics
(end-to-end ones untraced, per-layer ones with ``--trace 1``). The line
before it holds the workload's own named figures. See README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

CORES = 4
RUN_LIMIT_S = 170  # a run must end within 180 s, its build aside
SUITE_DATA = os.path.join(HERE, "data", "sf0.01")
SUITE_SLICE = os.path.join(HERE, "suite_queries.txt")
WORKLOADS = ("pipeline", "suite")

END_TO_END = {"setup_s": "s", "work_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "sources.tail.s": "s", "sources.tail.bytes": "bytes",
    "sources.tail.mb_per_s": "MB/s", "sources.state.commit_s": "s",
    "operators.parse.s": "s", "operators.parse.keep_ratio": "ratio",
    "operators.rdns.s": "s", "operators.rdns.calls": "count",
    "operators.rdns.calls_per_distinct_ip": "ratio",
    "operators.rdns.wait_s": "s", "operators.rdns.tasks": "count",
    "sources.dims.load_s": "s", "operators.geo.s": "s",
    "operators.geo.hit_ratio": "ratio", "sources.sink.s": "s",
    "sources.sink.files": "count", "sources.sink.bytes": "bytes",
    "sources.events_read.files": "count", "operators.report.s": "s",
    "sources.export.s": "s", "sources.export.statements": "count",
    "sources.import.s": "s", "sources.import.statements_per_s": "1/s",
    "sources.import.retries": "count", "Pipeline.jobs_per_run": "count",
    "Pipeline.stages_per_run": "count", "Pipeline.tasks_per_run": "count",
    "Pipeline.executor_busy_ratio": "ratio", "queries.jobs": "count",
    "queries.stages": "count", "queries.tasks": "count",
    "queries.shuffle_bytes": "bytes", "queries.spill_bytes": "bytes",
    "queries.executor_busy_ratio": "ratio", "queries.warm_s": "s",
    "SharedLsh.artifact_s": "s", "SharedLsh.artifacts_built": "count",
    "trace.overhead_s": "s", "jvm.peak_rss_mb": "MB",
}

class Checks:
    """Tallies operations. A failure inside a round that a documented seed
    defect touches is counted in `failed` but is expected; any other
    failure makes the run incorrect."""

    def __init__(self):
        self.attempted = self.failed = self.known = 0
        self.unexpected = []

    def op(self, ok: bool, what: str, known_defect: bool = False, n=1):
        self.attempted += n
        if ok:
            return
        self.failed += n
        if known_defect:
            self.known += n
        else:
            self.unexpected.append(what)


def make_inputs(args, work):
    if args.workload == "pipeline":
        ctx = gen.make_pipeline(args.seed, work, args.scale)
        with open(os.path.join(work, "plan.tsv"), "w") as f:
            for p in ctx["plan"]:
                f.write(f"{p['round']}\t{p['chunk']}\t{int(p['rotate'])}\t"
                        f"{int(p['report'])}\n")
        with open(os.path.join(work, "today.txt"), "w") as f:
            f.write(f"{ctx['today']}\t{ctx['hourly_today']}\n")
        return ctx
    with open(SUITE_SLICE) as f:
        names = [n.strip() for n in f if n.strip()]
    if args.scale == "tiny":
        names = names[:3]
    with open(os.path.join(work, "queries.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    return dict(names=names)


def run_jvm(args, work, cp, deadline):
    opens = [x for p in build.JDK_OPENS for x in ("--add-opens",
                                                    f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", *opens, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-cp", cp, "graftbench.Main", args.workload, work,
           str(args.trace), str(CORES), str(args.seconds), SUITE_DATA]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    results = os.path.join(work, "results.json")
    if code != 0 or not os.path.exists(results):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(results) as f:
        return json.load(f)


def tails(figures, name, values, ps):
    """Adds the sample count and the percentiles that have enough samples
    beyond them."""
    figures[f"{name}_samples"] = (len(values), "count")
    for p in ps:
        if stats.beyond(len(values), p) >= stats.MIN_BEYOND:
            figures[f"{name}_p{round(p * 100)}_s"] = (
                stats.percentile(values, p), "s")


def report_blocks(chk, text, rows, today, what):
    n, wrong = oracle.report_failures(text, rows, today, gen.SERVER)
    chk.op(True, what, n=n - wrong)
    if wrong:
        chk.op(False, what, n=wrong)


def check_pipeline(ctx, res, chk, figures):
    ingest, work = [], []
    for u in res["units"]:
        rows = oracle.read_events(oracle.part_files(u["sink"]))
        chk.op(oracle.same_rows(rows, ctx["rows"]), "backfill run")
        with open(u["report"]) as f:
            report_blocks(chk, f.read(), rows, ctx["today"], "backfill report")
        if not u["layered"]:
            ingest.append(u["ingest_s"])
            work.append(u["ingest_s"] + u["report_s"])
    figures["ingest_lines_per_s"] = (ctx["lines"] / stats.median(ingest),
                                     "1/s")
    figures["backfill_s"] = (stats.median(work), "s")
    plan, loop, today = ctx["plan"], res["loop"], ctx["hourly_today"]
    runs = []
    for rd in loop["rounds"]:
        r = rd["round"]
        exposed = any(p["mid_line"] or p["rotate"]
                      for p in plan[max(0, r - 2):r])
        rows = oracle.read_events(rd["files"])
        chk.op(oracle.same_rows(rows, ctx["expected"][r - 1]),
               f"hourly round {r}", known_defect=exposed)
        if not rd["layered"]:
            runs.append(rd["run_s"])
    for rep in loop["reports"]:
        with open(rep["path"]) as f:
            report_blocks(chk, f.read(), oracle.read_events(rep["files"]),
                          today, f"report after round {rep['round']}")
    day = [r for r in oracle.read_events(
        f for rd in loop["rounds"] for f in rd["files"])
        if r[1].startswith(today)]
    exp, imp = loop["export"], loop["import"]
    chk.op(exp["violations"] == 0 and exp["statements"] == len(day) + 2,
           "export")
    chk.op(imp["failed"] == 0 and imp["imported"] == 2 and
           oracle.same_rows(oracle.read_derby(imp["rows"]),
                            [oracle.sql_row(r) for r in day]), "import")
    figures["hourly_s"] = (loop["loop_s"], "s")
    tails(figures, "run", runs, (0.5, 0.75))
    figures["report_s"] = (stats.median(
        [x["report_s"] for x in loop["reports"]]), "s")
    figures["export_s"] = (exp["export_s"], "s")
    figures["import_s"] = (imp["import_s"], "s")
    return stats.median(work) + loop["loop_s"], res["measure_cpu_s"]


def check_suite(res, chk, figures):
    orc = oracle.SuiteOracle(SUITE_DATA,
                             os.path.join(HERE, ".cache", "oracle.json"))
    times = []
    for q in res["queries"]:
        ok = not q["error"] and orc.matches(q["out"],
                                            res["oracle_sql"][q["name"]])
        chk.op(ok, f"query {q['name']}: {q['error'] or 'mismatch'}")
        times.append(q["s"])
    orc.save()
    figures["suite_s"] = (sum(times), "s")
    tails(figures, "query", times, (0.5, 0.75, 0.95))
    return sum(times), res["measure_cpu_s"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="pipeline", choices=gen.SCALES,
                    help="input size of the pipeline workload and suite slice")
    args = ap.parse_args(argv)
    cp = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ctx = make_inputs(args, work)
        res = run_jvm(args, work, cp, deadline)
        chk, figures = Checks(), {}
        if args.workload == "suite":
            work_s, cpu_s = check_suite(res, chk, figures)
        else:
            work_s, cpu_s = check_pipeline(ctx, res, chk, figures)
        figures["failed_ops_ratio"] = (chk.failed / chk.attempted, "ratio")
        figures["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
        if args.trace:
            runs = os.path.join(HERE, ".runs")
            os.makedirs(runs, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"), os.path.join(
                runs, f"spans-{args.workload}-{args.seed}.json"))
            layers = dict(res["layers"])
            layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
        else:
            values = dict(setup_s=stats.median(res["setup_s"]),
                          work_s=work_s, cpu_s=cpu_s)
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in END_TO_END.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for what in chk.unexpected:
        print(f"FAILED {what}", file=sys.stderr)
    print(json.dumps(dict(
        workload=args.workload, seed=args.seed,
        known_seed_defect_failures=chk.known,
        figures={k: {"value": v, "unit": u} for k, (v, u) in figures.items()})))
    print(json.dumps(dict(correct=not chk.unexpected,
                          attempted=chk.attempted, failed=chk.failed,
                          metrics=metrics)))


if __name__ == "__main__":
    main()
