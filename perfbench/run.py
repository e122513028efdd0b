"""Closed-loop benchmark of the load path and a query mix.

    python3 perfbench/run.py --workload ingest|query --seed N --seconds S \
        --trace 0|1

Run from the repository root.  One Python process drives one client on
``local[nproc]``: set-up (session start, input staging, one warm-up pass
over every op kind), then whole passes until ``--seconds`` have gone by.
Before each timer starts, pins left by the previous op are freed with
blocking removal.  Every op's output is checked, outside its timer.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``).  The lines
before it print every metric of the workload, including the ones only
this workload has (families, per-kind latencies, per-layer times), and
the same report is kept in ``perfbench/out/``.  See README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# a heap that fits a 15 GB box shared with the Python workers; get_spark's
# own default (16g) does not
DRIVER_MEM = "3g"
DRIFT_LIMIT = 1.2  # last third's median over the first third's
MIN_PASSES = 2
PROBES = 2  # probe jobs after each timed op
NEEDED = ("df_to_azure_spark/__init__.py", "bench.py", "tools/strict_oracle_check.py",
          "__spark_entry__.py")


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in NEEDED if not (ROOT / p).is_file()]
    if not missing:
        sys.path.insert(0, str(ROOT))
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or _default_sf_dir()
        if not os.path.isfile(f"{sf_dir}/orders.parquet"):
            missing = [sf_dir]
    if missing:
        print(f"perfbench: cannot run: missing {missing}", file=sys.stderr)
        return 2

    (HERE / ".runs").mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                                    dir=HERE / ".runs"))
    tmp = run_dir / "tmp"
    tmp.mkdir()
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(tmp),
                      SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM, SPARK_GRAFT_CPUS=str(cpus))
    try:
        report = Bench(args, run_dir, cpus, sf_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    out = HERE / "out"
    out.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    overhead = _tracing_overhead(out, args, report) if args.trace else None
    if overhead:
        report["tracing_overhead"] = overhead
    with open(out / name, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    _print_report(report)
    with open(ROOT / "BENCHMARK.json") as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": report["metrics"][m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": report["failed"] == 0 and report["attempted"] > 0,
                      "attempted": report["attempted"], "failed": report["failed"],
                      "metrics": metrics}), flush=True)
    return 0


class Bench:
    def __init__(self, args, run_dir: Path, cpus: int, sf_dir: str):
        self.args, self.run_dir, self.cpus, self.sf_dir = args, run_dir, cpus, sf_dir
        self.ops: list[dict] = []
        self.releases: list[float] = []
        self.extra: dict[str, list] = {}
        self.tracer = None

    def run(self) -> dict:
        import workloads as W

        args, tmp = self.args, self.run_dir / "tmp"
        conf = {
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={tmp}/derby.log "
                "-XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if args.trace:
            import spans as T

            self.tracer = T.Tracer()
            T.install(self.tracer)
            (tmp / "events").mkdir()
            conf.update(T.event_log_conf(str(tmp / "events")))

        from df_to_azure_spark.session import get_spark

        t0 = time.perf_counter()
        spark = self.spark = get_spark(app_name=f"perfbench-{args.workload}",
                                       extra_conf=conf)
        session_start_s = time.perf_counter() - t0
        try:
            W.materialize(spark.range(1))  # loads the noop sink once
            if args.workload == "ingest":
                work = W.Ingest(spark, self.sf_dir, args.seed, str(self.run_dir / "lakes"))
            else:
                work = W.Queries(spark, self.sf_dir, args.seed,
                                 str(HERE / ".cache" / "oracle"))
            warm = self._pass(work, 0)
            setup_s = time.perf_counter() - PROCESS_START
            self._finish_pass(work, warm)

            # whole passes until --seconds have gone by, so every kind has
            # the same number of samples, and at least MIN_PASSES, so a slow
            # stretch of host load cannot turn each median into one sample
            window, n = time.perf_counter(), 0
            while n < MIN_PASSES or time.perf_counter() - window < args.seconds:
                n += 1
                self._finish_pass(work, self._pass(work, n))
        finally:
            _stop(spark)
        if args.workload != "ingest":
            for kind, ok in work.check_oracle().items():
                if not ok:
                    print(f"perfbench: {kind} differs from the oracle", file=sys.stderr)
                    next(o for o in self.ops if o["kind"] == kind)["ok"] = False
        if args.trace:
            T.fold_event_log(str(tmp / "events"), self.ops)
        return self._report(setup_s, session_start_s, n)

    def _pass(self, work, n: int) -> list:
        sc = self.spark.sparkContext
        from df_to_azure_spark import session

        done = []
        for op in work.pass_ops():
            rec = {"kind": op.kind, "pass": n, "group": f"perfbench-{len(self.ops)}"}
            before = _files(op.table_dir) if self.tracer and op.table_dir else None
            sc.setJobGroup(rec["group"], op.kind)
            if self.tracer:
                self.tracer.op = len(self.ops)
            rec["t0"] = time.time()
            t0 = time.perf_counter()
            try:
                value, rec["ok"] = op.run(), True
            except Exception:  # a failed op is counted, and the run goes on
                traceback.print_exc()
                value, rec["ok"], rec["raised"] = None, False, True
            rec["s"] = time.perf_counter() - t0
            rec["t1"] = time.time()
            if self.tracer:
                self.tracer.op = -1
            rec["build_s"] = getattr(work, "last_build_s", 0.0)
            if before is not None and rec["ok"]:
                after = _files(op.table_dir)
                rec["bytes_written"] = sum(v for k, v in after.items() if k not in before)
                rec["rows_written"] = value.rows_written
            rec["persistent"] = len(sc._jsc.getPersistentRDDs())
            t0 = time.perf_counter()
            rec["released"] = 0
            for jrdd in sc._jsc.getPersistentRDDs().values():
                if jrdd.id() not in session._PROTECTED_PIN_IDS:
                    jrdd.unpersist(True)  # blocking: no removal bleeds into the next timer
                    rec["released"] += 1
            self.releases.append(time.perf_counter() - t0)
            if n > 0:  # not in the warm-up pass, which set-up time covers
                sc.setJobGroup("perfbench-probe", "probe")
                rec["probe_s"] = [_probe(self.spark) for _ in range(PROBES)]
            self.ops.append(rec)
            done.append((op, rec, value))
        return done

    def _finish_pass(self, work, done) -> None:
        for op, rec, value in done:
            if rec["ok"] and op.verify is not None and not op.verify(value):
                print(f"perfbench: wrong answer from {op.kind}", file=sys.stderr)
                rec["ok"] = False
            if op.rows and rec["ok"]:
                rec["rows"] = op.rows
        if self.tracer and done[0][1]["pass"] > 0 and hasattr(work, "table_counts"):
            for k, v in work.table_counts().items():
                self.extra.setdefault(k, []).append(v)
        work.end_pass({rec["kind"] for _, rec, _ in done if "raised" not in rec})

    # -- metrics -----------------------------------------------------------

    def _report(self, setup_s: float, session_start_s: float, passes: int) -> dict:
        import workloads as W

        wl = self.args.workload
        timed = [o for o in self.ops if o["pass"] > 0 and o["ok"]]
        by_kind: dict[str, list[dict]] = {}
        for o in timed:
            by_kind.setdefault(o["kind"], []).append(o)
        p50 = {k: statistics.median(o["s"] for o in v) for k, v in by_kind.items()}
        m: dict[str, float] = {"setup_s": setup_s, "kind_geomean_s": _geomean(p50.values())}
        m["probe_s"] = statistics.median(t for o in self.ops if o["pass"] > 0
                                         for t in o["probe_s"])
        m["kind_geomean_rel"] = m["kind_geomean_s"] / m["probe_s"]

        fams = W.families(wl)
        for fam, ks in fams.items():
            m[f"{fam}_geomean_s"] = _geomean(p50[k] for k in ks if k in p50)
        if wl == "query":
            # the control half and the half that pin and job-count changes act on
            scan = {k for f in W.SCAN_FAMILIES for k in fams[f]}
            m["scan_geomean_s"] = _geomean(v for k, v in p50.items() if k in scan)
            m["iterative_geomean_s"] = _geomean(v for k, v in p50.items() if k not in scan)
        if wl == "ingest":
            m["read_geomean_s"] = _geomean(p50[f"{s}.read"] for s in W.SINKS
                                           if f"{s}.read" in p50)
            writes = [o for o in timed if o.get("rows")]
            m["rows_per_s"] = sum(o["rows"] for o in writes) / sum(o["s"] for o in writes)

        kinds = {}
        for k, v in by_kind.items():
            s = sorted(o["s"] for o in v)
            kinds[k] = {"n": len(s), "p50_s": p50[k]}
            if wl == "ingest" and len(s) > 10:
                kinds[k].update(tail_s=s[-11], tail_pct=math.floor(100 * (len(s) - 10) / len(s)))
            third = len(s) // 3
            if third >= 2:
                seq = [o["s"] for o in v]
                ratio = statistics.median(seq[-third:]) / statistics.median(seq[:third])
                kinds[k].update(drift=ratio, drift_flag=ratio > DRIFT_LIMIT)
        report = {
            "workload": wl, "seed": self.args.seed, "trace": self.args.trace,
            "cpus": self.cpus, "passes": passes, "seconds": self.args.seconds,
            "attempted": len(self.ops), "failed": sum(not o["ok"] for o in self.ops),
            "kinds": kinds,
        }
        if self.tracer:
            layers, report["layer_times"], report["repeats"] = self._layers(
                by_kind, session_start_s, kinds)
            # [name, start, end, parent span, op], seconds from process start
            report["spans"] = [[n, a - PROCESS_START, b - PROCESS_START, p, op]
                               for n, a, b, p, op in self.tracer.spans]
            m.update(layers)
            m = {("trace." + k if k in ("setup_s", "kind_geomean_s", "kind_geomean_rel")
                  else k): v for k, v in m.items()}
        report["metrics"] = m
        return report

    def _layers(self, by_kind, session_start_s, kinds):
        """Per-layer metrics of the traced run; per-pass figures are the sum
        over kinds of each kind's median, so a run's figure does not
        depend on how many passes fit in the window."""
        import workloads as W

        def per_pass(field):
            return sum(statistics.median(o[field] for o in v) for v in by_kind.values())

        m: dict[str, float] = {
            "session.start_s": session_start_s,
            "session.release_s": statistics.median(self.releases),
            "session.pins_released": per_pass("released"),
            "session.persistent_rdds_peak": max(o["persistent"] for o in self.ops),
        }
        timed_ops = {i for i, o in enumerate(self.ops) if o["pass"] > 0 and o["ok"]}
        wall = sum(self.ops[i]["s"] for i in timed_ops)
        spans = [s for s in self.tracer.self_times() if s[2] in timed_ops]
        per_call: dict[str, list[float]] = {}
        for name, self_s, _ in spans:
            per_call.setdefault(name, []).append(self_s)
        for layer in ("api", "checks", "schema", "lake", "manifest", "sql_sink"):
            m[f"{layer}.share"] = sum(s for n, s, _ in spans if n.startswith(layer + ".")) / wall
        m["plans.build_share"] = sum(self.ops[i]["build_s"] for i in timed_ops) / wall
        # api overhead: the facade's span minus the sink call beneath it
        sink_layers = ("lake.", "manifest.", "sql_sink.")
        raw = self.tracer.spans
        child_sink = [0.0] * len(raw)
        for name, a, b, parent, _ in raw:
            if parent >= 0 and name.startswith(sink_layers):
                child_sink[parent] += b - a
        overhead = [(b - a) - child_sink[i] for i, (n, a, b, _, op) in enumerate(raw)
                    if n == "api.df_to_spark" and op in timed_ops]
        layer_times = {f"{n}_s": statistics.median(v) for n, v in per_call.items()}
        if overhead:
            layer_times["api.overhead_s"] = statistics.median(overhead)

        # timed passes in which every kind succeeded
        passes: dict[int, list[dict]] = {}
        for i in sorted(timed_ops):
            passes.setdefault(self.ops[i]["pass"], []).append(self.ops[i])
        whole = [v for v in passes.values() if {o["kind"] for o in v} >= set(by_kind)]
        m["api.rows_written"] = statistics.median(
            sum(o.get("rows", 0) for o in v) for v in whole) if whole else 0
        writes = [o for v in whole for o in v if "bytes_written" in o]
        for layer, sink in (("lake", "lake."), ("manifest", "versioned.")):
            w = [o for o in writes if o["kind"].startswith(sink)]
            m[f"{layer}.bytes_per_row_written"] = (
                sum(o["bytes_written"] for o in w) / sum(o["rows_written"] for o in w) if w else 0
            )
        for k in ("lake.files", "manifest.versions"):
            m[k] = statistics.median(self.extra[k]) if k in self.extra else 0
        ratios = [v for op, v in self.tracer.counts.get("manifest.files_read_ratio", [])
                  if op in timed_ops]
        m["manifest.files_read_ratio"] = statistics.median(ratios) if ratios else 0

        for f in ("run_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "jobs", "stages",
                  "tasks", "ungrouped_jobs"):
            m[f"spark.{f}"] = per_pass(f)
        wall_ms = 1e3 * sum(statistics.median(o["s"] for o in v) for v in by_kind.values())
        m["spark.core_util"] = m["spark.run_ms"] / (wall_ms * self.cpus)
        for v in by_kind.values():
            for o in v:
                o["gap_ms"] = 1e3 * o["s"] - o["stage_cover_ms"]
        m["spark.driver_gap_ms"] = per_pass("gap_ms")

        # counts a later claim may rest on, with whether they repeated
        # exactly across the passes of this run
        repeats = {}
        for k, v in by_kind.items():
            jobs = [o["jobs"] for o in v]
            kinds[k].update(jobs=statistics.median(jobs))
            if len(jobs) > 1:
                repeats[f"op.{k}.jobs"] = len(set(jobs)) == 1
        for k in ("lake.files", "manifest.versions"):
            if len(self.extra.get(k, [])) > 1:
                repeats[k] = len(set(self.extra[k])) == 1
        if len(whole) > 1:
            repeats["session.pins_released"] = len(
                {sum(o["released"] for o in v) for v in whole}) == 1
            for layer, sink in (("lake", "lake."), ("manifest", "versioned.")):
                vals = {tuple(o["bytes_written"] for o in v
                              if o["kind"].startswith(sink) and "bytes_written" in o)
                        for v in whole}
                if vals != {()}:
                    repeats[f"{layer}.bytes_per_row_written"] = len(vals) == 1
        m["counts.unrepeated"] = sum(not r for r in repeats.values())
        m["drift.flagged"] = sum(bool(k.get("drift_flag")) for k in kinds.values())
        for k in W.all_kinds():
            m[f"op.{k}.jobs"] = kinds[k]["jobs"] if k in kinds else 0
        return m, layer_times, repeats


def _probe(spark) -> float:
    """Wall time of a tiny Spark job that runs none of the program.  It
    pays the fixed cost of every job (planning, scheduling, task launch,
    result fetch), which bounds most ops here, so host load that slows
    the ops slows it too."""
    t0 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def _default_sf_dir() -> str:
    """The scale-factor-0.1 tables beside the smoke-test tables that the
    repository's entry contract reads."""
    from __spark_entry__ import SMOKE_DIR

    return os.path.join(os.path.dirname(SMOKE_DIR.rstrip("/")), "sf0.1")


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _geomean(values) -> float:
    vals = list(values)
    return math.exp(sum(math.log(v) for v in vals) / len(vals)) if vals else float("nan")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit, so nothing outlives the run or writes into the run
    directory after it is removed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _tracing_overhead(out: Path, args, report) -> dict | None:
    """Traced minus untraced, against the newest untraced run of this
    workload kept in ``out``."""
    runs = sorted(out.glob(f"{args.workload}-seed*-trace0.json"), key=os.path.getmtime)
    if not runs:
        return None
    with open(runs[-1]) as f:
        base = json.load(f)
    m = report["metrics"]
    return {
        "against": runs[-1].name,
        **{k: m[f"trace.{k}"] / base["metrics"][k] - 1
           for k in ("setup_s", "kind_geomean_s", "kind_geomean_rel") if k in base["metrics"]},
    }


def _print_report(r: dict) -> None:
    print(f"# perfbench {r['workload']} seed={r['seed']} trace={r['trace']} "
          f"local[{r['cpus']}] passes={r['passes']} attempted={r['attempted']} "
          f"failed={r['failed']}")
    for k, v in sorted(r["metrics"].items()):
        print(f"#   {k} = {v:.6g}")
    for k, v in sorted(r.get("layer_times", {}).items()):
        print(f"#   {k} = {v:.6g} (median self time per call)")
    for k, v in sorted(r["kinds"].items()):
        extra = "".join(f" {f}={v[f]:.4g}" for f in ("tail_s", "tail_pct", "drift", "jobs")
                        if f in v)
        print(f"#   op.{k}: n={v['n']} p50_s={v['p50_s']:.4g}{extra}")
    for k, ok in sorted(r.get("repeats", {}).items()):
        print(f"#   count {k}: {'repeated exactly' if ok else 'DID NOT repeat'}")
    if "tracing_overhead" in r:
        print(f"#   tracing overhead: {r['tracing_overhead']}")


if __name__ == "__main__":
    sys.path.insert(0, str(HERE))
    sys.exit(main())
