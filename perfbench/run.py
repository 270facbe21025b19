"""hadron_spark benchmark: closed-loop workloads, one driver, one client.

    python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. One run of one workload:

1. make (or reuse) the workload's input tables from a fixed data seed
   under `.perfbench/data/`, and keep every scratch file of Spark, the
   JVM and Python under `.perfbench/tmp/<pid>/`;
2. start a session with `session.get_spark` on `local[<cores>]`;
3. cold pass: every op once in the fresh session, each op's result
   collected to the driver and checked in full;
4. warm passes, back to back, until their timed op windows add up to
   `--seconds`, and at least `MIN_WARM_PASSES`; every op writes to the
   noop sink and is checked against its cold result;
5. stop the session and its JVM.

`--seed` permutes op order in every pass and picks the `etl_pipeline`
day-1 batch split; it never changes the tables. Between ops, outside
the timed windows, persistent RDDs are released and the JVM collects
garbage. The last line of stdout is one JSON object: end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`, where the
run also writes its spans and per-op records to `.perfbench/out/`.
"""

import time

T0 = time.time()  # process start as the benchmark sees it

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("llm_curation", "etl_pipeline")
# llm_curation's first warm pass is still JIT-warming its long compose
# paths (~25% slower than the next); a median of three outvotes it
MIN_WARM_PASSES = {"llm_curation": 3, "etl_pipeline": 2}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(scratch: str) -> int:
    """Make the package importable here and in Python workers, and keep
    every scratch file inside the checkout. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    for d in ("spark", "py", "java"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    paths = [ROOT, os.path.join(ROOT, "tools"), HERE]
    sys.path[:0] = paths
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark")
    os.environ["TMPDIR"] = os.path.join(scratch, "py")
    # the JVM's perf-data file would go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(scratch, 'java')} -XX:-UsePerfData")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    import tempfile

    tempfile.tempdir = os.path.join(scratch, "py")
    return int(os.environ["SPARK_GRAFT_CPUS"])


def ensure_data(sf: float) -> str:
    """Tables at scale `sf`, generated once per checkout and generator."""
    import hashlib

    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(STATE, "data", f"sf{sf}-{tag}")
    if not os.path.isdir(out):
        import gen_data

        tmp = f"{out}.tmp{os.getpid()}"
        gen_data.write(tmp, sf)
        os.rename(tmp, out)
    return out


def table_rows(sf_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows
            for t in ("lineitem", "orders", "events", "documents", "embeddings")}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_session(spark) -> None:
    """Stop the session and its py4j JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples
    beyond it: (value, percentile, sample count)."""
    xs = sorted(samples)
    if len(xs) < 20:  # no percentile above the median has ten beyond it
        return xs[-1], 100.0, len(xs)
    k = len(xs) - 10
    return xs[k - 1], 100.0 * k / len(xs), len(xs)


class Run:
    """One benchmark run: a session, the op loop, checks and metrics."""

    def __init__(self, args, spark, cores: int, scratch: str, sf: float, sf_dir: str):
        self.args, self.spark, self.cores, self.scratch = args, spark, cores, scratch
        self.sf, self.sf_dir = sf, sf_dir
        self.sc = spark.sparkContext
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.latencies: list[float] = []  # warm ops that passed their check
        self.passes: list[float] = []  # warm pass_s values
        self.cold_pass_s = 0.0
        self.seq = 0
        self.reference: dict[str, tuple] = {}
        self.tracing = bool(args.trace)
        self.records: list[dict] = []  # per-op layer records (traced run)
        self.tap_events: list[tuple] = []  # (kind, start, end) of timed tap calls
        if self.tracing:
            from layers import Collectors, Tracer

            self.tracer = Tracer()
            self.collectors = Collectors(spark)
            self.run_span = self.tracer.open(args.workload, "run", None, seed=args.seed)

    # --- the timed op -----------------------------------------------------
    def hygiene(self) -> None:
        """Untimed: drop leftover pins and collect garbage (bench.py's rule)."""
        import bench

        bench.release_pins(self.spark)
        self.spark._jvm.System.gc()

    def op(self, name: str, cold: bool, pass_span, body) -> float:
        """Time one op; returns its timed seconds.

        `body(to_execute, ctx)` runs the op, calls `to_execute()` where
        compose ends and execution starts, and returns the op's check,
        which runs after the timed window. An exception from either
        counts the op as failed."""
        self.hygiene()
        self.seq += 1
        self.attempted += 1
        group, marks, ctx = f"op{self.seq}", {}, {}

        def to_execute():
            marks["t1"] = time.perf_counter()
            self.sc.setJobGroup(f"{group}.execute", name)

        self.sc.setJobGroup(f"{group}.compose", name)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            check = body(to_execute, ctx)
            t2 = time.perf_counter()
            check()
            ok = True
        except Exception as exc:  # noqa: BLE001 — an op failure is a result
            t2 = time.perf_counter()
            ok = False
            self.failed += 1
            print(f"FAILED {name}: {exc!r}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        t1 = marks.get("t1", t2)
        print(f"op {name} {'cold' if cold else 'warm'} compose {t1 - t0:.3f} s "
              f"execute {t2 - t1:.3f} s {'ok' if ok else 'FAILED'}", file=sys.stderr)
        if self.tracing:
            self.trace_op(name, group, pass_span, w0, t1 - t0, t2 - t1, cold, **ctx)
        if ok and not cold:
            self.latencies.append(t2 - t0)
        return t2 - t0

    # --- registry workloads -------------------------------------------------
    def registry_pass(self, ops: list[str], cold: bool, index: int) -> float:
        from ops import CheckFailed, observed
        from hadron_spark.queries import QUERIES

        def body(name, to_execute, ctx):
            df = ctx["composed"] = QUERIES[name](self.spark, self.sf_dir)
            to_execute()
            df, obs = observed(df)
            if cold:  # collected, so the whole result can be checked
                got = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()

            def check():
                fp = (obs.get["rows"], obs.get["hash"])
                if cold:
                    self.oracle.check(name, self.sf, got)
                    self.reference[name] = fp
                elif self.reference.get(name) != fp:
                    raise CheckFailed(f"{name}: observed {fp} != cold "
                                      f"{self.reference.get(name)}")
            return check

        order = list(ops)
        self.rng.shuffle(order)
        span = self.open_pass(index, cold)
        total = sum(self.op(name, cold, span, lambda te, ctx, n=name: body(n, te, ctx))
                    for name in order)
        self.close_pass(span, total)
        return total

    # --- etl_pipeline -----------------------------------------------------
    def etl_pass(self, etl, cold: bool, index: int) -> float:
        """One fresh RS_RERUN run of the DAG, then its RS_SKIP restart,
        which must skip every step and leave the outputs byte-identical."""
        from ops import CheckFailed

        def step_body(name, step, to_execute, ctx):
            etl.on_execute = to_execute
            before = len(etl.pipe.steps)
            step()

            def check():
                ctx["workdir"] = etl.workdir
                ctx["steps_run"] = sum(not s.skipped for s in etl.pipe.steps[before:])
                etl.check(self.oracle, name)
            return check

        def restart_body(to_execute, ctx):
            steps = etl.restart()

            def check():
                ctx["steps_skipped"] = sum(s.skipped for s in steps)
                if not steps or not all(s.skipped for s in steps):
                    raise CheckFailed(f"restart ran {[s.name for s in steps if not s.skipped]}")
                if etl.output_digests() != digests:
                    raise CheckFailed("restart changed committed outputs")
            return check

        span = self.open_pass(index, cold)
        etl.start()
        total = 0.0
        for name, step in etl.order(self.rng):
            total += self.op(name, cold, span,
                             lambda te, ctx, n=name, s=step: step_body(n, s, te, ctx))
        digests = etl.output_digests()
        total += self.op("restart", cold, span, restart_body)
        self.close_pass(span, total)
        return total

    # --- driving ----------------------------------------------------------
    def run(self) -> None:
        from ops import REGISTRY, EtlPipeline, Oracle

        name = self.args.workload
        self.oracle = Oracle(self.sf_dir)
        if name == "etl_pipeline":
            workdir = os.path.join(self.scratch, "etl")
            os.makedirs(workdir, exist_ok=True)
            etl = EtlPipeline(self.spark, self.sf_dir, workdir, self.args.seed,
                              **self.etl_hooks())
            one_pass = lambda cold, i: self.etl_pass(etl, cold, i)  # noqa: E731
        else:
            ops = REGISTRY[name][0]
            one_pass = lambda cold, i: self.registry_pass(ops, cold, i)  # noqa: E731
        self.cold_pass_s = one_pass(True, 0)
        # warm passes until their timed op windows add up to --seconds
        while (len(self.passes) < MIN_WARM_PASSES[name]
               or sum(self.passes) < self.args.seconds):
            self.passes.append(one_pass(False, len(self.passes) + 1))
        self.hygiene()

    # --- tracing (only with --trace 1) -------------------------------------
    def etl_hooks(self) -> dict:
        if not self.tracing:
            return {}
        from hadron_spark.sources.taps import Tap

        events = self.tap_events

        def timed(kind, fn, *a, **k):
            t = time.time()
            try:
                return fn(*a, **k)
            finally:
                events.append((kind, t, time.time()))

        class TracedTap(Tap):
            def read(self, spark):
                return timed("tap.read", super().read, spark)

            def write(self, df, mode="error", partition_by=None):
                return timed("tap.write", super().write, df, mode, partition_by)

        return {"tap_cls": TracedTap,
                "write_hook": lambda f, *a, **k: timed("tap.write", f, *a, **k)}

    def open_pass(self, index: int, cold: bool):
        if not self.tracing:
            return None
        return self.tracer.open(f"pass{index}", "pass", self.run_span, cold=cold)

    def close_pass(self, span, total: float) -> None:
        if self.tracing:
            self.tracer.close(span, pass_s=total)

    def trace_op(self, name, group, pass_span, w0, compose_s, execute_s, cold,
                 workdir=None, steps_run=0, steps_skipped=0, composed=None) -> None:
        """Read every collector for the op just finished (untimed)."""
        from layers import Collectors  # noqa: F401 — only loaded when tracing

        c, tr = self.collectors, self.tracer
        pinned_rdds, pinned_mb = c.pins()
        c.drain()
        rec = {"op": name, "cold": cold, "pass": pass_span,
               "compose.wall_s": compose_s, "execute.wall_s": execute_s,
               "storage.pinned_rdds": pinned_rdds, "storage.pinned_mb": pinned_mb}
        w1, w2 = w0 + compose_s, w0 + compose_s + execute_s
        op_span = tr.span(name, "op", w0, w2, pass_span)
        phase_spans = {"compose": tr.span("compose", "compose", w0, w1, op_span),
                       "execute": tr.span("execute", "execute", w1, w2, op_span)}
        job_ids: set[int] = set()
        for phase, span in phase_spans.items():
            jobs = c.jobs(f"{group}.{phase}")
            job_ids |= {j["job_id"] for j in jobs}
            self._job_spans(jobs, span)
            self._add_jobs(rec, phase, jobs)
        progress = c.take_progress()
        for run_id in {p["run_id"] for p in progress}:
            jobs = c.jobs(run_id)
            job_ids |= {j["job_id"] for j in jobs}
            self._job_spans(jobs, op_span)
            self._add_jobs(rec, "execute", jobs)
        for p in progress:
            d = p["duration_ms"]
            start = _iso_epoch(p["timestamp"])
            tr.span(f"batch{p['batch_id']}", "microbatch", start,
                    start + d.get("triggerExecution", 0) / 1000.0, op_span)
        last_state = {}
        for p in progress:
            last_state[p["run_id"]] = p["state_rows"]
        dsum = lambda *keys: float(sum(p["duration_ms"].get(k, 0) for p in progress for k in keys))  # noqa: E731
        rec.update({
            "streaming.batches": len(progress),
            "streaming.trigger_ms": dsum("triggerExecution"),
            "streaming.add_batch_ms": dsum("addBatch"),
            "streaming.planning_ms": dsum("queryPlanning"),
            "streaming.commit_ms": dsum("commitOffsets", "walCommit"),
            "streaming.state_rows": sum(last_state.values()),
        })
        rec.update(c.python_metrics(job_ids))
        phases = c.take_phases()
        if composed is not None:  # the read plan's own analysis, not re-run by the write
            phases.append(c.phases_of(composed))
        for ph in ("analysis", "optimization", "planning"):
            rec[f"catalyst.{ph}_ms"] = float(sum(p.get(ph, 0) for p in phases))
        taps = self.tap_events
        rec["sources.tap_write_s"] = sum(e - s for k, s, e in taps if k == "tap.write")
        for kind, s, e in taps:
            tr.span(kind, "tap", s, e, op_span)
        taps.clear()
        rec["sources.files_written"] = _files_since(workdir, w0) if workdir else 0
        rec["pipeline.steps_run"] = steps_run
        rec["pipeline.steps_skipped"] = steps_skipped
        rec["pipeline.skip_check_s"] = compose_s if name == "restart" else 0.0
        rec["pipeline.step_s"] = compose_s + execute_s if workdir else 0.0
        self.records.append(rec)

    def _job_spans(self, jobs, parent) -> None:
        for j in jobs:
            if j["start"] is None:
                continue
            jid = self.tracer.span(f"job{j['job_id']}", "job", j["start"],
                                   j["end"] or j["start"], parent)
            for st in j["stages"]:
                if st["start"] is not None:
                    self.tracer.span(f"stage{st['stage_id']}", "stage", st["start"],
                                     st["end"] or st["start"], jid, tasks=st["tasks"])

    @staticmethod
    def _add_jobs(rec: dict, phase: str, jobs: list[dict]) -> None:
        stages = [s for j in jobs for s in j["stages"]]
        wall = sum((j["end"] or j["start"]) - j["start"] for j in jobs if j["start"])
        add = lambda k, v: rec.__setitem__(k, rec.get(k, 0) + v)  # noqa: E731
        if phase == "compose":
            add("compose.jobs", len(jobs))
            add("compose.stages", len(stages))
            add("compose.job_s", wall)
        else:
            add("executor.jobs", len(jobs))
            add("executor.stages", len(stages))
        add("executor.tasks", sum(s["tasks"] for s in stages))
        for key, src in (("executor.run_s", "run_s"), ("executor.cpu_s", "cpu_s"),
                         ("executor.gc_s", "gc_s"), ("shuffle.write_mb", "shuffle_write_mb"),
                         ("shuffle.read_mb", "shuffle_read_mb"),
                         ("shuffle.fetch_wait_s", "fetch_wait_s"), ("shuffle.spill_mb", "spill_mb"),
                         ("sources.input_mb", "input_mb"), ("sources.input_rows", "input_rows"),
                         ("sources.output_mb", "output_mb"), ("sources.output_rows", "output_rows")):
            add(key, sum(s[src] for s in stages))
        skews = [s["task_skew"] for s in stages if s["tasks"] > 1]
        rec["executor.task_skew"] = max([rec.get("executor.task_skew", 1.0)] + skews)
        if phase == "execute":
            add("_execute_run_s", sum(s["run_s"] for s in stages))

    def layer_metrics(self, setup_s: float) -> dict[str, float]:
        """Per-workload layer metrics: median over warm passes of each
        pass's totals (ratios are recomputed from the pass totals)."""
        from layers import LAYER_METRICS

        by_pass: dict[int, dict] = {}
        for r in self.records:
            if r["cold"]:
                continue
            acc = by_pass.setdefault(r["pass"], {})
            for k, v in r.items():
                if k not in ("op", "cold", "pass"):
                    acc[k] = max(acc.get(k, 1.0), v) if k == "executor.task_skew" \
                        else acc.get(k, 0) + v
        rows = []
        for acc, pass_s in zip(by_pass.values(), self.passes):
            acc["compose.driver_s"] = acc.get("compose.wall_s", 0) - acc.get("compose.job_s", 0)
            acc["compose.share"] = acc.get("compose.wall_s", 0) / pass_s
            ex = acc.get("execute.wall_s", 0)
            acc["executor.busy_frac"] = acc.get("_execute_run_s", 0) / (ex * self.cores) if ex else 0.0
            acc["trace.pass_s"] = pass_s
            rows.append(acc)
        out = {}
        for name, _unit, _better, _moves in LAYER_METRICS:
            if name == "session.start_s":
                out[name] = setup_s
            else:
                out[name] = statistics.median(r.get(name, 0.0) for r in rows)
        return out

    def dump_trace(self, path: str) -> None:
        self.tracer.close(self.run_span)
        self.tracer.dump(path, ops=self.records)


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _files_since(path: str, t: float) -> int:
    n = 0
    for d, _, files in os.walk(path):
        for fn in files:
            if fn.startswith("part-") and os.path.getmtime(os.path.join(d, fn)) >= t:
                n += 1
    return n


def start_session(app: str):
    from hadron_spark import get_spark

    return get_spark(app, extra_conf={"spark.ui.showConsoleProgress": "false"})


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hadron_spark")):
        print(f"no hadron_spark package under {ROOT}: run from a checkout root",
              file=sys.stderr)
        return 2
    scratch = os.path.join(STATE, "tmp", str(os.getpid()))
    cores = prepare_env(scratch)
    from ops import ETL_SF, REGISTRY

    t_data = time.time()
    sf = ETL_SF if args.workload == "etl_pipeline" else REGISTRY[args.workload][1]
    sf_dir = ensure_data(sf)
    t_data = time.time() - t_data
    try:
        pre_session = time.time() - T0 - t_data  # interpreter start + imports
        t_get = time.time()
        spark = start_session(f"perfbench_{args.workload}")
        setup_s = pre_session + time.time() - t_get
        run = Run(args, spark, cores, scratch, sf, sf_dir)
        try:
            run.run()
            peak_rss = vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + vm_hwm_mb("self")
            if run.tracing:
                run.collectors.close()
                out_dir = os.path.join(STATE, "out")
                os.makedirs(out_dir, exist_ok=True)
                run.dump_trace(os.path.join(
                    out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    rows = table_rows(sf_dir)
    print(f"workload {args.workload} seed {args.seed}: sf{sf} "
          + " ".join(f"{t}={n}" for t, n in rows.items())
          + f", local[{cores}], {len(run.passes)} warm passes, closed loop, 1 client")
    if args.trace:
        metrics = run.layer_metrics(setup_s)
        from layers import LAYER_METRICS

        units = {n: u for n, u, _, _ in LAYER_METRICS}
        for n, v in metrics.items():
            print(f"{n} {v:.6g} {units[n]}")
        result = {n: {"value": v, "unit": units[n]} for n, v in metrics.items()}
    else:
        tail_s, pct, n = tail(run.latencies) if run.latencies else (0.0, 0.0, 0)
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (run.cold_pass_s, "s"),
            "pass_s": (statistics.median(run.passes), "s"),
            "query_p50_s": (statistics.median(run.latencies) if run.latencies else 0.0, "s"),
            "query_tail_s": (tail_s, "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        for k, (v, u) in e2e.items():
            extra = f"  (p{pct:.0f} of {n} warm ops)" if k == "query_tail_s" else ""
            print(f"{k} {v:.4f} {u}{extra}")
        result = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    fail_frac = run.failed / max(1, run.attempted)
    print(f"fail_frac {fail_frac:.4f} ratio ({run.failed} of {run.attempted} ops)")
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "metrics": result,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
