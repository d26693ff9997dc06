#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload tablite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run starts a Spark session on
``local[N]`` (N = the CPUs this process may use), generates the
workload's inputs from ``--seed``, warms up untimed, then makes the
workload's timed passes over its op list (their number scales with
``--seconds``): closed loop, one client, one op at a time. After the
passes, untimed, every op's last output is compared with its DuckDB
oracle in strict mode.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1``
it alternates untraced and traced passes and prints the per-layer
metrics, and writes the spans to ``perfbench/out/``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Metric meanings and the workloads' reasons
are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "out")
# driver-twin valves: left unset so the engine runs with its defaults
_TWIN_KNOB = re.compile(r"^SPARK_GRAFT_.+_DRIVER_")
# timed passes per 10 s of --seconds (at least one). Ops still speed up
# while the JIT compiles, so the first pass runs slowest and the medians
# skip it.
PASSES_PER_10S = 3


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def host_env(work: str) -> int:
    """Pin the session to this host and keep every file in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    for key in [k for k in os.environ if _TWIN_KNOB.match(k)]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # no hsperfdata file in the system /tmp
            "--driver-java-options", shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
            "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell"]),
    })
    tempfile.tempdir = None
    return cpus


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Below 20 samples that percentile
    would sit under the median, so the maximum is reported, as p100."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def corrupt(frame):
    """Change one value of a result, so the oracle check must fail."""
    frame = frame.copy()
    col = frame.columns[0]
    frame[col] = frame[col].astype(object)
    frame.iloc[0, 0] = "corrupted"
    return frame


class Run:
    def __init__(self, args, t_proc: float):
        self.args = args
        self.t_proc = t_proc
        self.run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
        self.work = os.path.join(OUT_DIR, self.run_id)
        self.record: dict = {"run": self.run_id, "workload": args.workload,
                             "seed": args.seed, "seconds": args.seconds}

    # ---------------- setup ----------------
    def setup(self):
        import duckdb
        import pyarrow.parquet as pq

        import gen
        import workloads
        from tablite_spark import get_spark
        from spans import BatchListener, SparkStats, Tracer

        args = self.args
        self.wl = workloads.build_workloads()[args.workload]
        self.tracer = Tracer(self.run_id, enabled=bool(args.trace))
        sf = args.sf if args.sf is not None else self.wl.sf
        with self.tracer.span("session.start") as s_start:
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        self.stats = SparkStats(self.spark)
        self.listener = None
        if args.trace:
            self.listener = BatchListener()
            self.spark.streams.addListener(self.listener)

        data = os.path.join(self.work, "data")
        duck = duckdb.connect()
        with self.tracer.span("setup.inputs") as s_inputs:
            docs = max(int(50_000 * sf), 500)
            tables = gen.make_tables(args.seed, sf, docs=docs, vecs=docs,
                                     names=self.wl.tables) if self.wl.tables else {}
            for name, table in tables.items():
                path = os.path.join(data, f"{name}.parquet")
                os.makedirs(path, exist_ok=True)
                pq.write_table(gen.shuffled(table, args.seed),
                               os.path.join(path, "part-0.parquet"))
                duck.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                             f"read_parquet('{path}/*.parquet')")
        self.ctx = workloads.Context(self.spark, data, os.path.join(self.work, "ops"),
                                     duck, args.seed, sf)
        with self.tracer.span("session.warmup") as s_warm:
            self.record["warmup_errors"] = self.warm_up()
        self.setup_s = time.time() - self.t_proc
        self.session_start_s = s_start["end"] - s_start["start"]
        self.warmup_s = s_warm["end"] - s_warm["start"]
        self.record["setup"] = {
            "setup_s": self.setup_s, "session_start_s": self.session_start_s,
            "inputs_s": s_inputs["end"] - s_inputs["start"], "warmup_s": self.warmup_s}

    def warm_up(self) -> list[str]:
        """One untimed call of every op before the timed passes, all at
        once, one thread per op; chained ops run in order in one thread,
        which is the longest task. A first call is mostly driver-side
        planning and code generation, so the threads overlap well. Each
        op's first-call time goes into the run record. A failure here is
        only recorded, because the timed passes count it."""
        from concurrent.futures import ThreadPoolExecutor

        errors, first_s = [], {}

        def call(ops):
            for op in ops:
                t0 = time.time()
                try:
                    op.execute(self.ctx, op.build(self.ctx))
                except Exception as exc:
                    errors.append(f"{op.name}: {exc!r}"[:300])
                first_s[op.name] = time.time() - t0

        chain = [op for op in self.wl.ops if op.chained]
        tasks = ([chain] if chain else []) + [[op] for op in self.wl.ops if not op.chained]
        with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
            for fut in [pool.submit(call, ops) for ops in tasks]:
                fut.result()
        self.record["first_call_s"] = first_s
        return errors

    # ---------------- timed passes ----------------
    def run_op(self, op, traced: bool, pass_rec: dict):
        if traced:
            m0, c0 = self.stats.mark(), self.stats.sql_mark()
        with self.tracer.span("op", op=op.name, layer=op.layer) as s_op:
            with self.tracer.span(f"{op.layer}.call") as s_build:
                df = op.build(self.ctx)
            with self.tracer.span("op.execute") as s_exec:
                out = op.execute(self.ctx, df)
        build_s = s_build["end"] - s_build["start"]
        exec_s = s_exec["end"] - s_exec["start"]
        rec = {"op": op.name, "layer": op.layer, "build_s": build_s, "execute_s": exec_s}
        if traced:
            self.stats.drain()
            rec.update(self.stats.counters(m0, self.stats.mark(), build_s + exec_s))
            rec["python_eval_s"] = self.stats.python_worker_s(c0, self.stats.sql_mark())
            rec["rdds"], rec["rdd_bytes"] = self.stats.cached()
            s_op["spark"] = rec
        pass_rec["ops"].append(rec)
        return out

    def timed_passes(self):
        import workloads

        args = self.args
        n_passes = max(1, round(PASSES_PER_10S * args.seconds / 10))
        if args.trace:
            # the untraced first pass, then traced, untraced, traced: so
            # the passes compared for trace.overhead_s sit equally far
            # into the warm-up
            n_passes = max(4, n_passes)
        self.passes, self.failures, self.outputs = [], [], {}
        for p in range(n_passes):
            traced = bool(args.trace) and p % 2 == 1
            pass_rec = {"pass": p, "traced": traced, "ops": []}
            if traced:
                self.stats.drain()
                self.listener.reset()
                rdds0, bytes0 = self.stats.cached()
            m0 = self.stats.mark()
            with self.tracer.span("pass", index=p, traced=traced) as s_pass:
                for op in self.wl.ops:
                    try:
                        self.outputs[op.name] = self.run_op(op, traced, pass_rec)
                    except Exception as exc:
                        self.outputs.pop(op.name, None)
                        self.failures.append({"op": op.name, "pass": p,
                                              "error": repr(exc)[:500]})
                        traceback.print_exc(file=sys.stderr)
            pass_rec["wall_s"] = s_pass["end"] - s_pass["start"]
            self.stats.drain()
            pass_rec["executor_cpu_s"] = self.stats.stage_counters(
                m0, self.stats.mark())["executor_cpu_s"]
            if self.wl.main is None:
                pass_rec["stored_bytes_per_row"] = workloads.ingest_bytes_per_row(self.ctx)
                written = workloads.ingest_written(self.ctx)
                pass_rec["files_written"] = len(written)
                pass_rec["bytes_written"] = sum(os.path.getsize(f) for f in written)
            if traced:
                rdds1, bytes1 = self.stats.cached()
                pass_rec["rdds_left"] = rdds1 - rdds0
                pass_rec["rdd_bytes_left"] = bytes1 - bytes0
                pass_rec["batches"] = self.listener.batches
                pass_rec["batch_s"] = self.listener.batch_s
            self.passes.append(pass_rec)
        self.attempted = n_passes * len(self.wl.ops)

    def stored_bytes_per_row(self) -> float:
        """Parquet bytes on disk per row saved by the engine: ingest's own
        saves, or (untimed, after the passes) a save of the main input."""
        import workloads
        from tablite_spark.sources import io

        if self.wl.main is None:
            return statistics.median(p["stored_bytes_per_row"] for p in self.passes)
        src = os.path.join(self.ctx.data_dir, f"{self.wl.main}.parquet")
        dst = os.path.join(self.ctx.work_dir, "stored")
        df = io.load(self.spark, src)
        io.save(df, dst)
        files = workloads.parquet_files(dst)
        return sum(os.path.getsize(f) for f in files) / df.count()

    # ---------------- correctness ----------------
    def check(self):
        from tools.check_oracle import compare

        self.mismatches = []
        for op in self.wl.ops:
            if op.name not in self.outputs:
                continue
            try:
                got = op.result(self.ctx, self.outputs[op.name])
                if op.name == self.args.corrupt:
                    got = corrupt(got)
                problems = compare(got, op.oracle(self.ctx), strict=True)
            except Exception as exc:
                problems = [f"check raised {exc!r}"[:500]]
            if problems:
                self.mismatches.append({"op": op.name, "problems": problems[:3]})
        self.failed = len(self.failures) + len(self.mismatches)

    # ---------------- metrics ----------------
    def end_to_end(self) -> dict:
        walls = [p["wall_s"] for p in self.passes]
        lat = [o["build_s"] + o["execute_s"] for p in self.passes for o in p["ops"]]
        t_val, t_pct, t_n = tail(lat) if lat else (0.0, 0.0, 0)
        self.record["op_tail"] = {"percentile": t_pct, "samples": t_n}
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (statistics.median(walls), "s"),
            "op_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
            "op_tail_s": (t_val, "s"),
            "executor_cpu_s": (statistics.median(p["executor_cpu_s"] for p in self.passes), "s"),
            "stored_bytes_per_row": (self.stored_bytes_per_row(), "bytes"),
        }

    def per_layer(self) -> dict:
        import workloads

        traced = [p for p in self.passes if p["traced"]]
        # the first pass is the coldest; leave it out of the overhead
        plain = [p for p in self.passes[1:] if not p["traced"]]

        def per_pass(fn) -> float:
            return statistics.fmean(fn(p) for p in traced)

        def op_sum(key, pred=lambda o: True):
            return per_pass(lambda p: sum(o[key] for o in p["ops"] if pred(o)))

        def layer_s(layer):
            return op_sum("build_s", lambda o: o["layer"] == layer)

        def sources_s(writes: bool):
            return per_pass(lambda p: sum(
                o["build_s"] + o["execute_s"] for o in p["ops"]
                if o["layer"] == workloads.SOURCES
                and (o["op"] in workloads.WRITE_OPS) == writes))

        guess_s = layer_s(workloads.FUNCTIONS)
        return {
            "session.start_s": (self.session_start_s, "s"),
            "session.warmup_s": (self.warmup_s, "s"),
            "session.jvm_peak_rss_mb": (self.stats.jvm_peak_rss_mb(), "MB"),
            "op.build_s": (op_sum("build_s"), "s"),
            "op.execute_s": (op_sum("execute_s"), "s"),
            "spark.jobs": (op_sum("jobs"), "count"),
            "spark.stages": (op_sum("stages"), "count"),
            "spark.tasks": (op_sum("tasks"), "count"),
            "spark.driver_gap_s": (op_sum("driver_gap_s"), "s"),
            "spark.executor_run_s": (op_sum("executor_run_s"), "s"),
            "spark.executor_cpu_s": (op_sum("executor_cpu_s"), "s"),
            "spark.gc_s": (op_sum("gc_s"), "s"),
            "spark.input_bytes": (op_sum("input_bytes"), "bytes"),
            "spark.shuffle_write_bytes": (op_sum("shuffle_write_bytes"), "bytes"),
            "spark.spill_bytes": (op_sum("spill_bytes"), "bytes"),
            "operators.call_s": (layer_s(workloads.OPERATORS), "s"),
            "pipeline.call_s": (layer_s(workloads.PIPELINE), "s"),
            "pipeline.python_eval_s": (op_sum("python_eval_s"), "s"),
            "streaming.call_s": (layer_s(workloads.STREAMING), "s"),
            "streaming.batches": (per_pass(lambda p: p["batches"]), "count"),
            "streaming.batch_s": (per_pass(lambda p: p["batch_s"]), "s"),
            "functions.guess_types_s": (guess_s, "s"),
            "functions.guess_rows_per_s": (
                workloads.ingest_rows(self.ctx.sf) / guess_s if guess_s else 0.0, "rows/s"),
            "sources.read_s": (sources_s(writes=False), "s"),
            "sources.write_s": (sources_s(writes=True), "s"),
            "sources.bytes_written": (per_pass(lambda p: p.get("bytes_written", 0)), "bytes"),
            "sources.files_written": (per_pass(lambda p: p.get("files_written", 0)), "count"),
            "plans.cached_rdds_left": (per_pass(lambda p: p["rdds_left"]), "count"),
            "plans.cached_bytes_left": (per_pass(lambda p: p["rdd_bytes_left"]), "bytes"),
            "trace.overhead_s": (
                statistics.median(p["wall_s"] for p in traced)
                - statistics.median(p["wall_s"] for p in plain), "s"),
        }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["tablite", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale factor (default: the workload's own)")
    ap.add_argument("--corrupt", default=None, metavar="OP",
                    help="corrupt OP's result before the oracle check")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_proc = process_start_epoch()
    args = parse_args(argv)
    steal0, total0 = cpu_ticks()
    load0 = os.getloadavg()
    run = Run(args, t_proc)
    os.makedirs(run.work, exist_ok=True)
    cpus = host_env(run.work)
    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        import workloads  # noqa: F401  (fails here outside a full checkout)
        from tools.check_oracle import compare  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        shutil.rmtree(run.work, ignore_errors=True)
        return 2
    try:
        run.setup()
        run.timed_passes()
        run.check()
        metrics = run.per_layer() if args.trace else run.end_to_end()
    finally:
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
        shutil.rmtree(run.work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    contention = {
        "cpus": cpus,
        "loadavg_start": load0[0], "loadavg_end": os.getloadavg()[0],
        "steal_s": (steal1 - steal0) / os.sysconf("SC_CLK_TCK"),
        "steal_share": (steal1 - steal0) / max(total1 - total0, 1),
    }
    frac = run.failed / run.attempted
    result = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    run.record.update(contention=contention, passes=run.passes,
                      failures=run.failures, mismatches=run.mismatches,
                      failed_op_frac=frac, metrics=result)
    with open(os.path.join(OUT_DIR, f"{run.run_id}.json"), "w") as fh:
        json.dump(run.record, fh, indent=1)
    if args.trace:
        run.tracer.write(os.path.join(OUT_DIR, f"{run.run_id}.spans.jsonl"))

    for name, (value, unit) in metrics.items():
        extra = ""
        if name == "op_tail_s":
            t = run.record["op_tail"]
            extra = f"  (p{t['percentile']:.0f} of {t['samples']} samples)"
        print(f"{name:28s} {value:14.6f} {unit}{extra}")
    print(f"{'failed_op_frac':28s} {frac:14.6f} ratio  ({run.failed} of {run.attempted})")
    print("setup: " + " ".join(f"{k}={v:.2f}" for k, v in run.record["setup"].items()))
    print(f"contention: cpus={cpus} loadavg {contention['loadavg_start']:.2f}"
          f"->{contention['loadavg_end']:.2f} steal {contention['steal_s']:.2f} s "
          f"({100 * contention['steal_share']:.1f}%)")
    for f in run.failures + run.mismatches:
        print(f"FAILED {json.dumps(f)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": result,
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
