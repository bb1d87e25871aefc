#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop client, one process.

    python3 perfbench/run.py --workload fast_ingest --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

* ``fast_ingest`` - one op is ``jobs.run_ingest`` over a seeded synthetic
  FAST N-Triples corpus and viaf table, writing both parquet sinks;
* ``llm_ops`` - one pass runs five data-curation queries (a dedup
  operator, a Python image codec, an iterative graph, a driver-built
  model and a streaming aggregate) through the noop sink over seeded
  tables.

The run builds its inputs from the seed, starts ``session.get_spark`` at
``local[<cores>]``, warms up a fixed number of passes, then runs passes
until ``--seconds`` have elapsed. With ``--trace 1`` it alternates
untraced and traced passes and reports per-layer metrics instead of the
end-to-end ones. Output checks run after the timed passes. The last line
of stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

FAST_LINES = 20_000
DRIVER_MEM = "2g"
WARMUP_PASSES = {"fast_ingest": 5, "llm_ops": 2}
LLM_OPS = [
    "dedup_containment", "multimodal_jpeg_progressive", "graph_pagerank",
    "quality_train_logreg", "stream_windowed_counts",
]

LAYER_SUMS = (
    "construct_s", "construct.py4j_calls", "construct.eager_jobs",
    "catalyst.plan_s", "exec.stages", "exec.tasks", "exec.run_s",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
    "exec.input_bytes", "exec.gc_s", "python.bytes_sent",
    "python.bytes_received", "cache.persisted_rdds", "jobs.fast_sink_s",
    "jobs.viaf_sink_s", "sink.files_written", "sink.bytes_written",
)


def configure_environment(cores: int) -> None:
    """Harness hygiene, before any JVM or Python worker starts: the repo
    on the workers' PYTHONPATH, Spark's local and temp dirs inside the checkout,
    ``local[cores]``, the driver heap and single-threaded native math in
    the workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # A 2 GB driver heap instead of get_spark's 8 GB default: with the
    # larger cap G1 kept growing the heap into fresh memory through the
    # timed passes, which made them slow and noisy; the inputs need far
    # less, and the host is shared.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(var, None)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        # No hsperfdata file in the system temp dir: the run writes only
        # inside its checkout.
        f"--driver-java-options {shlex.quote('-XX:-UsePerfData -Djava.io.tmpdir=' + tmp)} "
        "pyspark-shell"
    )
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path.insert(0, ROOT)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


class Bench:
    """One run: a session, one workload's inputs, its passes and checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.spark = None
        self.failed_ops = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.spans = None
        self.status = None
        self.py4j = None
        self.op_seq = 0
        self.patches: list[tuple] = []
        self.tracing_now = False
        self.ingest_layers: dict[str, float] = {}

    # ---------------------------------------------------------------- set-up
    def start_session(self) -> float:
        from ingest_fast_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}")
        return time.perf_counter() - t

    def prepare(self, d: str) -> None:
        if self.workload == "fast_ingest":
            import fastgen
            import pyarrow as pa
            import pyarrow.parquet as pq

            self.corpus = os.path.join(d, "corpus")
            self.model = fastgen.generate(self.seed, FAST_LINES, self.corpus)
            viaf_path = os.path.join(d, "viaf.parquet")
            schema = pa.schema([("_id", pa.string()), ("viaf", pa.string()),
                                ("lcId", pa.string()), ("fast", pa.list_(pa.int64()))])
            pq.write_table(pa.Table.from_pylist(self.model["viaf_rows"], schema), viaf_path)
            self.viaf = self.spark.read.parquet(viaf_path)
            self.out_dir = os.path.join(d, "out")
            self.input_records = self.model["lines"]
        else:
            import tablegen

            self.data_dir = os.path.join(d, "tables")
            self.input_records = sum(tablegen.generate(self.seed, self.data_dir).values())

    def setup(self) -> dict:
        session_s = self.start_session()
        self.spark.sparkContext.setLogLevel("ERROR")
        t = time.perf_counter()
        self.prepare(os.path.join(WORK, "inputs"))
        prep_s = time.perf_counter() - t
        t = time.perf_counter()
        warm = [self.run_pass(traced=False)["wall"] for _ in range(WARMUP_PASSES[self.workload])]
        warmup_s = time.perf_counter() - t
        # Warm-up ops do not count as attempts.
        self.attempted = self.failed_ops = 0
        self.failures.clear()
        return {
            "session_s": session_s,
            "prep_s": prep_s,
            "warmup_passes": warm,
            "warmup_s": warmup_s,
            "setup_s": time.perf_counter() - T_PROCESS,
        }

    # ------------------------------------------------------------------- ops
    def ops(self):
        if self.workload == "fast_ingest":
            return [("run_ingest", self.ingest_op)]
        from ingest_fast_spark.queries import QUERIES

        return [(q, self.query_op(QUERIES[q])) for q in LLM_OPS]

    def ingest_op(self, traced: bool) -> dict:
        from ingest_fast_spark import jobs

        counters = jobs.run_ingest(self.spark, self.corpus, self.out_dir, viaf=self.viaf)
        want = self.model["expected"]
        bad = {k: (counters.get(k), want[k]) for k in ("n_fast_docs", "n_types", "n_viaf_docs")
               if counters.get(k) != want[k]}
        return {"error": f"observe() counters (got, want): {bad}" if bad else None}

    def query_op(self, build):
        def op(traced: bool) -> dict:
            if not traced:
                build(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
                return {}
            from probes import plan_phases_s

            sc = self.spark.sparkContext
            group = f"construct:{self.op_seq}"
            sc.setJobGroup(group, group)
            self.py4j.calls, self.py4j.active = 0, True
            with self.spans.span("construct") as c:
                df = build(self.spark, self.data_dir)
            self.py4j.active = False
            sc.setJobGroup(f"action:{self.op_seq}", "action")
            with self.spans.span("action") as a:
                with self.spans.span("catalyst"):
                    plan_s = plan_phases_s(df._jdf)
                df.write.format("noop").mode("overwrite").save()
            return {
                "construct_s": c["end"] - c["start"],
                "action_s": a["end"] - a["start"],
                "construct.py4j_calls": self.py4j.calls,
                "construct.eager_jobs": self.status.jobs_in_group(group),
                "catalyst.plan_s": plan_s,
            }

        return op

    def run_op(self, name: str, op, traced: bool) -> dict:
        self.op_seq += 1
        self.attempted += 1
        rec = {"op": name, "error": None}
        self.tracing_now = traced
        if traced:
            self.spans.op = self.op_seq
            self.ingest_layers = {}
            # The deltas read after the op cover this op only, not the
            # untraced ops before it.
            self.status.mark()
        t = time.perf_counter()
        try:
            if traced:
                with self.spans.span(f"op:{name}"):
                    rec.update(op(traced))
            else:
                rec.update(op(traced))
        except Exception as e:  # an op failure is counted, the run goes on
            rec["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
        rec["wall"] = time.perf_counter() - t
        if traced:
            rec.update(self.after_traced_op())
        if rec["error"]:
            self.failed_ops += 1
            self.failures.append(f"{name}: {rec['error']}")
        # Never let an op reuse the previous op's cached work.
        self.spark.catalog.clearCache()
        gc.collect()
        return rec

    def after_traced_op(self) -> dict:
        out = dict(self.ingest_layers) if self.workload == "fast_ingest" else {}
        out.update(self.status.stage_delta())
        out.update(self.status.python_delta())
        out["cache.persisted_rdds"] = self.status.persisted_rdds()
        if self.workload == "fast_ingest":
            files = [os.path.join(r, f) for r, _, fs in os.walk(self.out_dir)
                     for f in fs if not f.startswith((".", "_"))]
            out["sink.files_written"] = len(files)
            out["sink.bytes_written"] = sum(os.path.getsize(f) for f in files)
        return out

    def run_pass(self, traced: bool) -> dict:
        t = time.perf_counter()
        recs = [self.run_op(name, op, traced) for name, op in self.ops()]
        return {"wall": time.perf_counter() - t, "traced": traced, "ops": recs}

    # --------------------------------------------------------------- tracing
    def install_tracing(self) -> None:
        """Wrap the ingest job's plan-building calls and its parquet sink so their
        spans, py4j trips, eager jobs and plan time are recorded."""
        from probes import Py4jCounter, Spans, StatusStore, plan_phases_s

        self.spans = Spans()
        self.status = StatusStore(self.spark)
        self.py4j = Py4jCounter()
        if self.workload != "fast_ingest":
            return
        from pyspark.sql.readwriter import DataFrameWriter

        from ingest_fast_spark import jobs

        bench = self
        sc = self.spark.sparkContext

        def add(key, value):
            bench.ingest_layers[key] = bench.ingest_layers.get(key, 0) + value

        def wrap_construct(fn):
            def wrapped(*args, **kwargs):
                if not bench.tracing_now:
                    return fn(*args, **kwargs)
                group = f"construct:{bench.op_seq}:{fn.__name__}"
                sc.setJobGroup(group, group)
                before = bench.py4j.calls
                bench.py4j.active = True
                try:
                    with bench.spans.span(f"construct:{fn.__name__}") as s:
                        return fn(*args, **kwargs)
                finally:
                    bench.py4j.active = False
                    add("construct_s", s["end"] - s["start"])
                    add("construct.py4j_calls", bench.py4j.calls - before)
                    add("construct.eager_jobs", bench.status.jobs_in_group(group))
            return wrapped

        for name in ("scan_tagged_triples", "build_fast_table_tagged", "build_viaf_updates_tagged"):
            orig = getattr(jobs, name)
            self.patches.append((jobs, name, orig))
            setattr(jobs, name, wrap_construct(orig))

        orig_parquet = DataFrameWriter.parquet

        def parquet(writer, path, *args, **kwargs):
            if not bench.tracing_now:
                return orig_parquet(writer, path, *args, **kwargs)
            sink = os.path.basename(os.path.normpath(path))
            sc.setJobGroup(f"sink:{bench.op_seq}:{sink}", sink)
            with bench.spans.span(f"sink:{sink}") as s:
                with bench.spans.span("catalyst"):
                    add("catalyst.plan_s", plan_phases_s(writer._df._jdf))
                result = orig_parquet(writer, path, *args, **kwargs)
            add(f"jobs.{sink}_sink_s", s["end"] - s["start"])
            add("action_s", s["end"] - s["start"])
            return result

        self.patches.append((DataFrameWriter, "parquet", orig_parquet))
        DataFrameWriter.parquet = parquet

    def remove_tracing(self) -> None:
        for owner, name, orig in reversed(self.patches):
            setattr(owner, name, orig)
        self.patches.clear()
        if self.py4j:
            self.py4j.restore()

    # ----------------------------------------------------------- timed loop
    def timed_passes(self) -> list[dict]:
        """Run passes until ``seconds`` have elapsed. With tracing, passes
        alternate untraced / traced and end on a traced one."""
        passes = []
        t0 = time.perf_counter()
        while True:
            traced = self.trace and len(passes) % 2 == 1
            passes.append(self.run_pass(traced))
            done = time.perf_counter() - t0 >= self.seconds
            if done and (not self.trace or len(passes) % 2 == 0):
                return passes

    def nt_parse_layer(self) -> dict:
        """``sources.nt.read_nt`` alone through the noop sink, and the lines
        it drops, which must equal the generator's malformed lines."""
        from ingest_fast_spark.sources.nt import read_nt

        t = time.perf_counter()
        read_nt(self.spark, self.corpus).write.format("noop").mode("overwrite").save()
        parse_s = time.perf_counter() - t
        dropped = self.model["lines"] - read_nt(self.spark, self.corpus).count()
        if dropped != self.model["malformed_lines"]:
            self.failures.append(
                f"sources.nt dropped {dropped} lines, generator wrote "
                f"{self.model['malformed_lines']} malformed")
        return {"sources.nt.parse_s": parse_s, "sources.nt.dropped_lines": dropped}

    # ---------------------------------------------------------------- checks
    def check_outputs(self) -> list[str]:
        """Compare outputs with answers computed outside the engine; return
        the names of the ops whose output is wrong."""
        if self.workload == "fast_ingest":
            return self.check_ingest()
        import check
        import tablegen
        from ingest_fast_spark.queries import ORACLES, QUERIES

        con = check.duck_connection(self.data_dir, tablegen.TABLES)
        wrong = []
        for name, _ in self.ops():
            try:
                got = QUERIES[name](self.spark, self.data_dir).toPandas()
                problem = check.compare(name, got, con.execute(ORACLES[name]).fetchdf())
            except Exception as e:  # a check that cannot run is a failed check
                problem = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
            self.spark.catalog.clearCache()
            gc.collect()
            if problem:
                wrong.append(name)
                self.failures.append(f"check {name}: {problem}")
        con.close()
        return wrong

    def check_ingest(self) -> list[str]:
        import fastgen
        import pyarrow.parquet as pq

        want = self.model["expected"]
        fast = pq.read_table(os.path.join(self.out_dir, "fast")).to_pylist()
        viaf = pq.read_table(os.path.join(self.out_dir, "viaf")).to_pylist()
        gained = {r["_id"]: sorted(r["fast"] or []) for r in self.model["viaf_rows"]}
        got = {
            "n_fast_docs": len(fast),
            "n_viaf_docs": len(viaf),
            "viaf_rows_gaining_ids": sum(sorted(r["fast"] or []) != gained.get(r["_id"]) for r in viaf),
            "fast_hash": fastgen.fast_doc_hash(fast),
            "viaf_hash": fastgen.viaf_hash(viaf),
        }
        bad = [k for k, v in got.items() if v != want[k]]
        if bad:
            self.failures.append(f"check run_ingest: mismatched {bad}")
            return ["run_ingest"]
        return []

    # ------------------------------------------------------------- teardown
    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not found")

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        try:
            gateway.shutdown()
        except Exception:  # the gateway may already be closed
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def summarize(bench: Bench, setup: dict, passes: list[dict], wrong: list[str],
              rss_mb: float, extra: dict) -> dict:
    untraced = [p for p in passes if not p["traced"]]
    pass_s = median([p["wall"] for p in untraced])
    # Ops whose output check failed count as failed on every timed pass.
    for p in passes:
        for r in p["ops"]:
            if r["op"] in wrong and not r["error"]:
                bench.failed_ops += 1
    attempted, failed = bench.attempted, bench.failed_ops
    if not bench.trace:
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "pass_s": (pass_s, "s"),
            "lines_per_s": (bench.input_records / pass_s, "1/s"),
            "ops_ok_frac": ((attempted - failed) / attempted, "ratio"),
        }
    else:
        traced = [p for p in passes if p["traced"]]
        per_pass = []
        for p in traced:
            sums = {k: sum(r.get(k, 0) for r in p["ops"]) for k in LAYER_SUMS}
            op_wall = sum(r["wall"] for r in p["ops"])
            sums["exec.core_util"] = sums["exec.run_s"] / (op_wall * bench.cores)
            sums["trace.accounted_frac"] = min(
                (r.get("construct_s", 0) + r.get("action_s", 0)) / r["wall"] for r in p["ops"])
            per_pass.append(sums)
        metrics = {k: (median([s[k] for s in per_pass]), unit_of(k)) for k in per_pass[0]}
        metrics["session.start_s"] = (setup["session_s"], "s")
        metrics["warmup_s"] = (setup["warmup_s"], "s")
        metrics["peak_rss_mb"] = (rss_mb, "MB")
        metrics["trace.overhead"] = (median([p["wall"] for p in traced]) / pass_s - 1, "ratio")
        for k in ("sources.nt.parse_s", "sources.nt.dropped_lines"):
            metrics[k] = (extra.get(k, 0), unit_of(k))
        for q in LLM_OPS:
            walls = [r["wall"] for p in untraced for r in p["ops"] if r["op"] == q]
            metrics[f"query.{q}_s"] = (median(walls), "s")
    return {
        "correct": failed == 0 and not bench.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name in ("exec.core_util", "trace.accounted_frac", "trace.overhead"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    configure_environment(cores)
    sys.path.insert(0, HERE)
    import ingest_fast_spark  # noqa: F401  (fail fast without the engine)

    shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), cores)
    try:
        setup = bench.setup()
        log(f"workload={args.workload} seed={args.seed} cores={cores} "
            f"master=local[{cores}] input_records={bench.input_records} "
            f"setup_s={setup['setup_s']:.3f} session_s={setup['session_s']:.3f} "
            f"prep_s={setup['prep_s']:.3f} "
            f"warmup_passes={[round(x, 3) for x in setup['warmup_passes']]}")
        if bench.trace:
            bench.install_tracing()
        passes = bench.timed_passes()
        rss_mb = bench.peak_rss_mb()
        extra = {}
        if bench.trace and args.workload == "fast_ingest":
            extra = bench.nt_parse_layer()
        bench.remove_tracing()
        walls = [round(p["wall"], 3) for p in passes]
        log(f"timed passes={len(passes)} walls={walls} traced={[p['traced'] for p in passes]} "
            f"peak_rss_mb={rss_mb:.1f}")
        for name, _ in bench.ops():
            ws = [round(r["wall"], 3) for p in passes for r in p["ops"] if r["op"] == name]
            log(f"op {name} walls={ws}")
        wrong = bench.check_outputs()
        result = summarize(bench, setup, passes, wrong, rss_mb, extra)
        for f in bench.failures:
            log(f"FAILED {f}")
        if bench.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            bench.spans.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
    finally:
        bench.stop()
        shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
