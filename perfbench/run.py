"""Repository benchmark: one workload, one seed, one fresh process and JVM.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 30 --trace 0

Load model: a closed loop with one client. A pass runs the workload's
operation list once. Each operation is built through the engine's public
entry points and fully forced: a read by collecting its rows, a write by
its real write. After every operation whatever it left persisted is
counted and released, so no operation and no later pass reads an earlier
one's cache.

A run generates the seeded inputs (cached per seed, not timed), starts the
session and runs the daily batch as it runs in production: one
cold pass in a fresh JVM, every operation once in the listed order
(`batch_s`). The rows and files of that pass are value-checked against the
DuckDB oracles at the end of the run. Then come `(--seconds - 30) // 10`
warm passes, each in a seed-permuted order; they are reported on the
summary line only, because the JIT is still compiling in them and their
walls spread too widely between runs to bound. Last, in an untraced run,
`SETUPS - 1` more set-ups run one after another, each in a child process
with a fresh JVM; `setup_s` is the median of the run's set-ups.

`--trace 1` traces the cold pass and prints its per-layer metrics (see
layers.py); the warm passes alternate untraced and traced (u t ...) to
give the tracing overhead and to check that every pass launches the same
jobs. Per-operation records go to `.perfbench_work/traces/`. The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. The exit code is 1 when an output is wrong, 2 when the engine
is not in the tree.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from workloads import LAYER_TARGETS, ROOT, WORK, WORKLOADS, input_dir  # noqa: E402

# Fixed JVM heap, not pre-touched: heap resizing moves no timing, and
# pre-touching it would add its own cost to the set-up.
HEAP = "1536m"
SETUPS = 3  # session set-ups per run: the run's own and SETUPS - 1 children
# A run measures about --seconds: the cold batch, then warm passes filling
# the rest. The pass count comes from these nominal times, not from the
# clock, so two versions of the engine always do the same work.
COLD_S, PASS_S = 30.0, 10.0


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # child mode: time one set-up, print it, stop
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def prepare_env(run_dir: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:-UsePerfData -Xms{HEAP}"
    )
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf", shlex.quote(f"spark.sql.warehouse.dir={run_dir}/warehouse"),
                "--conf", "spark.ui.showConsoleProgress=false",
                "--driver-java-options", shlex.quote(java_opts),
                "pyspark-shell",
            ]
        ),
    )
    os.environ.pop("SPARK_GRAFT_UI", None)
    import tempfile

    tempfile.tempdir = tmp


class Bench:
    """One run: the session, the workload's operations and their records."""

    def __init__(self, spark, workload, src: str, out_root: str):
        from airdatapipeline_spark import pipeline
        from airdatapipeline_spark.registry import QUERIES
        from airdatapipeline_spark.sources import csv_io

        self.spark, self.sc = spark, spark.sparkContext
        self.wl = workload
        self.out = {op: os.path.join(out_root, op) for op in workload.writes}

        def query(name):
            return lambda: QUERIES[name](spark, src)

        def collect(df):
            return df.toPandas()

        # op -> (build, act): build() returns the frame act(frame) forces
        self.calls = {name: (query(name), collect) for name in workload.reads}
        writes = {
            "write_gold": (
                lambda: None,
                lambda _: pipeline.write_gold(spark, src, self.out["write_gold"]),
            ),
            "write_silver_partitioned": (
                lambda: pipeline.run_enrichment(spark, src),
                lambda df: csv_io.write_silver_partitioned(df, self.out["write_silver_partitioned"]),
            ),
            "write_curated_corpus": (
                query("curation_pipeline"),
                lambda df: df.write.mode("overwrite").parquet(self.out["write_curated_corpus"]),
            ),
        }
        self.calls.update((name, writes[name]) for name in workload.writes)

    def order(self, seed: int, pass_no: int) -> list[str]:
        """The operations of one warm pass, in a seed-permuted order."""
        ops = list(self.wl.ops)
        random.Random(f"{seed}:{pass_no}").shuffle(ops)
        return ops

    def release(self) -> None:
        """Unpersist every RDD and drop the SQL cache."""
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()

    def run_op(self, name: str, tag: str | None = None, keep: bool = False) -> dict:
        """Build and force one operation. With a `tag` every phase runs under
        job group `<tag>:<phase>`, the physical plan is forced between build
        and action, and the layer counters are recorded. `keep` keeps a read's
        rows for the value check."""
        import layers

        build, act = self.calls[name]
        act_phase = "write" if name in self.out else "exec"
        rec = {"op": name, "failed": False}
        spans = {}

        def phase(p):
            if tag:
                layers.set_group(self.sc, f"{tag}:{p}")
            return time.perf_counter()

        t0 = time.perf_counter()
        try:
            t = phase("build")
            df = build()
            spans["build"] = time.perf_counter() - t
            if tag and df is not None:
                t = phase("plan")
                rec["phases"], rec["python"] = layers.plan_phases(df._jdf)
                spans["plan"] = time.perf_counter() - t
            t = phase(act_phase)
            out = act(df)
            spans[act_phase] = time.perf_counter() - t
            if keep and name not in self.out:
                rec["rows"] = out
        except Exception:  # an operation that raises is counted, not fatal
            traceback.print_exc()
            rec["failed"] = True
        finally:
            if tag:
                layers.set_group(self.sc, None)
        rec["wall"] = time.perf_counter() - t0
        if tag:
            rec["spans"] = spans
            layers.drain(self.sc)
            rec["counters"] = {p: layers.group_counters(self.sc, f"{tag}:{p}") for p in ("build", "plan", act_phase)}
            rec["leaked_rdds"], rec["storage_mb"] = layers.storage(self.sc)
            if name in self.out:
                rec["output_mb"], rec["files"] = dir_size(self.out[name])
        rec["live_heap_mb"] = live_heap_mb(self.sc)
        self.release()
        return rec

    def written(self, name: str, table: str):
        """One table of a write operation's output, read back."""
        return self.spark.read.parquet(os.path.join(self.out[name], table)).toPandas()


def log_pass(label: str, recs: list[dict]) -> None:
    walls = " ".join(f"{r['op']}={r['wall']:.2f}" + ("!" if r["failed"] else "") for r in recs)
    print(f"{label}: {sum(r['wall'] for r in recs):.2f} s: {walls}", file=sys.stderr)


def dir_size(path: str) -> tuple[float, int]:
    """(MB, data files) under `path`, ignoring hidden and marker files."""
    mb, files = 0.0, 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                mb += os.path.getsize(os.path.join(d, n)) / 1e6
                files += 1
    return mb, files


def live_heap_mb(sc) -> float:
    """Driver heap in use after a full collection: the data the JVM holds,
    such as cached partitions, with the garbage left out."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 1e6


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def tail(values: list[float]) -> tuple[float, int] | None:
    """(value, percentile) of the highest whole percentile with at least ten
    samples above it; None with ten samples or fewer."""
    n = len(values)
    pct = int(100 * (n - 10) / n)
    if pct < 1:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct


def layer_metrics(recs: list[dict], cores: int) -> dict[str, float]:
    """Per-layer sums over one traced pass."""
    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0.0) + v

    for r in recs:
        s, c = r["spans"], r["counters"]
        add("build.s", s.get("build", 0.0))
        add("build.jobs", c["build"]["jobs"])
        add("plan.s", s.get("plan", 0.0))
        for ph in ("analysis", "optimization", "planning"):
            add(f"plan.{ph}_ms", r.get("phases", {}).get(ph, 0))
        add("exec.s", s.get("exec", 0.0))
        add("write.s", s.get("write", 0.0))
        for phase in ("plan", "exec", "write"):
            for k, v in c.get(phase, {}).items():
                add(f"exec.{k}", v)
        python = r.get("python", False)
        add("python.ops", int(python))
        add("python.exec_s", s.get("exec", 0.0) + s.get("write", 0.0) if python else 0.0)
        add("mat.leaked_rdds", r["leaked_rdds"])
        add("mat.storage_mb", r["storage_mb"])
        add("write.output_mb", r.get("output_mb", 0.0))
        add("write.files", r.get("files", 0))
        add("trace.wall_s", r["wall"])
    busy = m["exec.s"] + m["write.s"]
    m["exec.core_busy"] = m["exec.run_s"] / (busy * cores) if busy else 0.0
    covered = m["build.s"] + m["plan.s"] + m["exec.s"] + m["write.s"]
    m["trace.coverage"] = covered / m["trace.wall_s"]
    return m


def unstable_job_ops(passes: list[list[dict]]) -> dict[str, list[int]]:
    """Operations whose job count differs between traced passes."""
    jobs: dict[str, list[int]] = {}
    for recs in passes:
        for r in recs:
            jobs.setdefault(r["op"], []).append(sum(c["jobs"] for c in r["counters"].values()))
    return {op: js for op, js in jobs.items() if len(set(js)) > 1}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "airdatapipeline_spark", "__init__.py")):
        print(f"engine package airdatapipeline_spark not found under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    import gen

    sys.path.insert(0, ROOT)
    if args.setup_only:
        return setup_only(wl, cores)
    t = time.perf_counter()
    src = input_dir(wl.name, args.seed)
    sizes = gen.generate(src, args.seed, wl.documents)
    print(f"inputs: {time.perf_counter() - t:.2f} s", file=sys.stderr)

    run_dir = os.path.join(WORK, "runs", f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, cores)
    spark = None
    try:
        with contextlib.redirect_stdout(sys.stderr):
            spark, setup_s = start_session(wl)
            bench = Bench(spark, wl, src, os.path.join(run_dir, "out"))
            cold = [bench.run_op(op, f"cold:{op}" if args.trace else None, keep=True) for op in wl.ops]
            log_pass("cold pass" + (" (traced)" if args.trace else ""), cold)

            n_warm = max(0, int((args.seconds - COLD_S) // PASS_S))
            kinds = ["u", "t"] * max(1, n_warm) if args.trace else ["u"] * n_warm
            warm = []
            traced = [cold] if args.trace else []
            for p, kind in enumerate(kinds, start=1):
                ops = bench.order(args.seed, p)
                if kind == "t":
                    traced.append([bench.run_op(op, f"p{p}:{op}") for op in ops])
                    log_pass(f"pass {p} (warm, traced)", traced[-1])
                else:
                    warm.append([bench.run_op(op) for op in ops])
                    log_pass(f"pass {p} (warm)", warm[-1])

            t = time.perf_counter()
            wrong = check_outputs(bench, cold, src)
            print(f"value check: {time.perf_counter() - t:.2f} s", file=sys.stderr)
            rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    setups = [setup_s]
    if not args.trace:
        setups += [child_setup(args) for _ in range(SETUPS - 1)]
        print("set-ups: " + " ".join(f"{x:.2f}" for x in setups) + " s", file=sys.stderr)

    recs = [r for p in [cold] + warm + traced[1:] for r in p]
    attempted, failed = len(recs), sum(r["failed"] for r in recs)
    walls = [r["wall"] for r in recs]
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "batch_s": (sum(r["wall"] for r in cold), "s"),
        "live_heap_mb": (max(r["live_heap_mb"] for r in cold), "MB"),
    }
    warm_batch = [sum(r["wall"] for r in p) for p in warm]
    op_tail = tail(walls)
    print(
        f"{wl.name} seed={args.seed} warm_passes={len(warm)} cores={cores}: "
        + " ".join(f"{k}={v:.4g} {u}" for k, (v, u) in e2e.items())
        + (f" warm_batch_s={statistics.median(warm_batch):.4g} s" if warm_batch else "")
        + f" peak_rss_mb={rss:.4g} MB op_p50_s={statistics.median(walls):.4g} s"
        + (f" op_tail_s={op_tail[0]:.4g} s (p{op_tail[1]}" if op_tail else " op_tail_s=n/a (no percentile")
        + f" with 10 of {len(walls)} op samples above it)"
        + f" fail_ratio={failed / attempted:.4g} ratio wrong_outputs={len(wrong)} count"
    )
    if args.trace:
        layers = layer_metrics(cold, cores)
        layers["session.start_s"] = setup_s
        layers["trace.overhead_s"] = statistics.median(
            sum(r["wall"] for r in p) for p in traced[1:]
        ) - statistics.median(warm_batch)
        unstable = unstable_job_ops(traced)
        layers["trace.unstable_job_ops"] = len(unstable)
        write_trace(wl, args.seed, sizes, traced, layers, unstable, wrong)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for op, why in wrong.items():
        print(f"wrong output: {op}: {why}", file=sys.stderr)
    print(json.dumps({"correct": not wrong, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 1 if wrong else 0


def start_session(wl):
    """Import the engine and start its session; (session, seconds)."""
    t0 = time.perf_counter()
    from airdatapipeline_spark.session import get_spark

    spark = get_spark(f"perfbench-{wl.name}")
    seconds = time.perf_counter() - t0
    if not os.path.abspath(sys.modules["airdatapipeline_spark"].__file__).startswith(ROOT):
        stop(spark)
        raise RuntimeError("engine imported from outside the checkout")
    return spark, seconds


def setup_only(wl, cores: int) -> int:
    """Child mode: one set-up in this fresh process; print its seconds."""
    run_dir = os.path.join(WORK, "runs", f"setup-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, cores)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            spark, seconds = start_session(wl)
            stop(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(seconds)
    return 0


def child_setup(args) -> float:
    """One more set-up, in a child process with its own JVM."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-only", "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds)],
        stdout=subprocess.PIPE, text=True, timeout=150, check=True,
    )
    return float(out.stdout.split()[-1])


def check_outputs(bench: Bench, checked: list[dict], src: str) -> dict[str, str]:
    """op -> first difference from its oracle, for every wrong output."""
    import check
    from airdatapipeline_spark.registry import ORACLES

    con = check.oracle_connection(src)
    writes = check.write_checks(ORACLES)
    wrong = {}
    for r in checked:
        op = r["op"]
        if r["failed"]:
            continue
        try:
            if op in bench.out:
                pairs = [
                    (bench.written(op, table).drop(columns=list(check.UNCHECKED), errors="ignore"), sql)
                    for table, sql in writes[op]
                ]
            else:
                pairs = [(r["rows"], ORACLES[op])]
            diff = "; ".join(filter(None, (check.mismatch(got, con.execute(sql).df()) for got, sql in pairs)))
        except Exception as exc:
            diff = f"check raised {exc!r}"
        if diff:
            wrong[op] = diff
    con.close()
    return wrong


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name in ("exec.core_busy", "trace.coverage"):
        return "ratio"
    return "count"


def write_trace(wl, seed, sizes, traced, layers, unstable, wrong) -> None:
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{wl.name}-seed{seed}.json")
    for recs in traced:
        for r in recs:
            r.pop("rows", None)
    with open(path, "w") as fh:
        json.dump(
            {
                "workload": wl.name, "seed": seed, "inputs": sizes, "layers": layers,
                "layer_targets": LAYER_TARGETS, "unstable_job_ops": unstable,
                "wrong_outputs": wrong, "passes": traced,
            },
            fh, indent=1, default=str,
        )
    print(f"trace: {path}", file=sys.stderr)


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
