"""Layered end-to-end benchmark of ontology_loader_spark (see README.md).

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 20 --trace 0

One process, one Spark session on ``local[<cores>]``, one client in a
closed loop: an op starts only after the previous one finished and was
checked. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics untraced, the per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("cold_load", "refresh", "transcript_kg")
MB = 1024 * 1024
MIN_OPS = 2
HEAP = "2g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float,
                   help="measure ops for this long (at least two ops run)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0,
                   help="1: alternate untraced and traced ops, print per-layer metrics")
    p.add_argument("--plant-defect", action="store_true",
                   help="check every op's output with one row left out; every op must fail")
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file the run writes under ``work``, and give Python
    UDF workers the package path whatever the current directory is."""
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no /tmp/hsperfdata files from the launcher and driver JVMs
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(1, str(ROOT))  # after this directory, which holds the benchmark


def start_spark(work: Path, trace: bool, cores: int):
    from ontology_loader_spark.session import get_spark

    confs = {
        # A fixed heap (initial = max): with the 8g default, or a 2g cap
        # that G1 grows into adaptively, the JVM's resident size followed
        # G1's sizing decisions (2.9-5.3 GB, 1.7-2.3 GB across seeds)
        # more than the program's memory use.
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        confs |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            # the default zstd codec needs the zstandard module to read
            "spark.eventLog.compress": "false",
        }
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


class Runner:
    def __init__(self, args, workload, oracle):
        self.args, self.w, self.oracle = args, workload, oracle
        self.attempted = self.failed = 0
        self.triples = 0

    def run(self, fn, label: str) -> float:
        """One op: reset the store (untimed, except before the warm-up),
        run ``fn`` (timed), check the output (untimed). Returns the op's
        wall time."""
        warm_up = label == "warm-up"
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if not warm_up:
                self.w.reset()
                t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            problems, self.triples = self.w.check(
                self.oracle, self.w.expected_warm_up if warm_up else self.w.expected,
                drop_one=self.args.plant_defect)
        except Exception:  # an op that raises counts as failed; keep measuring
            wall = time.perf_counter() - t0
            problems = [traceback.format_exc()]
        self.failed += bool(problems)
        print(f"op {self.attempted} {label} {wall:.3f}s {'ok' if not problems else 'FAILED'}",
              flush=True)
        for p in problems:
            print(f"  {p}", file=sys.stderr)
        return wall

    def self_test(self) -> bool:
        """The check must reject the warm-up output with one row dropped."""
        try:
            problems, _ = self.w.check(self.oracle, self.w.expected_warm_up, drop_one=True)
        except Exception:
            traceback.print_exc()
            return False
        return bool(problems)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "ontology_loader_spark").is_dir():
        print(f"perfbench: no ontology_loader_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench" / run_id
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        return measure(args, work, run_id, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args: argparse.Namespace, work: Path, run_id: str, cores: int) -> int:
    import check
    import spans
    import workloads

    t_setup = time.perf_counter()
    w = workloads.make(args.workload, args.seed, work)
    gen_s = time.perf_counter() - t_setup

    oracle = check.Oracle(work / "duckdb")
    t0 = time.perf_counter()
    w.oracle(oracle)
    print(f"oracle {time.perf_counter() - t0:.3f}s", flush=True)
    print("traffic " + json.dumps(w.traffic), flush=True)

    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace), cores)
    session_s = time.perf_counter() - t0
    runner = Runner(args, w, oracle)
    try:
        setup_s = gen_s + session_s + runner.run(lambda: w.warm_up(spark), "warm-up")
        self_test_ok = runner.self_test()

        tracer = spans.Tracer(spark, run_id) if args.trace else None
        untraced, traced, rows, extra, sizes = [], [], [], [], []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or len(untraced) + len(traced) < MIN_OPS:
            if tracer is not None and len(traced) < len(untraced):
                finish = []

                def traced_op():
                    with tracer.op():
                        finish.append(w.traced_op(spark, tracer))
                traced.append(runner.run(traced_op, "traced"))
                if finish:
                    rows.append(tracer.count_outputs())
                    extra.append(finish[0]())
            else:
                untraced.append(runner.run(lambda: w.op(spark), "untraced"))
            sizes.append(w.store_bytes())
        peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        oracle.close()

    ok = runner.failed == 0 and self_test_ok
    if not self_test_ok:
        print("self-test: the check accepted an output with a row dropped", file=sys.stderr)
    if args.trace:
        events = spans.read_event_log(work / "eventlog")
        mean = lambda dicts, key: statistics.fmean([d.get(key, 0) for d in dicts] or [0.0])  # noqa: E731
        metrics = spans.layer_metrics(
            tracer.spans, events, {k: mean(rows, k) for k in spans.LAYERS}, cores)
        metrics |= {k: float(mean(extra, k)) for k in spans.EXTRA}
        metrics["trace.overhead_frac"] = (statistics.median(traced)
                                          / statistics.median(untraced) - 1)
        tracer.write(ROOT / ".perfbench" / "spans" / f"{run_id}.json")
        units = {k: spans.UNITS[k.rsplit(".", 1)[1]] for k in metrics}
    else:
        op_s = statistics.median(untraced)
        metrics = {
            "setup_s": setup_s,
            "op_s_p50": op_s,
            "triples_per_s": runner.triples / op_s,
            "store_mb": statistics.median(sizes) / MB,
            "peak_rss_mb": peak_rss_mb,
            "ok_frac": (runner.attempted - runner.failed) / runner.attempted,
        }
        units = {"setup_s": "s", "op_s_p50": "s", "triples_per_s": "1/s",
                 "store_mb": "MB", "peak_rss_mb": "MB", "ok_frac": "fraction"}
        print(f"op_s_p50 over n={len(untraced)} ops; failed_frac "
              f"{runner.failed / runner.attempted:.4f}", flush=True)
    for k, v in metrics.items():
        print(f"metric {k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
