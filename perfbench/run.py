#!/usr/bin/env python3
"""Engine benchmark: one client issues a workload's operations in a closed
loop against ``local[4]`` and reports end-to-end or per-layer metrics.

    python3 perfbench/run.py --workload single_pass --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes and prints the
per-layer metrics measured on the traced ones. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. See
perfbench/README.md for the workloads and the layer -> metric map.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import time
from contextlib import contextmanager, nullcontext
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")
SF_DIR = os.path.join(FIXTURES, "sf0.01")
CORES = 4
# Harness JVM settings, chosen for run-to-run steadiness (README.md,
# "Steadiness"), not the engine's defaults: a 1 GB heap, the C1 compiler only,
# which is at full speed after the warm-up pass, and the parallel collector.
# No perf-data file, which the JVM would write to /tmp whatever
# java.io.tmpdir says.
DRIVER_MEM = "1g"
JVM_OPTS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
DEADLINE_S = 170  # the run must end within 180 s

sys.path.insert(0, HERE)
from stats import pass_time  # noqa: E402
from workloads import PIPELINE, WORKLOADS  # noqa: E402



def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, Python workers and the engine write inside
    the checkout, and let Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # spark-submit's launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the generated oracles train on this scale when the registry imports
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit for one section of BENCHMARK.json, the single
    list of the benchmark's metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


class Untraced:
    """The probe of an untraced operation: only the operation's clock."""

    @contextmanager
    def operation(self, op_id: int, name: str, out_dir: str | None = None):
        op = SimpleNamespace(latency=0.0, csv=None)
        t0 = time.perf_counter()
        yield op
        op.latency = time.perf_counter() - t0

    def layer(self, name: str):
        return nullcontext()


UNTRACED = Untraced()


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.ops = WORKLOADS[args.workload]
        self.spark = None
        self.jvm = None
        self.last_df: dict = {}
        self.manifests: list[tuple[dict, str]] = []
        self.op_seq = 0

    # ---- set-up ---------------------------------------------------------

    def setup(self) -> dict:
        t0 = time.perf_counter()
        from pyspark import SparkContext

        from one_one_one_rule_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": " ".join(
                    [*JVM_OPTS, "-Djava.io.tmpdir=" + os.environ["TMPDIR"]]
                ),
            },
        )
        self.jvm = SparkContext._gateway.proc
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        t1 = time.perf_counter()
        from one_one_one_rule_spark import pipeline_job
        from one_one_one_rule_spark.queries import ORACLES, QUERIES

        self.QUERIES, self.ORACLES, self.pipeline_job = QUERIES, ORACLES, pipeline_job
        t2 = time.perf_counter()
        # warm-up: one pass at the measured scale, so the timed passes hit
        # the same JIT-compiled code, codegen cache and plan shapes
        for name in self.ops:
            self.run_op(name, UNTRACED)
        self.last_df.clear()
        self.manifests.clear()
        t3 = time.perf_counter()
        return {
            "session.start_s": t1 - t0,
            "session.import_s": t2 - t1,
            "session.warmup_s": t3 - t2,
        }

    # ---- operations -----------------------------------------------------

    def run_op(self, name: str, probe) -> float:
        """Run one operation under ``probe`` (``UNTRACED`` or the traced
        run's ``TracedProbe``) and return its latency."""
        self.op_seq += 1
        if name == PIPELINE:
            return self._run_pipeline(probe)
        return self._run_query(name, probe)

    def _run_query(self, name: str, probe) -> float:
        fn = self.QUERIES[name]
        with probe.operation(self.op_seq, "query") as op:
            with probe.layer("queries.construct"):
                df = fn(self.spark, SF_DIR)
            with probe.layer("action"):
                df.write.format("noop").mode("overwrite").save()
        self.last_df[name] = df
        return op.latency

    def _run_pipeline(self, probe) -> float:
        from one_one_one_rule_spark.config import FIXED_AS_OF_DATE, FIXED_RUN_TS_UTC
        from one_one_one_rule_spark.sources.sinks import LocalCopySink

        base = os.path.join(self.work, "ops", str(self.op_seq))
        up = os.path.join(base, "upsert")
        with probe.operation(self.op_seq, "pipeline_job", out_dir=base) as op:
            manifest = self.pipeline_job.run_pipeline(
                self.spark,
                SF_DIR,
                os.path.join(base, "out"),
                as_of_date=FIXED_AS_OF_DATE,
                run_ts_utc=FIXED_RUN_TS_UTC,
                post_sink=LocalCopySink(up),
                upload_log=True,
            )
            op.csv = manifest["latest_csv"]
        self.manifests.append((manifest, up))
        return op.latency

    # ---- timed phase ----------------------------------------------------

    def timed_phase(self, probe) -> dict:
        """Closed loop, one client: each pass issues every operation once in
        a seed-shuffled order; the next operation starts when the previous
        one ends, for as long as the window of ``--seconds`` is open. The
        last pass may be cut short; ``pass_s`` takes per-operation medians,
        so that does not bias it. At least one whole pass, or two when
        tracing so that every operation has an untraced and a traced
        sample."""
        rng = random.Random(self.args.seed)
        need_passes = 2 if probe else 1
        lat = {"untraced": {n: [] for n in self.ops}, "traced": {n: [] for n in self.ops}}
        samples, attempted, failed = [], 0, 0
        t_start = time.perf_counter()
        passes = 0
        while passes < need_passes or time.perf_counter() - t_start < self.args.seconds:
            order = list(self.ops)
            rng.shuffle(order)
            for name in order:
                if passes >= need_passes and time.perf_counter() - t_start >= self.args.seconds:
                    break
                # each operation alternates between untraced and traced
                # passes, so both halves see the same drift over the run
                traced = probe is not None and (passes + self.ops.index(name)) % 2 == 1
                if probe:
                    probe.activate(traced)
                attempted += 1
                try:
                    dt = self.run_op(name, probe if traced else UNTRACED)
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    failed += 1
                    log(f"operation {name} failed: {type(exc).__name__}: {exc}")
                    continue
                samples.append((name, dt))
                lat["traced" if traced else "untraced"][name].append(dt)
            passes += 1
        if probe:
            probe.activate(False)
        return {
            "lat": lat,
            "samples": samples,
            "attempted": attempted,
            "failed": failed,
            "passes": passes,
            "jvm_peak_rss_mb": self.jvm_rss(),
        }

    def jvm_rss(self) -> float:
        from layers import jvm_peak_rss_mb

        return jvm_peak_rss_mb(self.jvm.pid)

    # ---- verification ---------------------------------------------------

    def verify(self, samples) -> int:
        """Untimed output checks; returns the number of timed operations
        whose output is wrong."""
        from verify import Verifier

        from one_one_one_rule_spark.schemas import OUTPUT_ORDER

        v = Verifier(ROOT, SF_DIR, self.ORACLES)
        bad_names: set[str] = set()
        bad_pipeline_calls = 0
        try:
            for name, df in self.last_df.items():
                try:
                    why = v.check_query(name, df)
                except Exception as exc:  # noqa: BLE001
                    why = f"{type(exc).__name__}: {exc}"
                if why:
                    bad_names.add(name)
                    log(f"verify {name}: {why}")
            if self.manifests:
                for manifest, _ in self.manifests:
                    if v.check_pipeline_rows(manifest):
                        bad_pipeline_calls += 1
                manifest, up = self.manifests[-1]
                why = v.check_pipeline_files(manifest, up, OUTPUT_ORDER)
                if why:
                    log(f"verify {PIPELINE}: {why}")
                    bad_pipeline_calls = len(self.manifests)
        finally:
            v.close()
        wrong = sum(1 for n, _ in samples if n in bad_names)
        return wrong + bad_pipeline_calls

    # ---- teardown -------------------------------------------------------

    def teardown(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001
                pass
        if self.jvm is None:
            return
        kids = _children(self.jvm.pid)
        from pyspark import SparkContext

        try:
            SparkContext._gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        try:
            self.jvm.stdin.close()
            self.jvm.wait(timeout=20)
        except Exception:  # noqa: BLE001
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.time() + 10
        while kids and time.time() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            time.sleep(0.1)
        for k in kids:
            try:
                os.kill(k, signal.SIGKILL)
            except OSError:
                pass


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(entry))
    return out


def e2e_metrics(setup: dict, run: dict) -> tuple[dict, dict]:
    lat = run["lat"]["untraced"]
    xs = [dt for _, dt in run["samples"]]
    metrics = {
        "setup_s": sum(setup.values()),
        "pass_s": pass_time(lat),
    }
    notes = {
        "jvm_peak_rss_mb": run["jvm_peak_rss_mb"],
        "op_samples": len(xs),
        "passes": run["passes"],
        "latencies": {n: [round(v, 3) for v in vs] for n, vs in lat.items()},
    }
    return metrics, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "one_one_one_rule_spark")):
        log(f"engine package not found next to {HERE}; run from a full checkout")
        return 2
    if not os.path.isdir(SF_DIR):
        log(f"fixtures missing under {FIXTURES}")
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError(f"benchmark exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)

    work_root = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    prepare_env(work)
    sys.path.insert(0, ROOT)

    bench = Bench(args, work)
    try:
        setup = bench.setup()
        log(f"setup {json.dumps({k: round(v, 3) for k, v in setup.items()})}")
        probe = None
        if args.trace:
            from layers import TracedProbe

            probe = TracedProbe(bench.spark, bench.pipeline_job)
        t0 = time.perf_counter()
        run = bench.timed_phase(probe)
        t1 = time.perf_counter()
        wrong = bench.verify(run["samples"])
        log(f"timed {t1 - t0:.1f} s, verify {time.perf_counter() - t1:.1f} s")
        run["failed_total"] = run["failed"] + wrong
        if args.trace:
            from layers import per_layer_metrics

            units = metric_units("per_layer")
            metrics = per_layer_metrics(list(units), probe.records, setup, run, CORES)
            write_spans(probe.tracer.spans, args)
        else:
            units = metric_units("end_to_end")
            metrics, notes = e2e_metrics(setup, run)
            log(f"notes {json.dumps(notes)}")
        if set(metrics) != set(units):
            raise KeyError(f"metrics {sorted(metrics)} != BENCHMARK.json {sorted(units)}")
    finally:
        signal.alarm(0)
        bench.teardown()
        shutil.rmtree(work, ignore_errors=True)

    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v:.6g} {units[k]}")
    print(
        json.dumps(
            {
                "correct": wrong == 0 and run["failed"] == 0,
                "attempted": run["attempted"],
                "failed": run["failed_total"],
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


def write_spans(spans, args) -> None:
    """Write the run's spans, kept in memory until now, as JSON lines."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(dataclasses.asdict(s)) + "\n")


if __name__ == "__main__":
    sys.exit(main())
