"""Run one benchmark workload and print its metrics.

    python3 carebench/run.py --workload scheduled_refresh --seed 1 --seconds 12 --trace 0

Prints one ``name value unit`` line per metric, a JSON ``report`` line with
the numbers that are not gated, and, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns the Spark UI on and reports the
per-layer metrics instead. Everything the run writes stays under
``.carebench_work/`` in the checkout; the per-run directory is removed at
exit and only the span log is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import check
import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "1/s",
}

MODELS = ("traffic_pages_agg", "traffic_daily_agg", "lead_activities_agg")
PHASES = ("analysis", "optimization", "planning")
STAGES = ("dedup_canonical_keep", "gopher_quality", "domain_cap_sample")
REST_FIELDS = {"jobs": "count", "stages": "count", "task_s": "s", "input_bytes": "bytes",
               "shuffle_bytes": "bytes", "spill_bytes": "bytes"}

PER_LAYER = {
    "session.start_s": "s",
    "sources.register_s": "s",
    **{f"plans.{m}.{p}_ms": "ms" for m in MODELS for p in PHASES},
    **{f"incremental.{m}.busy_s": "s" for m in MODELS},
    **{f"incremental.{k}": u for k, u in REST_FIELDS.items()},
    "incremental.rows_written": "count",
    "incremental.files_written": "count",
    "incremental.partitions_rewritten": "count",
    "incremental.bytes_written": "bytes",
    "incremental.stored_bytes": "bytes",
    "incremental.write_bytes_per_input_byte": "ratio",
    "incremental.stored_bytes_per_input_byte": "ratio",
    "ivm.busy_s": "s",
    **{f"ivm.{k}": u for k, u in REST_FIELDS.items()},
    "ivm.recompute_groups": "count",
    "ivm.changed_rows": "count",
    **{f"operators.{s}.busy_s": "s" for s in STAGES},
    "operators.training_mix_pipeline.busy_s": "s",
    **{f"operators.{k}": u for k, u in REST_FIELDS.items()},
    **{f"operators.{p}_ms": "ms" for p in PHASES},
    "operators.lsh_candidate_pairs": "count",
    "operators.near_dup_docs": "count",
    "box.calib_s": "s",
    "box.job_floor_ms": "ms",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Confine every write to ``work`` and size the session to the CPUs
    this process may use. Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # A 2 GB heap cap instead of the factory's 8 GB default keeps a run at
    # ~2-3 GB resident on a shared machine; the heap is neither fixed nor
    # pre-touched, so its peak still moves with the program.
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["MYCARELY_UI"] = "1" if trace else "0"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until both and every Python
    worker they started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except (AttributeError, OSError):
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        end = time.time() + 15
        while probes.descendants(os.getpid()) and time.time() < end:
            time.sleep(0.2)
        for pid in probes.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def tail_latency(seconds: list[float]) -> dict:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(seconds)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(seconds, n=100, method="inclusive")[p - 1]
            return {"value": q, "percentile": p, "samples": n}
    return {"value": None, "percentile": None, "samples": n}


def layer_metrics(ops: list[dict], spans, setup: dict, box: dict) -> dict:
    """Per-layer metrics: medians over the traced ops. An op's own spans
    carry its cycle; the extra calls made to trace it carry ``<cycle>+``."""
    traced = [op for op in ops if op["traced"] and not op["errors"]]
    plain = [op for op in ops if not op["traced"]]
    per_op = [{k: 0.0 for k in PER_LAYER}] if not traced else []
    for op in traced:
        m = {k: 0.0 for k in PER_LAYER}
        for s in spans.records:
            if s["cycle"] == f"{op['cycle']}+":
                m[f"{s['layer']}.{s['name']}.busy_s"] += s["seconds"]
            if s["cycle"] != op["cycle"]:
                continue
            if s["layer"] == "ivm":
                m["ivm.busy_s"] += s["seconds"]
            elif s["layer"] in ("incremental", "operators"):
                m[f"{s['layer']}.{s['name']}.busy_s"] += s["seconds"]
            if s["layer"] != "sources":
                for k in REST_FIELDS:
                    m[f"{s['layer']}.{k}"] += s.get(k, 0)
        for model, ph in op.get("phases", {}).items():
            prefix = f"plans.{model}" if model in MODELS else "operators"
            for p in PHASES:
                m[f"{prefix}.{p}_ms"] = ph[p]
        if "rows_written" in op:
            for k in ("rows_written", "files_written", "partitions_rewritten",
                      "bytes_written", "stored_bytes"):
                m[f"incremental.{k}"] = op[k]
            m["incremental.write_bytes_per_input_byte"] = op["write_ratio"]
            m["incremental.stored_bytes_per_input_byte"] = op["stored_ratio"]
            m["ivm.recompute_groups"] = op["recompute_groups"]
            m["ivm.changed_rows"] = op["changed_rows"]
        if "lsh_candidate_pairs" in op:
            m["operators.lsh_candidate_pairs"] = op["lsh_candidate_pairs"]
            m["operators.near_dup_docs"] = op["near_dup_docs"]
        per_op.append(m)
    out = {k: statistics.median(m[k] for m in per_op) for k in PER_LAYER}
    out["session.start_s"] = setup["session_s"]
    out["sources.register_s"] = setup["register_s"]
    out["box.calib_s"] = box["calib_s"]
    out["box.job_floor_ms"] = box["job_floor_ms"]
    # Against the plain ops of this traced session, which run with the UI on
    # too, so the UI's own cost is left out; ``steadiness.py --trace both``
    # compares with an untraced run of the same seed.
    out["trace.overhead_frac"] = (
        statistics.median(op["seconds"] for op in traced or plain)
        / statistics.median(op["seconds"] for op in plain)
        - 1.0
    )
    return out


class Run:
    """One benchmark run inside a live Spark session."""

    def __init__(self, args, wl, spark):
        self.args, self.wl, self.spark = args, wl, spark
        self.trace = bool(args.trace)
        self.rss = probes.RssSampler()
        self.spans = probes.Spans(spark)
        self.ops: list[dict] = []
        self.selftest = None

    def set_up(self, session_s: float) -> None:
        """Everything a user pays before the first steady op: the session
        start (already timed), the workload's set-up and one warm-up op."""
        wl, spark, spans = self.wl, self.spark, self.spans
        t = time.perf_counter()
        wl.setup(spark, spans)
        self.setup_s = session_s + time.perf_counter() - t
        spans.cycle = "warmup"
        op = wl.prepare()
        t = time.perf_counter()
        wl.run(spark, spans, op)
        self.setup_s += time.perf_counter() - t
        self.session_s = session_s
        self.register_s = next(s["seconds"] for s in spans.records if s["name"] == "register")
        self.rss.sample()

    def one_op(self, traced: bool, oracle, ledger) -> None:
        wl, spark, spans = self.wl, self.spark, self.spans
        spans.cycle = len(self.ops)
        op = wl.prepare(traced=traced)
        op.update(cycle=spans.cycle, traced=traced)
        t = time.perf_counter()
        try:
            wl.run(spark, spans, op)
        except Exception as exc:  # an op that raises is a failed op
            op["raised"] = f"{type(exc).__name__}: {exc}"
        op["seconds"] = time.perf_counter() - t
        self.rss.sample()
        try:
            if "raised" in op:
                raise RuntimeError(op["raised"])
            results = wl.check(spark, oracle, op)
            errors = [f"{label}: {d}" for label, a, e in results if (d := check.compare(a, e))]
            if self.selftest is None:
                _label, actual, expected = results[0]
                self.selftest = check.compare(check.corrupt_one(actual), expected) is not None
        except Exception as exc:  # a failed check is a failed op
            errors = [f"{type(exc).__name__}: {exc}"]
        op["errors"] = errors
        if traced and not errors:
            spans.cycle = f"{op['cycle']}+"
            wl.trace(spark, spans, op, probes)
            ledger.attribute(
                [s for s in spans.records if s["cycle"] in (op["cycle"], spans.cycle)]
            )
        for k in ("df", "rows", "files_before"):
            op.pop(k, None)
        self.ops.append(op)

    def measure(self) -> None:
        """Whole cycles until ``--seconds`` of op time. A traced run
        brackets each traced op with plain ops of the same session, so the
        trace overhead is not confounded with the warm-up trend of
        successive ops."""
        self.box = probes.box_calibration(self.spark)
        ledger = probes.RestLedger(self.spark) if self.trace else None
        oracle = check.Oracle()
        kinds = (False, True, False) if self.trace else (False,)
        while sum(op["seconds"] for op in self.ops) < self.args.seconds or not self.ops:
            for traced in kinds:
                self.one_op(traced, oracle, ledger)
        self.rss.sample()

    def result(self) -> tuple[dict, dict, dict]:
        ops = self.ops
        plain = [op for op in ops if not op["traced"]]
        if self.trace:
            metrics = layer_metrics(
                ops, self.spans,
                {"session_s": self.session_s, "register_s": self.register_s}, self.box,
            )
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": self.setup_s,
                "op_p50_s": statistics.median(op["seconds"] for op in plain),
                "rows_per_s": sum(op["input_rows"] for op in plain)
                / sum(op["seconds"] for op in plain),
            }
            units = END_TO_END
        report = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "ops": [{k: op[k] for k in ("seconds", "traced", "input_rows", "errors")}
                    for op in ops],
            "op_tail_s": tail_latency([op["seconds"] for op in plain]),
            "box": self.box,
            "peak_rss_mb": self.rss.peak_mb(),
            "rss_at_peak": self.rss.split,
            "selftest_corrupted_row_rejected": self.selftest,
        }
        if "write_ratio" in plain[0]:
            report["write_bytes_per_input_byte"] = statistics.median(
                op["write_ratio"] for op in plain
            )
            report["stored_bytes_per_input_byte"] = plain[-1]["stored_ratio"]
        failed = sum(1 for op in ops if op["errors"])
        outcome = {
            "correct": failed == 0 and self.selftest is True,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        return metrics, report, outcome


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mycarely_saas_dbt_spark", "__init__.py")):
        print(f"carebench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".carebench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    prepare_env(work, bool(args.trace))

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(DEADLINE_S)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"carebench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload](work, args.seed)
    spark = run = None
    try:
        wl.generate()
        from mycarely_saas_dbt_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark()
        run = Run(args, wl, spark)
        run.set_up(time.perf_counter() - t)
        run.measure()
        metrics, report, outcome = run.result()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if run is not None:
                run.spans.dump(
                    os.path.join(base, f"spans-{args.workload}-s{args.seed}-t{args.trace}.jsonl")
                )
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            signal.alarm(0)

    units = PER_LAYER if args.trace else END_TO_END
    for name, value in metrics.items():
        print(f"{name} {value!r} {units[name]}")
    print("report " + json.dumps(report, default=str))
    print(json.dumps(outcome))
    return 0


if __name__ == "__main__":
    sys.exit(main())
