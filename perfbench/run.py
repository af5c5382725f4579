"""Benchmark entry point; run from the repository root::

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``perfbench/README.md``): ``headline_sf0.01`` and
``connector_mix``.

One process, one Spark session at ``local[<cpus>]``, one closed-loop
client: an op starts only when the previous one returned. After set-up
(session, inputs, unmeasured warm-up), whole units of work (a pass over
the 20 queries, or two append and two upsert connector runs) repeat
until ``--seconds`` have passed. Every op's output is checked outside
its timed span; an exception or a wrong output counts the op as failed.
The end-to-end times scale each op by a host-speed canary timed around
it (``canary.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Spans and per-op records of a
traced run go to ``perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import ctypes  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

from canary import REF_S, canary_s  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "custom_python_etl_data_connector_shivaask_username_spark"

WORKLOADS = ("headline_sf0.01", "connector_mix")


@dataclass
class Op:
    item: object
    latency_s: float
    ok: bool
    work: int  # queries (headline) or records landed (connector)
    rss_peak_kb: int = 0  # the driver's peak RSS during the op
    canary_s: float = REF_S  # the host-speed canary, timed around the op
    layers: dict = field(default_factory=dict)

    @property
    def scaled_s(self) -> float:
        """The latency at the baseline host's canary speed."""
        return self.latency_s * REF_S / self.canary_s


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def reset_rss_peak() -> None:
    """Free what the last check left, then restart the kernel's peak-RSS
    count (``VmHWM``) from the current RSS."""
    gc.collect()
    ctypes.CDLL("libc.so.6").malloc_trim(0)
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def rss_peak_kb() -> int:
    with open("/proc/self/status") as fh:
        return int(re.search(r"^VmHWM:\s+(\d+) kB", fh.read(), re.M).group(1))


def contain_scratch(work_dir: str) -> None:
    """Keep Spark's and Python's scratch files inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def make_workload(name: str, spark, seed: int, work_dir: str):
    if name == "headline_sf0.01":
        from headline import Headline

        return Headline(spark, seed)
    from connectors import ConnectorMix

    return ConnectorMix(spark, seed, work_dir)


class Runner:
    """Runs ops of one workload; with a tracer, also splits them by layer."""

    def __init__(self, spark, workload, tracer=None):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.n = 0
        self.setup_failures = 0
        self.reader = None
        if tracer is not None:
            from sparkstats import JobReader

            self.reader = JobReader(spark)

    def op(self, item, measured: bool = True) -> Op:
        n = self.n
        self.n += 1
        tr = self.tracer
        before = None
        if tr is not None:
            before = self._snapshot()
            tr.op = n
            self.spark.addTag(f"pb-op-{n}")
        can = REF_S
        if measured:
            can = canary_s()
            reset_rss_peak()
        out, err = None, None
        t0 = time.perf_counter()
        try:
            with tr.span("op") if tr is not None else contextlib.nullcontext():
                out = self.wl.run(item, tr)
        except Exception:
            err = traceback.format_exc()
        lat = time.perf_counter() - t0
        peak = 0
        if measured:
            peak = rss_peak_kb()
            can = (can + canary_s()) / 2
        if tr is not None:
            self.spark.removeTag(f"pb-op-{n}")
        try:
            ok = err is None and self.wl.check(item, out)
        except Exception:
            err, ok = traceback.format_exc(), False
        if err:
            print(f"op {n} ({item}) raised:\n{err}", file=sys.stderr)
        elif not ok:
            print(f"op {n} ({item}): output check failed", file=sys.stderr)
        if not ok and not measured:
            self.setup_failures += 1
        rec = Op(item, lat, ok, self.wl.records(item, out) if ok else 0, peak, can)
        if tr is not None:
            rec.layers = self._layers(n, item, out, lat, before)
        return rec

    # -- traced run --------------------------------------------------------

    def _snapshot(self) -> dict:
        snap = {"files": {}, "rest": {}}
        if self.wl.gen is not None:
            snap["rest"] = self.wl.gen.counters()
        if self.wl.sink_dir and os.path.isdir(self.wl.sink_dir):
            for dirpath, _, names in os.walk(self.wl.sink_dir):
                for f in names:
                    if f.endswith(".parquet"):
                        p = os.path.join(dirpath, f)
                        st = os.stat(p)
                        snap["files"][p] = (st.st_size, st.st_mtime_ns)
        return snap

    def _layers(self, n: int, item, out, lat: float, before: dict) -> dict:
        """One op's layer split: additive values only (ratios are formed
        over the run in :func:`per_layer`); ``None`` where it does not apply."""
        import pyarrow.parquet as pq

        from spans import LAYER
        from sparkstats import MB, phases

        tr = self.tracer
        jobs = self.reader.read(f"pb-op-{n}")
        selfs = tr.self_times(n)
        by_layer: dict[str, list] = {}
        for j in jobs:
            s = tr.innermost(n, j.submit_ms)
            by_layer.setdefault(LAYER[s.name] if s else "bench", []).append(j)
        m = {
            "operators.construct_s": selfs.get("operators", 0.0),
            "operators.construct_jobs": len(by_layer.get("operators", [])),
            "catalyst.plan_s": selfs.get("catalyst", 0.0),
            "catalyst.analysis_s": 0.0,
            "catalyst.optimization_s": 0.0,
            "catalyst.planning_s": 0.0,
            "spark.exec_s": sum(j.wall_s for j in jobs),
            "spark.jobs": len(jobs),
            "spark.stages": sum(j.stages for j in jobs),
            "spark.tasks": sum(j.tasks for j in jobs),
            "spark.task_run_s": sum(j.task_run_ms for j in jobs) / 1000,
            "spark.task_cpu_s": sum(j.task_cpu_ns for j in jobs) / 1e9,
            "spark.gc_s": sum(j.gc_ms for j in jobs) / 1000,
            "spark.shuffle_write_mb": sum(j.shuffle_write for j in jobs) / MB,
            "spark.shuffle_read_mb": sum(j.shuffle_read for j in jobs) / MB,
            "spark.spill_mb": sum(j.spill for j in jobs) / MB,
            "spark.input_mb": sum(j.input for j in jobs) / MB,
            "spark.input_rows": sum(j.input_rows for j in jobs),
            "spark.output_mb": sum(j.output for j in jobs) / MB,
            "spark.result_rows": self.wl.result_rows(out) if out is not None else 0,
        }
        if out is not None and "catalyst" in selfs:
            m.update({f"catalyst.{k}_s": v for k, v in phases(out[2]).items()})
        # REST, ETL, connector and sinks: zero on the headline workload
        rest = {}
        if before["rest"]:
            after = self.wl.gen.counters()
            rest = {k: after[k] - before["rest"][k] for k in after}
        fetch_s = selfs.get("rest.fetch", 0.0)
        kind = item[0] if rest else None
        m.update({
            "rest.requests": rest.get("requests", 0),
            "rest.pages": rest.get("pages", 0),
            "rest.retries": rest.get("throttled", 0),
            "rest.bytes_mb": rest.get("bytes", 0) / MB,
            "rest.fetch_s": fetch_s,
            "rest.server_s": rest.get("service_s", 0.0),
            "rest.client_s": fetch_s - rest.get("service_s", 0.0),
            "rest.ingest_s": selfs.get("rest.ingest", 0.0),
            "etl.construct_s": selfs.get("etl", 0.0),
            "connector.self_s": selfs.get("connector", 0.0),
            "connector.append_op_s": lat if kind == "append" else None,
            "connector.upsert_op_s": lat if kind == "upsert" else None,
        })
        new = {}
        if self.wl.sink_dir:
            after_files = self._snapshot()["files"]
            new = {p: v for p, v in after_files.items() if before["files"].get(p) != v}
        sink_jobs = by_layer.get("sinks.write", []) + by_layer.get("sinks.replace", [])
        m.update({
            "sinks.write_s": selfs.get("sinks.write", 0.0),
            "sinks.replace_s": selfs.get("sinks.replace", 0.0),
            "sinks.rows_written": sum(pq.read_metadata(p).num_rows for p in new),
            "sinks.files_written": len(new),
            "sinks.bytes_written_mb": sum(v[0] for v in new.values()) / MB,
            "sinks.read_rows": sum(j.input_rows for j in sink_jobs),
        })
        m["self.spark_s"] = selfs.get("spark", 0.0)
        m["self.bench_s"] = selfs.get("bench", 0.0)
        m["trace.spans"] = len(tr.op_spans(n))
        m["_records"] = self.wl.records(item, out) if rest else 0
        m["_quarantined"] = self.wl.last_quarantined(item) if rest else 0
        m["_coverage"] = 1.0 - selfs.get("bench", 0.0) / lat
        return m


def measure(runner: Runner, seconds: float) -> list[Op]:
    """Whole units until ``seconds`` have passed (at least one unit)."""
    ops: list[Op] = []
    deadline = time.perf_counter() + seconds
    while True:
        for item in runner.wl.unit():
            ops.append(runner.op(item))
        if time.perf_counter() >= deadline:
            return ops


def end_to_end(ops: list[Op], setup_s: float) -> dict:
    scaled = [o.scaled_s for o in ops]
    ok = [o for o in ops if o.ok]
    return {
        "setup_s": (setup_s, "s"),
        "latency_gm_s": (statistics.geometric_mean(scaled), "s"),
        "throughput_per_s": (sum(o.work for o in ok) / sum(scaled), "1/s"),
        "ok_frac": (len(ok) / len(ops), "ratio"),
        "driver_rss_peak_mb": (max(o.rss_peak_kb for o in ops) / 1024, "MB"),
    }


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    return "ratio" if metric.endswith(("ratio", "amp", "coverage_min")) else "count"


def per_layer(ops: list[Op], tag_cost_s: float) -> dict:
    """Mean per op of each layer value (over the ops it applies to), and
    the run's ratios formed from sums."""
    from spans import span_cost_s

    def total(k: str) -> float:
        return sum(o.layers[k] for o in ops)

    out = {}
    for k in ops[0].layers:
        vals = [o.layers[k] for o in ops if o.layers[k] is not None]
        if not k.startswith("_"):
            out[k] = statistics.fmean(vals) if vals else 0.0
    exec_s, records = total("spark.exec_s"), total("_records")
    out["spark.busy_ratio"] = total("spark.task_run_s") / (exec_s * cpus()) if exec_s else 0.0
    out["etl.quarantine_ratio"] = total("_quarantined") / records if records else 0.0
    out["sinks.write_amp"] = total("sinks.rows_written") / records if records else 0.0
    out["trace.coverage_min"] = min(o.layers["_coverage"] for o in ops)
    out["trace.latency_gm_s"] = statistics.geometric_mean(o.latency_s for o in ops)
    out["host.canary_s"] = statistics.median(o.canary_s for o in ops)
    out["trace.overhead_s"] = out["trace.spans"] * span_cost_s() + tag_cost_s
    return {k: (v, _unit(k)) for k, v in out.items()}


def tag_cost(spark, n: int = 50) -> float:
    t0 = time.perf_counter()
    for _ in range(n):
        spark.addTag("pb-probe")
        spark.removeTag("pb-probe")
    return (time.perf_counter() - t0) / n


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (the PySpark gateway
    exits on EOF) and wait for the JVM process to end."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def install_spans(tracer) -> None:
    """Wrap each layer's public functions where the connector binds them."""
    import importlib

    connector = importlib.import_module(f"{PKG}.connector")
    sinks = importlib.import_module(f"{PKG}.sources.sinks")
    rest = importlib.import_module(f"{PKG}.sources.rest")
    tracer.wrap(connector, "run_connector")
    for name in ("read_api", "quarantine_split", "sanitize_columns", "write_raw", "upsert_parquet"):
        tracer.wrap(connector, name)
    tracer.wrap(sinks, "atomic_replace_parquet")
    tracer.wrap(rest._Fetcher, "fetch_json")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        session = __import__(f"{PKG}.session", fromlist=["get_spark"])
    except ImportError as ex:
        print(f"cannot import the engine package {PKG}: {ex}", file=sys.stderr)
        return 2

    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir)
    contain_scratch(work_dir)
    spark = wl = tracer = None
    try:
        spark = session.get_spark("perfbench", cpus=cpus())
        wl = make_workload(args.workload, spark, args.seed, work_dir)
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            install_spans(tracer)
        runner = Runner(spark, wl, tracer)
        wl.setup(lambda item: runner.op(item, measured=False))
        setup_s = time.perf_counter() - T_START
        ops = measure(runner, args.seconds)
        print(f"perfbench: setup {setup_s:.2f} s, {len(ops)} ops in "
              f"{time.perf_counter() - T_START - setup_s:.2f} s; op latencies (s): "
              + json.dumps({str(o.item): round(o.latency_s, 4) for o in ops}), file=sys.stderr)
        print("perfbench: canary (ms) " + json.dumps([round(o.canary_s * 1000, 2) for o in ops]),
              file=sys.stderr)
        metrics = per_layer(ops, tag_cost(spark)) if args.trace else end_to_end(ops, setup_s)
        if tracer is not None:
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            tracer.dump(stem + ".spans.jsonl")
            with open(stem + ".ops.json", "w") as fh:
                json.dump([{"item": str(o.item), "latency_s": o.latency_s, "ok": o.ok,
                            **o.layers} for o in ops], fh, indent=1)
    finally:
        if tracer is not None:
            tracer.close()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    failed = sum(not o.ok for o in ops)
    print(json.dumps({
        "correct": failed == 0 and runner.setup_failures == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
