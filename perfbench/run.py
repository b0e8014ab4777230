"""KG-construction benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One run starts one Spark session (local[N],
N = the CPUs this process may use), builds the workload's inputs from the
seed, then starts units until `--seconds` have passed (at least one; the
first runs cold, as every CLI invocation does) and checks every unit's
output. Standard output ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json. With
`--trace 1` the run labels each layer's Spark jobs, enables Spark's event log
and reports the per-layer metrics instead. The line before it holds
diagnostics: host probe, per-unit records, checksums.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The driver JVM's fixed heap. 2 GB holds every workload at the sizes in
# workloads.py; the Python workers live outside it.
HEAP = "2g"
# stop starting units this long after the run began, to end within 180 s
DEADLINE_S = 120.0
LAYERS = (
    "extract", "linker.candidates", "linker.link", "linker.index", "pipeline",
    "pipeline.incremental", "canon.dedup", "canon.merge", "audit", "hybrid",
    "graph", "briefing", "query_dsl",
)
LAYER_FIELDS = (
    "wall_s", "task_s", "jobs", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_out",
)


def configure_env(work: str) -> int:
    """Pin the session's size and keep every file it writes in `work`.
    Runs before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_MASTER=f"local[{cpus}]",
        SPARK_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    return cpus


def jvm_gc_s(sc) -> float:
    mf = sc._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def retained(sc) -> tuple[int, float]:
    """Persisted RDDs still registered, and their cached bytes in MB."""
    n = sc._jsc.getPersistentRDDs().size()
    mb = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 1e6
    return n, mb


def reset_between_units(spark) -> None:
    """Unpersist every RDD the unit left behind and run a JVM GC, so the
    context cleaner drops their blocks and shuffle files."""
    sc = spark.sparkContext
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.catalog.clearCache()
    sc._jvm.System.gc()


class Run:
    def __init__(self, args, work: str, spec: dict) -> None:
        self.args = args
        self.work = work
        self.spec = spec
        self.units: list[dict] = []
        self.diag: dict = {"workload": args.workload, "seed": args.seed, "heap": HEAP}

    def start(self) -> None:
        from procfs import PeakRss, host_probe_s

        self.cpus = configure_env(self.work)
        self.diag["cpus"] = self.cpus
        self.diag["host_probe_s_before"] = host_probe_s()
        self.rss = PeakRss(os.getpid()).start()
        t0 = time.perf_counter()
        from cortex_spark.session import get_spark

        # -Xms = the heap cap: a heap that grows on demand makes the JVM's
        # resident size depend on when G1 chose to expand
        conf = {"spark.ui.showConsoleProgress": "false", "spark.driver.extraJavaOptions": f"-Xms{HEAP}"}
        if self.args.trace:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            f"perfbench-{self.args.workload}", master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus, extra_conf=conf,
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.gateway_proc = getattr(self.sc._gateway, "proc", None)
        from workloads import WORKLOADS

        self.wl = WORKLOADS[self.args.workload](self.spark, self.work, self.args.seed)
        self.tracer = None
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            for layer, module, attr in self.wl.layers:
                self.tracer.wrap(layer, module, attr)
        self.wl.setup()
        self.setup_s = time.perf_counter() - t0
        self.diag["input_checksum"] = self.wl.input_checksum
        reset_between_units(self.spark)

    def one_unit(self, k: int) -> dict:
        from procfs import tree_cpu_s

        pid = os.getpid()
        if self.tracer:
            self.tracer.begin_unit(k, self.wl.residual)
        gc0, cpu0, w0 = jvm_gc_s(self.sc), tree_cpu_s(pid), time.time()
        p0 = time.perf_counter()
        ok, result = True, None
        try:
            result = self.wl.unit(k)
        except Exception:  # a failed unit is counted, the run goes on
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - p0
        rec = {"unit": k, "wall_s": wall, "cpu_s": tree_cpu_s(pid) - cpu0,
               "window": (w0, time.time()), "gc_s": jvm_gc_s(self.sc) - gc0}
        if self.tracer:
            self.tracer.end_unit()
        rec["retained_rdds"], rec["retained_storage_mb"] = retained(self.sc)
        if ok:
            try:
                rec["signature"] = self.wl.signature(k, result)
            except Exception:
                traceback.print_exc()
                ok = False
        rec["index_files"] = self.wl.index_files()
        rec["ok"] = ok
        reset_between_units(self.spark)
        self.wl.after_unit(k)
        return rec

    def measure(self, t_start: float) -> None:
        """Start units until `--seconds` have passed since the first one
        began; the first unit runs cold in the fresh session."""
        t0 = time.perf_counter()
        while not self.units or (
            time.perf_counter() - t0 < self.args.seconds
            and time.perf_counter() - t_start < DEADLINE_S
        ):
            self.units.append(self.one_unit(len(self.units)))

    def check(self) -> tuple[bool, int]:
        """Every unit must match the first successful one and, where this
        seed is pinned, the pinned input and output."""
        with open(os.path.join(HERE, "pins.json")) as f:
            pin = json.load(f).get(self.args.workload, {}).get(str(self.args.seed))
        sigs = [u["signature"] for u in self.units if u["ok"]]
        ref = pin["output"] if pin else (sigs[0] if sigs else None)
        input_ok = pin is None or pin["input"] == self.wl.input_checksum
        failed = 0
        for u in self.units:
            u["matches"] = u["ok"] and u["signature"] == ref
            failed += not u["matches"]
        self.diag["pinned"] = pin is not None
        self.diag["signature"] = ref
        self.diag["input_ok"] = input_ok
        return input_ok and failed == 0, failed

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "unit_s": statistics.median(u["wall_s"] for u in self.units),
            "unit_cpu_s": statistics.median(u["cpu_s"] for u in self.units),
            "peak_rss_mb": self.rss.peak_mb,
        }

    def per_layer(self) -> dict:
        from eventlog import aggregate, fold

        units = self.units
        folded = fold(self.log_dir, {u["unit"]: u["window"] for u in units}, self.wl.residual)
        records, driver, covered = [], [], []
        for u in units:
            f = folded[u["unit"]]
            layers = f["layers"]
            for layer, rows in self.tracer.rows[u["unit"]].items():
                layers.setdefault(layer, {})["rows_out"] = rows
            records.append(layers)
            driver.append(max(u["wall_s"] - f["jobs_wall_s"], 0.0))
            covered.append(sum(r.get("wall_s", 0.0) for r in layers.values()) + driver[-1])
        agg = aggregate(records)
        values = {f"{layer}.{field}": agg.get(layer, {}).get(field, 0.0)
                  for layer in LAYERS for field in LAYER_FIELDS}
        unit_s = statistics.median(u["wall_s"] for u in units)
        values.update({
            "driver.wall_s": statistics.median(driver),
            "trace.unit_s": unit_s,
            "jvm_gc_s": statistics.median(u["gc_s"] for u in units),
            "retained_rdds": max(u["retained_rdds"] for u in units),
            "retained_storage_mb": max(u["retained_storage_mb"] for u in units),
            "linker.index.files": max(u["index_files"] for u in units),
        })
        # layer walls plus driver against unit wall, per unit
        self.diag["accounted_share"] = [c / u["wall_s"] for c, u in zip(covered, units)]
        untraced = self._load_result(trace=0)
        if untraced is not None:
            self.diag["trace_overhead_s"] = unit_s - untraced["unit_s"]
        return values

    def _result_path(self, trace: int) -> str:
        d = os.path.join(ROOT, ".perfbench_work", "results")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{self.args.workload}-{self.args.seed}-trace{trace}.json")

    def _load_result(self, trace: int) -> dict | None:
        path = self._result_path(trace)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def stop(self) -> None:
        """Stop the session and wait for every process it started."""
        from procfs import host_probe_s, tree_pids

        self.rss.stop()
        children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        if self.gateway_proc is not None:
            self.gateway_proc.stdin.close()
            try:
                self.gateway_proc.wait(timeout=30)
            except Exception:
                self.gateway_proc.kill()
                self.gateway_proc.wait()
        wait_gone(children)
        self.diag["host_probe_s_after"] = host_probe_s()

    def result(self) -> dict:
        correct, failed = self.check()
        metrics = self.per_layer() if self.args.trace else self.end_to_end()
        if not self.args.trace:
            with open(self._result_path(0), "w") as f:
                json.dump(metrics, f)
        declared = self.spec["per_layer" if self.args.trace else "end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in metrics]
        if missing:
            raise KeyError(f"metrics not measured: {missing}")
        self.diag["units"] = [
            {k: v for k, v in u.items() if k != "signature"} for u in self.units
        ]
        return {
            "correct": correct,
            "attempted": len(self.units),
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in declared},
        }


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for `pids` to exit; TERM, then KILL, the ones that do not."""
    def alive() -> list[int]:
        return [p for p in pids if os.path.exists(f"/proc/{p}")]

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in alive():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + timeout_s
        while alive() and time.monotonic() < end:
            for p in alive():
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.1)
        if not alive():
            return


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "cortex_spark", "session.py")):
        print(f"cortex_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run = Run(args, work, spec)
    try:
        run.start()
        run.measure(t_start)
        run.stop()
        result = run.result()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": run.diag}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
