"""One benchmark run, in a fresh interpreter started by ``perfbench/run.py``.

Timeline (every query = construct call + execute call, then untimed
hygiene):

1. set-up: import ``compss_python_spark.plans`` and start a session with
   ``get_spark`` plus one trivial job (``setup_s``).  A traced run starts
   its session with the zstd event log on;
2. the seed's input set (generated beforehand by ``run.py``);
3. the cold pass in the fresh JVM (``cold_s``), discarded for ``warm_s``;
4. untraced runs: a fixed number of steady passes; ``warm_s`` sums each
   query's median over them, which drops a query execution that a burst of
   host load slowed without discarding the rest of its pass.  The count comes from ``--seconds`` and the workload's declared
   nominal pass time, never from how fast the passes actually run, so a
   faster library does not buy itself extra (later, faster) passes;
5. traced runs: first one concurrent pass: two clients share the session
   and split a seeded shuffle of the workload's queries between them
   (``concurrent.*``); it also warms the JVM for what follows.  Then one
   untraced pass and the same pass again with spans and py4j counting
   installed, back to back (``trace.overhead_frac`` compares the two); the
   traced pass gives the per-layer metrics;
6. host calibration and the JVM's peak RSS.

Every execution's output digest (row count and bit_xor of
``xxhash64(struct(*))``, the ``bench.force`` probe) must equal the
reference digest recorded for the input set by ``perfbench/record.py``; a
mismatch, an exception or a missing reference counts as a failed execution.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import inspect  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

from perfbench import eventlog, gen, host  # noqa: E402
from perfbench.trace import Py4jCounter, Tracer, install_module_spans  # noqa: E402
from perfbench.workloads import TRACED_MODULES, WORKLOADS  # noqa: E402

REFERENCE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference_digests.json")
CONCURRENT_CLIENTS = 2


def log(msg: str) -> None:
    print(f"# perfbench {msg}", file=sys.stderr, flush=True)


def digest(df) -> str:
    """Full-output digest: every column of every row is evaluated."""
    from pyspark.sql import functions as F

    row = (
        df.select(F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("_h"))
        .agg(F.count(F.lit(1)), F.bit_xor("_h"))
        .collect()[0]
    )
    return f"{row[0]}:{row[1]}"


def load_references(key: str) -> dict[str, str]:
    with open(REFERENCE_FILE, encoding="utf-8") as fh:
        return json.load(fh).get(key, {})


class SweepGate:
    """Lets the between-query sweep run only while no query is live.

    A query enters before its construct call and leaves after its execute
    call.  The client whose query leaves last runs the sweep, and no new
    query starts until the sweep is done; a sweep while another client's
    query is live would unpersist that query's width pins and checkpoints.
    """

    def __init__(self) -> None:
        self._cv = threading.Condition()
        self._live = 0
        self._sweeping = False

    def enter(self) -> None:
        with self._cv:
            while self._sweeping:
                self._cv.wait()
            self._live += 1

    def leave(self, sweep) -> dict:
        with self._cv:
            self._live -= 1
            if self._live:
                return {}
            self._sweeping = True
        try:
            return sweep()
        finally:
            with self._cv:
                self._sweeping = False
                self._cv.notify_all()


class Runner:
    """Runs passes over a fixed query order and keeps every record."""

    def __init__(self, spark, data_dir: str, references: dict[str, str]) -> None:
        from compss_python_spark.plans import REGISTRY

        self.registry = REGISTRY
        self.spark = spark
        self.data_dir = data_dir
        self.references = references
        self.attempted = 0
        self.failed = 0
        self._count_lock = threading.Lock()
        # Traced-pass instruments (None in untraced passes).
        self.tracer: Tracer | None = None
        self.py4j: Py4jCounter | None = None

    def run_pass(self, queries, label: str) -> list[dict]:
        records = [self.run_query(q, label) for q in queries]
        log(f"{label}: {_total(records):.3f}s")
        return records

    def _phase(self, query: str, phase: str, label: str, rec: dict, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{label}{eventlog.GROUP_SEP}{query}{eventlog.GROUP_SEP}{phase}", phase)
        calls0 = self.py4j.calls if self.py4j else 0
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.span(f"phase:{phase}"):
                    return fn()
            return fn()
        finally:
            rec[f"{phase}_s"] = time.perf_counter() - t0
            rec[f"{phase}_window_ms"] = (wall0 * 1e3, time.time() * 1e3)
            if self.py4j:
                rec[f"{phase}_py4j_calls"] = self.py4j.calls - calls0
            sc.setJobGroup("", "")

    def run_query(self, query: str, label: str, gate: SweepGate | None = None) -> dict:
        """Construct, execute and check one query, then release what it left
        behind (through ``gate`` when other clients share the session)."""
        rec: dict = {"query": query, "ok": False}
        if gate is not None:
            gate.enter()
        try:
            df = self._phase(
                query, "construct", label, rec,
                lambda: self.registry[query].fn(self.spark, self.data_dir),
            )
            rec["digest"] = self._phase(query, "execute", label, rec, lambda: digest(df))
            want = self.references.get(query)
            rec["ok"] = rec["digest"] == want
            if want is None:
                log(f"{label} {query}: no reference digest recorded")
            elif not rec["ok"]:
                log(f"{label} {query}: digest {rec['digest']} != reference {want}")
        except Exception:  # noqa: BLE001 - one failed query must not end the run
            log(f"{label} {query} raised:\n{traceback.format_exc()}")
        rec["wall_s"] = rec.get("construct_s", 0.0) + rec.get("execute_s", 0.0)
        with self._count_lock:
            self.attempted += 1
            self.failed += not rec["ok"]
        rec.update(gate.leave(self._hygiene) if gate is not None else self._hygiene())
        return rec

    def _hygiene(self) -> dict:
        """Untimed between-query release: clearCache, width pins, then every
        RDD still persisted (operator checkpoints are not in the cache
        manager).  Records what was left behind before releasing it.  The
        library's release hook is called unwrapped, so a traced pass does not
        count the benchmark's own cleanup as ``caching`` work."""
        from compss_python_spark import caching

        release_width_pins = inspect.unwrap(caching.release_width_pins)
        jsc = self.spark.sparkContext._jsc.sc()
        left = jsc.getPersistentRDDs().size()
        storage = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
        t0 = time.perf_counter()
        self.spark.catalog.clearCache()
        release_width_pins(self.spark)
        it = jsc.getPersistentRDDs().iterator()
        rdds = []
        while it.hasNext():
            rdds.append(it.next()._2())
        for rdd in rdds:
            rdd.unpersist(False)
        return {
            "blocks_left": left,
            "storage_bytes": storage,
            "release_s": time.perf_counter() - t0,
        }


def concurrent_pass(runner: Runner, queries, seed: int) -> dict:
    """``CONCURRENT_CLIENTS`` closed-loop clients share the session and
    split one seeded shuffle of the queries between them, so each query
    runs once."""
    gate = SweepGate()
    records: list[dict] = []
    errors: list[BaseException] = []
    order = list(queries)
    random.Random(seed).shuffle(order)

    def client(k: int) -> None:
        try:
            for q in order[k::CONCURRENT_CLIENTS]:
                records.append(runner.run_query(q, f"concurrent{k}", gate))
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errors.append(exc)

    from pyspark import InheritableThread

    threads = [InheritableThread(target=client, args=(k,)) for k in range(CONCURRENT_CLIENTS)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    if errors:
        raise errors[0]
    log(f"concurrent: {len(records)} queries in {wall:.3f}s")
    return {
        "concurrent.qpm": 60.0 * len(records) / wall,
        "concurrent.latency_p50_s": statistics.median(r["wall_s"] for r in records),
    }


def _total(records) -> float:
    return sum(r["wall_s"] for r in records)


def calibration_s(spark) -> float:
    """Min-of-3 pure-JVM job (bench.py's calibration): host speed only,
    recorded in the manifest so runs on different hosts can be told apart."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(500_000_000).groupBy().sum("id").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def traced_metrics(tracer: Tracer, records, log_dir: str, cores: int) -> dict:
    """Per-layer metrics of one traced pass."""
    windows = []
    for r in records:
        for phase in eventlog.PHASES:
            if f"{phase}_window_ms" in r:
                windows.append((*r[f"{phase}_window_ms"], phase))

    def phase_of_time(ms):
        for s, e, phase in windows:
            if s <= ms <= e:
                return phase
        return None

    stages = eventlog.phase_metrics(eventlog.read_events(log_dir), "traced", phase_of_time)
    m: dict[str, float] = {}
    for phase in eventlog.PHASES:
        wall = sum(r.get(f"{phase}_s", 0.0) for r in records)
        st = stages[phase]
        m[f"{phase}.wall_s"] = wall
        m[f"{phase}.jobs"] = st["jobs"]
        for k, v in st.items():
            if k not in ("jobs", "job_busy_s"):
                m[f"{phase}.{k}"] = v
        m[f"{phase}.cores.busy_frac"] = st["executor.run_s"] / (wall * cores) if wall else 0.0
        if phase == "construct":
            m["construct.job_s"] = st["job_busy_s"]
            m["construct.driver_s"] = wall - st["job_busy_s"]
            m["construct.py4j_calls"] = sum(r.get("construct_py4j_calls", 0) for r in records)
    totals = tracer.module_totals()
    for mod in TRACED_MODULES:
        self_s, calls = totals.get(mod, (0.0, 0))
        m[f"{mod}.self_s"] = self_s
        m[f"{mod}.calls"] = calls
    m["caching.release_s"] = sum(r["release_s"] for r in records)
    m["caching.blocks_left"] = sum(r["blocks_left"] for r in records)
    m["caching.peak_storage_bytes"] = max(r["storage_bytes"] for r in records)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    cpu0 = host.cpu_times()

    import compss_python_spark.plans  # noqa: F401 - the timed library import

    t_import = time.perf_counter()
    from compss_python_spark.session import get_spark

    extra_conf = None
    log_dir = os.path.splitext(args.out)[0] + "-eventlog"
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "true",
            "spark.eventLog.compression.codec": "zstd",
        }
    spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.range(1).count()
    t_ready = time.perf_counter()
    log(f"setup {t_ready - T_START:.3f}s")

    set_id = gen.input_set(args.seed)
    data_dir = gen.inputs_dir(args.root, set_id, wl.mult)
    if not os.path.isdir(data_dir):
        raise SystemExit(f"input set missing: {data_dir}")
    ref_key = f"gen{wl.mult}-set{set_id}"
    runner = Runner(spark, data_dir, load_references(ref_key))

    cold = runner.run_pass(wl.queries, "cold")
    metrics = {
        "setup_s": t_ready - T_START,
        "session.import_s": t_import - T_START,
        "session.start_s": t_ready - t_import,
        "cold_s": _total(cold),
    }
    detail: dict = {"cold": cold}
    steady_passes = wl.steady_passes(args.seconds)
    if not args.trace:
        steady = [runner.run_pass(wl.queries, f"steady{i}") for i in range(steady_passes)]
        metrics["warm_s"] = sum(
            statistics.median(p[i]["wall_s"] for p in steady) for i in range(len(wl.queries))
        )
        detail["steady"] = steady
    else:
        metrics.update(concurrent_pass(runner, wl.queries, args.seed))
        untraced = runner.run_pass(wl.queries, "untraced")
        tracer = runner.tracer = Tracer()
        install_module_spans(tracer, TRACED_MODULES)
        runner.py4j = Py4jCounter()
        runner.py4j.install()
        t_pass = time.perf_counter()
        traced = runner.run_pass(wl.queries, "traced")
        pass_s = time.perf_counter() - t_pass - sum(r["release_s"] for r in traced)
        runner.py4j.uninstall()
        detail.update(untraced=untraced, traced=traced, spans=[vars(s) for s in tracer.spans])
    cal = calibration_s(spark)
    metrics["host.calibration_s"] = cal
    metrics["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    metrics["fail_frac"] = runner.failed / runner.attempted
    if args.trace:
        spark.stop()  # flushes and closes the event log
        metrics.update(traced_metrics(tracer, traced, log_dir, int(os.environ["SPARK_GRAFT_CPUS"])))
        metrics["trace.pass_s"] = pass_s
        metrics["trace.overhead_frac"] = _total(traced) / _total(untraced) - 1.0
    host.stop_jvm(spark)

    manifest = host.manifest(args.root)
    manifest.update(
        workload=args.workload,
        seed=args.seed,
        input_set=ref_key,
        query_order=list(wl.queries),
        steady_passes=0 if args.trace else steady_passes,
        host_calibration_s=cal,
        host_steal_frac=host.steal_frac(cpu0, host.cpu_times()),
    )
    result = {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
        "manifest": manifest,
        "detail": detail,
    }
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
