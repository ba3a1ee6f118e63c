"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 10 --trace 0

Workloads (see README.md in this directory):

* ``tpch_sql``     — the 22 TPC-H shapes of the query registry;
* ``llm_curation`` — the dedup / similarity / text-function /
  multimodal curation chain;
* ``ingest_sync``  — REST backfill and incremental syncs from a seeded
  fake JSON-API into a manifest table, compaction, reads and
  streaming replays.

One process, one client, closed loop: after set-up and an untimed
warm-and-verify pass, whole passes over the workload's ops run back to
back until ``--seconds`` have passed (at least one pass). The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, from
spans recorded around each call into the engine and from Spark's event
log, and the spans are written to ``.perfbench_out/``.

Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is deleted at exit; the engine is imported from the
checkout, never from an installed copy.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("tpch_sql", "llm_curation", "ingest_sync")
MAX_PASSES = 200


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: Path, trace: bool, cpus: int) -> None:
    """Keep every file Spark, the JVM and the engine write inside
    ``work``; enable the event log only for traced runs."""
    for sub in ("tmp", "local", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'tmp'}",
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{work / 'eventlog'}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs
    ) + " pyspark-shell"


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> set[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    def __init__(self, args: argparse.Namespace, work: Path) -> None:
        import workloads as W
        from tracing import Tracer

        self.W = W
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.root = ROOT
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", self.trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.collect = False  # warm pass: return results for checking
        self.spark = None
        self.sf_dir = ""
        self.phases: dict[str, float] = {}

    # ---------------------------------------------------------- set-up
    def start_session(self) -> None:
        with self.tracer.span("session.start"):
            from outreach_etl_tool_spark.session import get_spark

            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        # Traced runs time the Python-worker spawn on its own; elsewhere
        # the warm-and-verify pass starts the workers as it needs them.
        # SQL ops never start one.
        if self.trace and self.workload != "tpch_sql":
            with self.tracer.span("session.worker_spawn"):
                n = cpu_count()
                self.spark.range(0, 16 * n, 1, n).mapInPandas(
                    lambda batches: batches, "id long"
                ).write.format("noop").mode("overwrite").save()
        with self.tracer.span("catalog.ship"):
            from outreach_etl_tool_spark import catalog

            catalog.ensure_shipped(self.spark)
            self.spark.sparkContext.addPyFile(str(BENCH / "fakeapi.py"))

    def prepare(self) -> None:
        import datagen

        W = self.W
        self.sf_dir = str(self.work / "data")
        if self.workload == "ingest_sync":
            rows = datagen.write_tables(Path(self.sf_dir), **W.DATA)
            import fakeapi

            cfg = W.INGEST
            self.api_dir = self.work / "api"
            dates = fakeapi.generate(
                ROOT, self.api_dir, self.seed, cfg["start"],
                cfg["backfill_days"] + cfg["incremental_days"], cfg["per_day"],
            )
            counts = fakeapi.write_counts(self.api_dir)
            self.truth = fakeapi.truth(ROOT, self.api_dir, dates)
            self.pipeline = W.IngestPipeline(self, self.api_dir)
            self.pipeline.point_ids = self.rng.sample(sorted(self.truth), cfg["point_reads"])
            self.records = sum(counts.values())
            self.rows_per_pass = self.records + sum(
                rows[t] for op in W.STREAM_OPS for t in W.op_tables(op)
            )
            self.stream_ops = [W.registry_op(self, n, "streaming.replay") for n in W.STREAM_OPS]
            from checks import Checker

            self.checker = Checker(self.sf_dir, "")
        else:
            names = W.TPCH_OPS if self.workload == "tpch_sql" else W.CURATION_OPS
            rows = datagen.write_tables(Path(self.sf_dir), **W.DATA)
            self.ops = [W.registry_op(self, n) for n in names]
            self.rows_per_pass = sum(
                rows[t] for n in names for t in W.op_tables(n)
            )
            from checks import Checker

            self.checker = Checker(self.sf_dir, W.data_key())

    # ------------------------------------------------------------- ops
    def run_op(self, op, group: str | None) -> tuple[float, object]:
        """Time one op; count it; never raise."""
        sc = self.spark.sparkContext
        if group is not None:
            sc.setJobGroup(group, op.name)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=op.name, layer=op.layer, group=group):
                result = op.run()
        except Exception:  # noqa: BLE001 — an op failure is a measurement
            self.failed += 1
            self.problems.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            result = None
        dt = time.perf_counter() - t0
        if group is not None:
            # later jobs (untraced passes, probes, checks) must not
            # join this op's stages
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.spark.catalog.clearCache()
        return dt, result

    def check_result(self, name: str, result) -> None:
        from outreach_etl_tool_spark.queries import REGISTRY

        if result is None:
            return
        try:
            problems = self.checker.check(name, result, REGISTRY[name].oracle)
        except Exception:  # noqa: BLE001 — an unverifiable result is a failure
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.problems.append(f"{name}: " + "; ".join(problems))

    def pipeline_ops(self, pass_no: int, log_dir: Path | None):
        return self.pipeline.ops(self.work / "tables" / f"p{pass_no}", log_dir)

    def pass_ops(self, pass_no: int, log_dir: Path | None, rounds: int):
        if self.workload == "ingest_sync":
            return self.pipeline_ops(pass_no, log_dir) + self.stream_ops
        ops = []
        for _ in range(rounds):
            order = list(self.ops)
            self.rng.shuffle(order)
            ops += order
        return ops

    def run_pass(self, pass_no: int, traced: bool, ops=None) -> dict:
        """One pass: ``ROUNDS`` shuffled rounds over the ops when
        untraced, one round when traced."""
        rounds = 1 if traced else self.W.ROUNDS[self.workload]
        log_dir = None
        if traced and self.workload == "ingest_sync":
            log_dir = self.work / "calls" / f"p{pass_no}"
            log_dir.mkdir(parents=True)
        if ops is None:
            ops = self.pass_ops(pass_no, log_dir, rounds)
        times: dict[str, list[float]] = {}
        wall = 0.0
        for op in ops:
            group = f"{op.name}@{pass_no}" if traced else None
            dt, result = self.run_op(op, group)
            wall += dt
            times.setdefault(op.name, []).append(dt)
            if self.collect:
                self.check_result(op.name, result)
            if self.workload == "ingest_sync" and self.pipeline.table is not None:
                self.pipeline.note_files()
        rec = {"pass": pass_no, "wall": wall, "times": times, "rounds": rounds}
        if self.workload == "ingest_sync":
            rec.update(self.finish_ingest_pass(log_dir))
        return rec

    def finish_ingest_pass(self, log_dir: Path | None) -> dict:
        """Check the pass's snapshot against the truth; collect sink
        counters; delete the table."""
        import checks
        import fakeapi

        p = self.pipeline
        out: dict = {}
        try:
            problems = checks.check_snapshot(p.snapshot_rows(), self.truth)
            for point in p.point_ids:
                rows = p.point_rows.get(point, [])
                if len(rows) != 1 or rows[0]["id"] != point:
                    problems.append(f"point read of id {point} returned {len(rows)} rows")
            out["storage"] = p.storage()
        except Exception:  # noqa: BLE001 — a broken table is a failed check
            problems = [traceback.format_exc(limit=3)]
        if problems:
            self.failed += 1
            self.problems.append("ingest snapshot: " + "; ".join(problems))
        if log_dir is not None:
            out["calls"] = fakeapi.call_counts(log_dir)
        shutil.rmtree(p.table.root, ignore_errors=True)
        return out

    # ---------------------------------------------------------- phases
    def warm_and_verify(self) -> None:
        """Run every op once, untimed, and check its output. Registry
        ops run concurrently, one per core: the pass exists to compile
        and cache what a long-lived engine compiles once, and to
        verify results, not to be timed."""
        from concurrent.futures import ThreadPoolExecutor

        def one(op):
            try:
                return op.run(), None
            except Exception:  # noqa: BLE001 — counted below
                return None, traceback.format_exc(limit=3)

        self.tracer.enabled = False
        self.collect = True
        # ingest_sync: the replays are independent of the sync-and-sink chain
        ingest = self.workload == "ingest_sync"
        concurrent = self.stream_ops if ingest else self.ops
        with ThreadPoolExecutor(max_workers=cpu_count()) as pool:
            futures = [pool.submit(one, op) for op in concurrent]
            if ingest:
                self.run_pass(0, traced=False, ops=self.pipeline_ops(0, None))
            results = [f.result() for f in futures]
        self.spark.catalog.clearCache()
        for op, (result, error) in zip(concurrent, results):
            self.attempted += 1
            if error is not None:
                self.failed += 1
                self.problems.append(f"{op.name}: {error}")
            self.check_result(op.name, result)
        self.collect = False

    def timed(self) -> list[dict]:
        """Whole passes, back to back, until the time is up."""
        passes: list[dict] = []
        t0 = time.perf_counter()
        while not passes or (
            time.perf_counter() - t0 < self.seconds and len(passes) < MAX_PASSES
        ):
            passes.append(self.run_pass(1 + len(passes), traced=False))
        return passes

    def catalog_scan(self) -> None:
        """Traced runs only: every base table the workload reads,
        loaded through catalog.load_table and materialized."""
        from outreach_etl_tool_spark.catalog import load_table

        W = self.W
        names = self.ops if self.workload != "ingest_sync" else self.stream_ops
        tables = sorted({t for op in names for t in W.op_tables(op.name)})
        sc = self.spark.sparkContext
        for t in tables:
            sc.setJobGroup(f"catalog.scan:{t}", t)
            with self.tracer.span("catalog.scan", table=t):
                load_table(self.spark, self.sf_dir, t).write.format("noop").mode(
                    "overwrite"
                ).save()
        sc.setLocalProperty("spark.jobGroup.id", None)

    def execute(self) -> dict:
        self.start_session()
        jvm = self.spark.sparkContext._gateway.proc
        try:
            return self.measure(jvm)
        finally:
            self.stop(jvm)

    def measure(self, jvm) -> dict:
        t0 = time.perf_counter()
        self.phases["session"] = t0 - T_START
        self.prepare()
        t1 = time.perf_counter()
        self.phases["prepare"] = t1 - t0
        self.warm_and_verify()
        self.phases["warm_and_verify"] = time.perf_counter() - t1
        if self.trace:
            # untraced, traced, traced, untraced: the pairs cancel the
            # drift of a warming engine out of the tracing overhead
            untraced = [self.run_pass(1, traced=False)]
            self.tracer.enabled = True
            self.catalog_scan()
            passes = [self.run_pass(2, traced=True), self.run_pass(3, traced=True)]
            self.tracer.enabled = False
            untraced.append(self.run_pass(4, traced=False))
            extra = self.layer_probes()
            extra["session.peak_rss_mb"] = self.peak_rss_mb(jvm)
            self.checker.close()
            self.stop(jvm)  # flushes the event log
            return self.per_layer(untraced, passes, extra)
        setup_s = time.perf_counter() - T_START
        passes = self.timed()
        peak_mb = self.peak_rss_mb(jvm)
        self.checker.close()
        return self.end_to_end(passes, setup_s, peak_mb)

    @staticmethod
    def peak_rss_mb(jvm) -> float:
        """Peak resident memory of this driver plus its Spark JVM."""
        return (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm.pid)) / 1024.0

    def stop(self, jvm) -> None:
        """Stop Spark, the JVM and its Python workers; wait for all."""
        if jvm.poll() is not None:
            return
        kids = descendants(os.getpid())
        self.spark.stop()
        if jvm.stdin is not None:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except Exception:  # noqa: BLE001
            jvm.kill()
            jvm.wait(timeout=30)
        deadline = time.time() + 30
        alive = list(kids)
        while alive and time.time() < deadline:
            time.sleep(0.1)
            alive = [k for k in alive if os.path.exists(f"/proc/{k}")]
        for k in alive:
            try:
                os.kill(k, 9)
            except OSError:
                pass

    # --------------------------------------------------------- metrics
    @staticmethod
    def op_times(passes: list[dict]) -> dict[str, list[float]]:
        per_op: dict[str, list[float]] = {}
        for p in passes:
            for name, ts in p["times"].items():
                per_op.setdefault(name, []).extend(ts)
        return per_op

    def pass_time(self, passes: list[dict]) -> float:
        """One round over the workload, each op as often as a round
        runs it, at the median time of each op."""
        rounds = sum(p["rounds"] for p in passes)
        return sum(
            median(ts) * len(ts) / rounds for ts in self.op_times(passes).values()
        )

    def op_geomean(self, passes: list[dict]) -> float:
        meds = [median(ts) for ts in self.op_times(passes).values()]
        return math.exp(sum(math.log(max(m, 1e-9)) for m in meds) / len(meds))

    def end_to_end(self, passes: list[dict], setup_s: float, peak_mb: float) -> dict:
        wall = self.pass_time(passes)
        m = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "input_rows_per_s": (self.rows_per_pass / wall, "rows/s"),
            "op_geomean_s": (self.op_geomean(passes), "s"),
        }
        per_op = self.op_times(passes)
        for name, ts in sorted(per_op.items(), key=lambda kv: -median(kv[1])):
            print(f"  op {name:40s} median {median(ts):.3f} s over {len(ts)}")
        print("  pass walls: " + " ".join(f"{p['wall']:.3f}" for p in passes))
        info = {
            **{f"setup.{k}_s": (v, "s") for k, v in self.phases.items()},
            "passes": (len(passes), "count"),
            "failed_ops_frac": (self.failed / max(1, self.attempted), "ratio"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
        if self.workload == "ingest_sync":
            st = [p["storage"] for p in passes if "storage" in p]
            info["write_amp"] = (median([s["write_amp"] for s in st]), "ratio")
            info["space_amp"] = (median([s["space_amp"] for s in st]), "ratio")
        return self.result(m, info)

    def result(self, metrics: dict, info: dict) -> dict:
        for line in self.problems:
            print(f"FAILED {line}", file=sys.stderr)
        print(f"workload={self.workload} seed={self.seed} trace={int(self.trace)}")
        for name, (val, unit) in metrics.items():
            print(f"  {name:34s} {val:.6g} {unit}")
        for name, (val, unit) in info.items():
            print(f"  {name:34s} {val:.6g} {unit}")
        print(f"  verdict: {'correct' if not self.failed else 'INCORRECT'} "
              f"({self.failed} failed of {self.attempted} attempted)")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_probes(self) -> dict:
        """Traced runs only, after the timed passes: counters that need
        extra engine calls of their own."""
        out: dict[str, float] = {}
        if self.workload == "llm_curation":
            import probes

            out.update(probes.dedup_counts(self.spark, self.sf_dir))
            out.update(probes.ivf_recall(self.spark, self.sf_dir))
        if self.workload == "ingest_sync":
            import probes

            out["ingest.flatten_records_per_s"] = probes.flatten_rate(self.api_dir)
        return out

    def per_layer(self, untraced: list[dict], passes: list[dict], extra: dict) -> dict:
        import layers

        metrics = layers.per_layer_metrics(self, untraced, passes, extra)
        self.tracer.dump(
            ROOT / ".perfbench_out" / f"trace-{self.workload}-seed{self.seed}.json"
        )
        return self.result(metrics, {"passes": (len(passes), "count")})


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "outreach_etl_tool_spark" / "__init__.py").is_file() or not (
        ROOT / "tools" / "selfcheck.py"
    ).is_file():
        print(
            f"perfbench: engine sources not found under {ROOT}", file=sys.stderr
        )
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace), cpu_count())
    sys.path.insert(0, str(ROOT))
    try:
        result = Run(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
