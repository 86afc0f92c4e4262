"""Benchmark for the spikex_spark ER pipeline, driven through its public API.

    python3 perfbench/run.py --workload pages_link --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. One process, one workload:

1. generate the workload's inputs from ``--seed`` (cached by workload, seed
   and size under ``.perfbench_cache/``) and the reference output;
2. start a SparkSession, read the inputs and run one cold pass: together
   that is ``setup_s``;
3. run a fixed number of warm-up passes, then timed passes until
   ``--seconds`` have passed; every pass collects the output and checks it
   against the reference;
4. with ``--trace 1``, run one more pass with per-layer tracing.

The last stdout line is one JSON object: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. Scratch (Spark local
dirs, ledgers, temp files) lives under ``.perfbench_work/`` and is removed
at exit. ``layers.md`` maps each layer to the end-to-end metric it moves.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import reference as R  # noqa: E402
import layertrace as T  # noqa: E402
import workloads as W  # noqa: E402

WORKLOADS = {
    # resolve_entities: fused extract + broadcast mention scan, salting,
    # star edges and the driver-side connected components
    "pages_link": {"kind": "pages", "n": 16_000},
    # resolve_documents: MinHash/LSH blocking, capped pair explode, JW +
    # Jaccard scoring (Arrow UDF) and connected components
    "docs_neardup": {"kind": "docs", "n": 3_000},
}
WARMUP_PASSES = 3
MIN_TIMED_PASSES = 3
DRIVER_MEM = "4g"
DRIVER_HEAP_INITIAL = "2g"
# Spark's default is 100 generated classes; one resolve_entities pass
# generates 109, so with the default every warm pass recompiled 59 of them
# and the JIT never settled (see layers.md, "Codegen cache")
CODEGEN_CACHE_ENTRIES = 1000

PAGES_STAGES = {"10_mentions": "mentions", "20_blocks": "blocks",
                "30_star_edges": "star_edges", "50_clusters": "cc"}
DOCS_STAGES = {"10_buckets": "blocking.minhash", "20_pairs": "blocking.pairs",
               "30_scores": "scoring", "40_clusters": "cc"}
LAYERS = ["blocking.minhash", "blocking.pairs", "scoring", "mentions",
          "blocks", "star_edges", "cc", "lineage"]
LAYER_UNITS = {"wall_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
               "idle_core_s": "s", "shuffle_write_mb": "MB",
               "rows_out": "count", "failed_tasks": "count"}
# per-layer counters beyond LAYER_UNITS; 0 where the workload lacks them
EXTRA_UNITS = {"blocking.pairs.candidate_pairs": "count",
               "scoring.match_ratio": "ratio",
               "star_edges.edges_out": "count", "cc.edges_in": "count",
               "cc.driver_path": "bool", "lineage.ledger_write_s": "s",
               "lineage.incremental_s": "s", "lineage.ledger_mb": "MB",
               **{f"lineage.rows_{stage}": "count" for stage in DOCS_STAGES}}
LINEAGE_GROUP = T.GROUP_PREFIX + "lineage"


def cores() -> int:
    """Spark task slots: half the cores the run may use. With a slot per
    core, the slots, their Python workers and the JVM's JIT and GC threads
    outnumber the cores; warm passes are no faster with more slots (see
    layers.md, "Cores")."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """The SparkSession with box-safe settings, and its JVM process."""

    def __init__(self, work: Path):
        # every scratch path under the run's work dir; executors' Python
        # workers import spikex_spark from the checkout
        for d in ("local", "jvmtmp", "tmp", "warehouse"):
            (work / d).mkdir(parents=True, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cores()),
            "SPARK_LOCAL_DIRS": str(work / "local"),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            # keeps the engine's own JIT flag; moves the JVM temp dir and
            # drops its /tmp perf-data file. A fixed initial heap: G1 grew
            # the heap with the host's speed, which moved the peak RSS of
            # identical runs by +-15%; growth past it still shows.
            "SPARK_DRIVER_JAVA_OPTS": ("-XX:-DontCompileHugeMethods "
                                       "-XX:-UsePerfData "
                                       f"-Xms{DRIVER_HEAP_INITIAL} "
                                       f"-Djava.io.tmpdir={work / 'jvmtmp'}"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
            "TMPDIR": str(work / "tmp"),
        })
        tempfile.tempdir = None
        from spikex_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        })
        self.start_s = time.perf_counter() - t0
        self.proc = self.spark.sparkContext._gateway.proc
        self.jvm_pid = self.proc.pid

    def codegen_compiles(self) -> int:
        """Classes whole-stage codegen has compiled since the JVM started."""
        metrics = self.spark._jvm.org.apache.spark.metrics.source
        return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid) + vm_hwm_mb("self")

    def stop(self) -> None:
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        # the JVM exits when its stdin closes; wait for it
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


@dataclass
class Traced:
    """One traced pass: its wall time, per-layer stats, extra counters and
    every output it produced (each is checked)."""
    wall_s: float
    stats: dict
    extra: dict
    outs: list


def trace_inplan(spark, run, stages: dict):
    """Run ``run(stage_runner)`` once under a TracingRunner: (wall, stats
    with wall and rows filled in, stage outputs by layer, output)."""
    runner = T.TracingRunner(spark, stages)
    t0 = time.perf_counter()
    out = run(runner)
    wall = time.perf_counter() - t0
    stats = T.StatusStore(spark).layer_stats(T.group_layer)
    for layer, n in runner.rows().items():
        s = stats.setdefault(layer, T.LayerStats())
        s.wall_s, s.rows_out = runner.wall[layer], n
    return wall, stats, runner.outputs, out


class PagesLink:
    """resolve_entities over generated pages against the titles table."""

    def __init__(self, spark, paths: dict):
        import pyarrow.parquet as pq

        self.spark = spark
        self.pages = spark.read.parquet(paths["pages"])
        self.titles = spark.read.parquet(paths["titles"])
        lab = pq.read_table(paths["labels"])
        self.n = lab.num_rows
        self.truth = R.partition_labels(lab.column("url").to_pylist(),
                                        lab.column("label").to_pylist())

    def run(self, runner=None):
        from spikex_spark import pipeline

        return pipeline.resolve_entities(self.pages, self.titles,
                                         stage_runner=runner).toArrow()

    def check(self, out) -> tuple[bool, float]:
        return R.check(self.truth, out.column("url").to_pylist(),
                       out.column("cluster_id").to_pylist())

    def traced(self) -> Traced:
        wall, stats, outputs, out = trace_inplan(self.spark, self.run,
                                                 PAGES_STAGES)
        edges = stats["star_edges"].rows_out
        return Traced(wall, stats, {"star_edges.edges_out": edges,
                                    "cc.edges_in": edges}, [out])


class DocsNearDup:
    """resolve_documents over the generated corpus.

    The traced run also runs the ledgered path once:
    lineage.resolve_documents_resumable over the first 80% of the docs,
    then lineage.resolve_documents_incremental over the rest, whose output
    must equal the one-shot output."""

    def __init__(self, spark, paths: dict, work: Path, ref: dict):
        import pyarrow.parquet as pq

        self.spark, self.truth = spark, ref["labels"]
        self.docs = spark.read.parquet(paths["docs"])
        self.old = spark.read.parquet(paths["docs_old"])
        self.new = spark.read.parquet(paths["docs_new"])
        self.n = pq.read_metadata(paths["docs"]).num_rows
        self.ledgers = work / "ledgers"

    def run(self, runner=None):
        from spikex_spark import pipeline

        return pipeline.resolve_documents(self.docs,
                                          stage_runner=runner).toArrow()

    def check(self, out) -> tuple[bool, float]:
        return R.check(self.truth, out.column("doc_id").to_pylist(),
                       out.column("cluster_id").to_pylist())

    def traced(self) -> Traced:
        from pyspark.sql import functions as F

        wall, stats, outputs, out = trace_inplan(self.spark, self.run,
                                                 DOCS_STAGES)
        scored = stats["scoring"].rows_out
        edges = outputs["scoring"].where(
            F.col("score") >= R.THRESHOLD).count()
        extra = {"blocking.pairs.candidate_pairs":
                 stats["blocking.pairs"].rows_out,
                 "scoring.match_ratio": edges / scored if scored else 0.0,
                 "cc.edges_in": edges}
        lin, lin_extra, inc_out = self._trace_ledgered()
        stats["lineage"] = lin
        extra.update(lin_extra)
        return Traced(wall, stats, extra, [out, inc_out])

    def _trace_ledgered(self):
        from spikex_spark import lineage

        sc = self.spark.sparkContext
        old, new = self.ledgers / "old", self.ledgers / "new"
        sc.setJobGroup(LINEAGE_GROUP, "lineage")
        t0 = time.perf_counter()
        lineage.resolve_documents_resumable(self.spark, self.old, str(old))
        t1 = time.perf_counter()
        out = lineage.resolve_documents_incremental(
            self.spark, self.new, self.old, str(old), str(new)).toArrow()
        t2 = time.perf_counter()
        T.clear_group(sc)
        lin = T.StatusStore(self.spark).layer_stats(
            lambda job: "lineage" if job.group == LINEAGE_GROUP else None
        ).get("lineage", T.LayerStats())
        lin.wall_s = t2 - t0
        summaries = [lineage.ledger_summary(str(d)) for d in (old, new)]
        lin.rows_out = sum(m["rows"] for s in summaries for m in s)
        extra = {
            "lineage.ledger_write_s": t1 - t0,
            "lineage.incremental_s": t2 - t1,
            "lineage.ledger_mb": sum(
                p.stat().st_size for p in self.ledgers.rglob("*")
                if p.is_file()) / 1e6,
        }
        extra.update({f"lineage.rows_{m['stage']}": m["rows"]
                      for m in summaries[1]})
        shutil.rmtree(self.ledgers, ignore_errors=True)
        return lin, extra, out


def prepare(name: str, seed: int) -> tuple[dict, dict | None]:
    spec = WORKLOADS[name]
    cache = ROOT / ".perfbench_cache" / f"{name}-s{seed}-n{spec['n']}"
    paths = W.write_inputs(spec["kind"], seed, spec["n"], str(cache))
    ref = None
    if spec["kind"] == "docs":
        ref = R.doc_reference(paths["docs"], str(cache / "reference.json"))
    return paths, ref


def measure(args) -> dict:
    spec = WORKLOADS[args.workload]
    paths, ref = prepare(args.workload, args.seed)
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    session = None
    try:
        t0 = time.perf_counter()
        session = Session(work)
        spark = session.spark
        if spec["kind"] == "pages":
            wl = PagesLink(spark, paths)
        else:
            wl = DocsNearDup(spark, paths, work, ref)
        attempted = failed = 0
        all_ok, f1s = True, []

        def one_pass():
            nonlocal attempted, failed, all_ok
            attempted += 1
            t = time.perf_counter()
            try:
                out = wl.run()
            except Exception:  # a failed pass is counted, not fatal
                print(f"pass {attempted} raised:", file=sys.stderr)
                traceback.print_exc()
                failed += 1
                all_ok = False
                return None
            wall = time.perf_counter() - t
            print(f"pass {attempted}: {wall:.3f} s", file=sys.stderr)
            ok, f1 = wl.check(out)
            f1s.append(f1)
            if not ok:
                failed += 1
                all_ok = False
                return None
            return wall

        one_pass()
        setup_s = time.perf_counter() - t0
        cold_compiles = session.codegen_compiles()
        for _ in range(WARMUP_PASSES):
            one_pass()
        timed, n_timed = [], 0
        compiles_before = session.codegen_compiles()
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < args.seconds
               or n_timed < MIN_TIMED_PASSES):
            n_timed += 1
            wall = one_pass()
            if wall is not None:
                timed.append(wall)
        median = statistics.median(timed) if timed else 0.0
        warm_compiles = (session.codegen_compiles()
                         - compiles_before) / n_timed
        print(f"{args.workload}: seed {args.seed}, {wl.n} records a pass, "
              f"setup {setup_s:.2f} s, {len(timed)} timed passes "
              f"median {median:.3f} s "
              f"(min {min(timed, default=0):.3f}, "
              f"max {max(timed, default=0):.3f})", file=sys.stderr)

        if args.trace:
            attempted += 1
            tr = wl.traced()
            if not all(wl.check(out)[0] for out in tr.outs):
                failed += 1
                all_ok = False
            metrics = layer_metrics(tr, median, {
                "session.start_s": (session.start_s, "s"),
                "codegen.cold_compiles": (cold_compiles, "count"),
                "codegen.warm_compiles_per_pass": (warm_compiles, "count"),
            })
        else:
            metrics = {
                "records_per_s": (wl.n / median if median else 0.0,
                                  "records/s"),
                "setup_s": (setup_s, "s"),
                "driver_peak_rss_mb": (session.peak_rss_mb(), "MB"),
                "output_ok": (int(all_ok), "bool"),
                "pair_f1": (min(f1s, default=0.0), "ratio"),
            }
        return {"correct": all_ok and failed == 0, "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}
    finally:
        if session is not None:
            session.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:   # another run still uses it
            pass


def layer_metrics(tr: Traced, untraced: float, session: dict) -> dict:
    n_cores = cores()
    out = {}
    layer_wall = 0.0
    for layer in LAYERS:
        s = tr.stats.get(layer, T.LayerStats())
        if layer != "lineage":   # traced apart from the one-shot pass
            layer_wall += s.wall_s
        values = {
            "wall_s": s.wall_s, "executor_run_s": s.executor_run_s,
            "executor_cpu_s": s.executor_cpu_s,
            "idle_core_s": s.wall_s * n_cores - s.executor_run_s,
            "shuffle_write_mb": s.shuffle_write_mb, "rows_out": s.rows_out,
            "failed_tasks": s.failed_tasks,
        }
        for f, unit in LAYER_UNITS.items():
            out[f"{layer}.{f}"] = (values[f], unit)
    for name, unit in EXTRA_UNITS.items():
        out[name] = (tr.extra.get(name, 0), unit)
    from spikex_spark.operators import cc

    out["cc.driver_path"] = (int(0 < tr.extra["cc.edges_in"]
                                 <= cc.SMALL_GRAPH_EDGES), "bool")
    ratio = layer_wall / tr.wall_s
    if abs(ratio - 1) > 0.10:
        print(f"layer wall sum {layer_wall:.3f} s is not within 10% of the "
              f"traced pass {tr.wall_s:.3f} s", file=sys.stderr)
    out.update(session)
    out.update({
        "trace.pass_wall_s": (tr.wall_s, "s"),
        "trace.untraced_median_s": (untraced, "s"),
        "trace.overhead_s": (tr.wall_s - untraced, "s"),
        "trace.layer_wall_ratio": (ratio, "ratio"),
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import spikex_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    result = measure(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
