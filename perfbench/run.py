"""Linkage benchmark over cogie_spark's batch, resumable and streaming paths.

    python3 perfbench/run.py --workload link-batch --seed 1 --seconds 4 --trace 0

Run it from the repository root. One closed-loop client: this single
driver process on ``local[nproc]`` makes one engine call at a time, and
the next only after the previous result is materialized and checked.

Workloads (the fixture is the first ``fixture_files`` rows of
``code_files(seed)``, staged as parquet; the engine only ever sees its
rows, never the truth columns):

- ``link-batch``: ``run_linkage`` without a checkpoint.
- ``link-resumable``: ``run_linkage(..., checkpoint=CheckpointManager(dir))``
  with a fresh checkpoint directory per call.
- ``link-stream``: the fixture split round-robin by ``file_id`` rank into
  micro-batches, each linked by ``incremental_link_batch`` in turn against
  a fresh state directory per pass.

A *pass* is one full linkage of the fixture (one call, or every micro-batch
in order). Passes repeat until ``--seconds`` have elapsed (at least one).
Set-up warms only the Python UDF workers, as bench.py does, so the first
pass runs cold, as a one-shot ``scripts/linkage_job.py`` run does.
Every pass is checked outside its timed window: every input file assigned
exactly once and pairwise F1 against the fixture's ground truth. On the
two batch paths each cluster must also be named by its smallest member,
and the map must equal the other path's map (``link-batch`` against
``link-resumable`` and back). An F1 of 1 proves that equality, since both
maps are then the truth partition; otherwise the other path runs once.

With ``--trace 1`` the session starts with the event log on
(``COGIE_EVENT_LOG``) and spans are recorded around set-up, each call and
each collect; the pass is the same cold pass an untraced run times.
attribute.py maps the event log to layers and the per-layer metrics are
printed. The tracing overhead is this pass's wall time minus an untraced
run's on the same seed (baseline.py records it).

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Scratch data lives under ``.perfbench_work/`` in the checkout and
is removed at exit. settings.json pins the session and the fixture.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from pathlib import Path

from attribute import NullTracer, Tracer, add_lineage_spans, attribute, read_events, span_table

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TRUTH_COLS = ("group_id", "member_idx")
F1_FLOOR = 0.99  # BASELINE's quality bar
MEMBW_PROBE_S = 0.5


def process_start_time() -> float:
    """Epoch time at which this process started, from /proc (10 ms)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def du(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (driver and executors share it locally)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def host_context() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    sys.path.insert(0, str(ROOT / "scripts"))
    from membw_probe import quick_mem_gbps

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(mem_kb / 2**20, 2),
        "driver_heap": os.environ["COGIE_DRIVER_MEM"],
        "mem_gbps": round(quick_mem_gbps(MEMBW_PROBE_S), 2),
    }


# -------------------------------------------------------------- session
def pin_environment(settings: dict, work: Path) -> dict:
    """Session settings every run uses; returned so the run records them."""
    for var in ("COGIE_SPARK_MASTER", "COGIE_SHUFFLE_PARTITIONS", "COGIE_EXTRA_CONF",
                "COGIE_EVENT_LOG"):
        os.environ.pop(var, None)
    pinned = {"SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))), **settings["session"]}
    os.environ.update(pinned)
    # Python workers are forked by the JVM and need the package on
    # their path; temporary files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return pinned


def start_spark(work: Path, event_log: Path | None):
    if event_log is not None:
        os.environ["COGIE_EVENT_LOG"] = str(event_log)
    from cogie_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # keeps the JVM's temporary files inside the checkout; the heap
            # is left to grow as get_spark ships it
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the context, then the JVM pyspark launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def warm_udf(spark) -> None:
    """Fork the Python workers and load the Arrow path (as bench.py does)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    ident = pandas_udf(lambda s: s * 1.0, DoubleType())
    spark.range(10_000).select(ident(F.col("id").cast("double")).alias("x")).agg(
        F.sum("x")
    ).collect()


# -------------------------------------------------------------- fixture
class Fixture:
    """The seed's code_files rows staged as parquet, its ground truth on
    the driver, and (link-stream) its round-robin micro-batches."""

    def __init__(self, spark, work: Path, n_files: int, seed: int, n_batches: int):
        self.spark = spark
        self.n_files, self.seed, self.n_batches = n_files, seed, n_batches
        self.path = work / "fixture"
        self.batch_path = work / "batches"
        self.truth: dict[str, int] = {}

    def stage(self) -> None:
        from pyspark.sql.types import IntegerType, StructField, StructType

        from cogie_spark.fixtures.codefiles import code_files

        # the first n_files rows in (group_id, member_idx) order: every
        # seed links the same number of files, in whole duplicate groups
        # except possibly the last one, which is cut short
        gen = code_files(self.spark, self.n_files // 2, self.seed, with_truth=True)
        rows = sorted(gen.collect(), key=lambda r: (r.group_id, r.member_idx))
        if len(rows) < self.n_files:
            raise RuntimeError(f"fixture generated {len(rows)} < {self.n_files} files")
        rows = rows[: self.n_files]
        self.truth = {r.file_id: r.group_id for r in rows}
        # micro-batch of each file: round-robin over file_id order
        batch_of = {fid: i % max(self.n_batches, 1) for i, fid in enumerate(sorted(self.truth))}
        df = self.spark.createDataFrame(
            [(*r, batch_of[r.file_id]) for r in rows],
            StructType(gen.schema.fields + [StructField("_batch", IntegerType())]),
        )
        df.drop("_batch").write.mode("overwrite").parquet(str(self.path))
        if self.n_batches:
            df.drop(*TRUTH_COLS).write.mode("overwrite").partitionBy("_batch").parquet(
                str(self.batch_path)
            )

    def files(self):
        return self.spark.read.parquet(str(self.path)).drop(*TRUTH_COLS)

    def batch(self, b: int):
        return self.spark.read.parquet(str(self.batch_path / f"_batch={b}"))

    def batch_files(self, b: int) -> set[str]:
        """Micro-batch b: every n_batches-th file in file_id order."""
        return set(sorted(self.truth)[b :: self.n_batches])

    @property
    def input_bytes(self) -> int:
        return du(self.path)


def pairwise_f1(assign: dict[str, str], truth: dict[str, int]) -> float:
    """Exact pairwise F1 of a file -> cluster map against file -> group."""

    def pairs(counts) -> int:
        return sum(n * (n - 1) // 2 for n in counts)

    tp = pairs(Counter((assign[f], truth[f]) for f in assign).values())
    predicted = pairs(Counter(assign.values()).values())
    actual = pairs(Counter(truth[f] for f in assign).values())
    return 1.0 if predicted + actual == 0 else 2 * tp / (predicted + actual)


def check_assignment(rows, expected: set[str]) -> tuple[dict[str, str], list[str]]:
    """file -> cluster map from collected rows, and what is wrong with it."""
    ids = Counter(r.file_id for r in rows)
    problems = []
    if any(n > 1 for n in ids.values()):
        problems.append(f"{sum(n > 1 for n in ids.values())} files assigned more than once")
    if set(ids) != expected:
        problems.append(
            f"{len(expected - set(ids))} files missing, {len(set(ids) - expected)} unexpected"
        )
    return {r.file_id: r.cluster_id for r in rows}, problems


# ------------------------------------------------------------ workloads
class LinkBatch:
    """run_linkage without a checkpoint, cross-checked against the
    resumable path."""

    layer = "linkage"

    def __init__(self, spark, fx: Fixture, work: Path, settings: dict):
        self.spark, self.fx, self.work, self.settings = spark, fx, work, settings
        self.reference: dict[str, str] | None = None  # the other path's map

    def checkpoint(self, i: int):
        return None

    def other_checkpoint(self):
        from cogie_spark.io.tableio import CheckpointManager

        return CheckpointManager(self.spark, str(self.work / "checkpoints" / "other"))

    def run_pass(self, tracer, i: int) -> dict:
        from cogie_spark.plans.linkage import run_linkage

        ck = self.checkpoint(i)
        t0 = time.time()
        with tracer.span(f"pass-{i}", self.layer):
            with tracer.span("run_linkage", "linkage") as call:
                out = run_linkage(self.fx.files(), checkpoint=ck)
            with tracer.span("collect-clusters", "linkage"):
                rows = out["clusters"].collect()
        wall = time.time() - t0
        return {"wall": wall, "calls": [wall], "out": out, "rows": rows, "call": call, "i": i}

    def check(self, res: dict) -> tuple[int, int, float, list[str]]:
        assign, problems = check_assignment(res["rows"], set(self.fx.truth))
        problems += min_member_problems(assign)
        f1 = pairwise_f1(assign, self.fx.truth)
        if f1 < F1_FLOOR:
            problems.append(f"pairwise F1 {f1:.4f} below {F1_FLOOR}")
        if not problems and f1 < 1.0:
            # F1 of 1 means the partition is the truth's, and min-member ids
            # then fix the whole map, so both paths agree; short of that,
            # run the other path once and compare the maps directly
            if self.reference is None:
                self.reference = linkage_map(self.fx, self.other_checkpoint())
            if assign != self.reference:
                diff = sum(assign[f] != self.reference.get(f) for f in assign)
                problems.append(f"{diff} files clustered differently on the other path")
        return 1, int(bool(problems)), f1, problems

    def probe(self, res: dict, tracer) -> dict:
        """Trace-only counts, taken after the pass under a 'bench' span."""
        out = res["out"]
        with tracer.span(f"probe-{res['i']}", "bench"):
            scored = out["scored"].count()
            counts = {
                "pairs_kept": out["pairs"].count(),
                "dropped_blocks": out["dropped_blocks"].count(),
                "pairs_scored": scored,
                "edges": out["edges"].count(),
                "cc_rounds": 0,
            }
            counts.update(self._lineage(res, tracer))
        return counts

    def _lineage(self, res, tracer) -> dict:
        return {}

    def release(self, res: dict) -> None:
        _release(res["out"])


class LinkResumable(LinkBatch):
    """run_linkage through a fresh CheckpointManager per call,
    cross-checked against the plain path."""

    def other_checkpoint(self):
        return None

    def checkpoint(self, i: int):
        from cogie_spark.io.tableio import CheckpointManager

        self.ck = CheckpointManager(self.spark, str(self.work / "checkpoints" / f"pass-{i}"))
        return self.ck

    def _lineage(self, res, tracer) -> dict:
        lineage = [r.asDict() for r in self.ck.lineage_df().collect()]
        add_lineage_spans(tracer, res["call"], lineage)
        return {"cc_rounds": sum(r["stage"] == "cc_edges" for r in lineage)}

    def release(self, res: dict) -> None:
        _release(res["out"])
        shutil.rmtree(self.work / "checkpoints", ignore_errors=True)


class LinkStream:
    """Micro-batches through incremental_link_batch against fresh state."""

    layer = "incremental"

    def __init__(self, spark, fx: Fixture, work: Path, settings: dict):
        self.spark, self.fx, self.work, self.settings = spark, fx, work, settings

    def run_pass(self, tracer, i: int) -> dict:
        from cogie_spark.io.tableio import TableIO
        from cogie_spark.streaming.incremental import incremental_link_batch

        state_dir = self.work / "state" / f"pass-{i}"
        state = TableIO(self.spark, str(state_dir))
        calls, batches = [], []
        t0 = time.time()
        with tracer.span(f"pass-{i}", self.layer):
            for b in range(self.fx.n_batches):
                tb = time.time()
                with tracer.span(f"incremental_link_batch-{b}", "incremental"):
                    assigned = incremental_link_batch(
                        self.fx.batch(b), state, batch_id=b,
                        compact_every=self.settings["stream_compact_every"],
                    )
                with tracer.span(f"collect-{b}", "incremental"):
                    batches.append(assigned.collect())
                calls.append(time.time() - tb)
        wall = time.time() - t0
        manifest = json.loads((state_dir / "_state_manifest.json").read_text())
        res = {"wall": wall, "calls": calls, "batches": batches, "i": i,
               "compactions": int(manifest.get("generation", 0)),
               "state_bytes": du(state_dir)}
        shutil.rmtree(state_dir, ignore_errors=True)
        return res

    def check(self, res: dict) -> tuple[int, int, float, list[str]]:
        problems, failed, assign = [], 0, {}
        for b, rows in enumerate(res["batches"]):
            part, bad = check_assignment(rows, self.fx.batch_files(b))
            failed += bool(bad)
            problems += [f"batch {b}: {p}" for p in bad]
            assign.update(part)
        f1 = pairwise_f1(assign, self.fx.truth)
        if f1 < F1_FLOOR:
            problems.append(f"pairwise F1 {f1:.4f} below {F1_FLOOR}")
            failed = len(res["batches"])
        # files that joined a cluster first seen in an earlier batch
        seen: set[str] = set()
        res["cross_batch_links"] = 0
        for rows in res["batches"]:
            res["cross_batch_links"] += sum(r.cluster_id in seen for r in rows)
            seen |= {r.cluster_id for r in rows}
        return len(res["batches"]), failed, f1, problems

    def probe(self, res: dict, tracer) -> dict:
        return {}

    def release(self, res: dict) -> None:
        pass


def min_member_problems(assign: dict[str, str]) -> list[str]:
    """run_linkage names every cluster by its smallest member id."""
    smallest: dict[str, str] = {}
    for f, c in assign.items():
        smallest[c] = min(smallest.get(c, f), f)
    bad = sum(c != m for c, m in smallest.items())
    return [f"{bad} clusters not named by their smallest member id"] if bad else []


def linkage_map(fx: Fixture, checkpoint) -> dict[str, str]:
    """One untimed run_linkage call; returns its file -> cluster map."""
    from cogie_spark.plans.linkage import run_linkage

    out = run_linkage(fx.files(), checkpoint=checkpoint)
    assign = {r.file_id: r.cluster_id for r in out["clusters"].collect()}
    _release(out)
    return assign


def _release(out: dict) -> None:
    """Drop a run's caches once its outputs are materialized and checked."""
    for df in out.get("_persisted", []) + out.get("_checkpoints", []):
        df.unpersist()


WORKLOAD_CLASSES = {"link-batch": LinkBatch, "link-resumable": LinkResumable,
                    "link-stream": LinkStream}


# ----------------------------------------------------------------- loop
class Tally:
    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.f1: list[float] = []
        self.problems: list[str] = []

    def add(self, checked) -> None:
        attempted, failed, f1, problems = checked
        self.attempted += attempted
        self.failed += failed
        self.f1.append(f1)
        self.problems += problems


def run_passes(wl, tracer, seconds: float, tally: Tally, probe: bool = False) -> list[dict]:
    """Closed loop: passes back to back until ``seconds`` have elapsed."""
    results = []
    t0 = time.time()
    while not results or time.time() - t0 < seconds:
        i = len(results)
        try:
            res = wl.run_pass(tracer, i)
        except Exception as e:  # an engine failure is a failed sample
            traceback.print_exc()
            tally.add((1, 1, 0.0, [f"pass {i} raised {e!r}"]))
            break
        with tracer.span(f"check-{i}", "bench"):
            tally.add(wl.check(res))
        if probe:
            res["counts"] = wl.probe(res, tracer)
        wl.release(res)
        for key in ("out", "rows", "batches"):
            res.pop(key, None)
        results.append(res)
    return results


def end_to_end(results, tally, fx, setup_s, peak_rss_mb) -> dict:
    wall = statistics.median(r["wall"] for r in results)
    calls = [c for r in results for c in r["calls"]]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "files_per_s": (len(fx.truth) / wall, "1/s"),
        "batch_p50_s": (statistics.median(calls), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "pairwise_f1": (min(tally.f1), "ratio"),
        "ok_share": (1 - tally.failed / tally.attempted, "ratio"),
    }


def per_layer(a: dict, traced, fx) -> dict:
    """Per-layer metrics of the traced passes, each per pass."""
    n = len(traced)
    L = a["layers"]
    counts = [r.get("counts", {}) for r in traced]

    def mean_count(key):
        return statistics.fmean(c.get(key, 0) for c in counts)

    pairs_scored = mean_count("pairs_scored")
    calls = [c for r in traced for c in r["calls"]]
    traced_wall = statistics.median(r["wall"] for r in traced)
    written = sum(layer["bytes_written"] for layer in L.values())
    stream = "compactions" in traced[0]
    return {
        "blocking.busy_s": (L["blocking"]["busy_s"] / n, "s"),
        "blocking.cpu_s": (L["blocking"]["cpu_s"] / n, "s"),
        "blocking.shuffle_bytes": (L["blocking"]["shuffle_bytes"] / n, "B"),
        "blocking.pairs_kept": (mean_count("pairs_kept"), "count"),
        "blocking.dropped_blocks": (mean_count("dropped_blocks"), "count"),
        "scoring.busy_s": (L["scoring"]["busy_s"] / n, "s"),
        "scoring.cpu_s": (L["scoring"]["cpu_s"] / n, "s"),
        "scoring.udf_s": (a["udf_s"] / n, "s"),
        "scoring.pairs_scored": (pairs_scored, "count"),
        "scoring.shuffle_bytes_per_pair": (
            L["scoring"]["shuffle_bytes"] / n / pairs_scored if pairs_scored else 0.0, "B"),
        "scoring.match_ratio": (mean_count("edges") / pairs_scored if pairs_scored else 0.0,
                                "ratio"),
        "linkage.jobs": (a["jobs"] / n, "count"),
        "linkage.driver_gap_s": (a["driver_gap_s"] / n, "s"),
        "linkage.cpu_s": (L["linkage"]["cpu_s"] / n, "s"),
        "linkage.unattributed_cpu_share": (a["unattributed_cpu_share"], "ratio"),
        "cc.busy_s": (L["cc"]["busy_s"] / n, "s"),
        "cc.rounds": (mean_count("cc_rounds"), "count"),
        "cc.edges": (mean_count("edges"), "count"),
        "tableio.commit_s": (L["tableio"]["busy_s"] / n, "s"),
        "tableio.commits": (a["writes"] / n, "count"),
        "tableio.bytes_written_per_input_byte": (written / n / fx.input_bytes, "ratio"),
        "incremental.batch_max_s": (max(calls) if stream else 0.0, "s"),
        "incremental.latency_growth": (
            statistics.median(latency_growth(r["calls"]) for r in traced) if stream else 0.0,
            "ratio"),
        "incremental.compactions": (
            statistics.fmean(r["compactions"] for r in traced) if stream else 0.0, "count"),
        "incremental.compact_s": (a["compact_s"] / n, "s"),
        "incremental.state_bytes": (
            statistics.fmean(r["state_bytes"] for r in traced) if stream else 0.0, "B"),
        "incremental.cross_batch_links": (
            statistics.fmean(r["cross_batch_links"] for r in traced) if stream else 0.0,
            "count"),
        "trace.wall_s": (traced_wall, "s"),
        "trace.attributed_cpu_share": (1 - a["unattributed_cpu_share"], "ratio"),
    }


def latency_growth(calls: list[float]) -> float:
    """Median latency of the last quarter of a pass's micro-batches over
    that of the first quarter (at least one batch each)."""
    q = max(1, len(calls) // 4)
    return statistics.median(calls[-q:]) / statistics.median(calls[:q])


def run(args, settings: dict, work: Path) -> dict:
    t_start = process_start_time()
    pinned = pin_environment(settings, work)
    sys.path.insert(0, str(ROOT))
    tracer = Tracer() if args.trace else NullTracer()

    spark = start_spark(work, event_log=work / "eventlog" if args.trace else None)
    session_s = time.time() - t_start
    try:
        fx = Fixture(spark, work, settings["fixture_files"], args.seed,
                     settings["stream_batches"] if args.workload == "link-stream" else 0)
        with tracer.span("setup", "setup"):
            t = time.time()
            warm_udf(spark)
            udf_s = time.time() - t
            fx.stage()
            stage_s = time.time() - t - udf_s
        wl = WORKLOAD_CLASSES[args.workload](spark, fx, work, settings)
        tally = Tally()
        setup_s = time.time() - t_start  # process start -> first timed call
        passes = run_passes(wl, tracer, args.seconds, tally, probe=bool(args.trace))
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        stop_jvm(spark)
    report = {"setup_parts_s": {"session": round(session_s, 3),
                                "stage": round(stage_s, 3),
                                "udf_warm": round(udf_s, 3)},
              "pass_walls_s": [round(r["wall"], 3) for r in passes],
              "calls": sum(len(r["calls"]) for r in passes),
              "host": host_context(),
              "pinned": pinned}
    if not passes:
        metrics = {}
    elif args.trace:
        a = attribute(read_events(str(work / "eventlog")), tracer.spans)
        metrics = per_layer(a, passes, fx)
        report["spans"] = span_table(tracer.spans)
    else:
        metrics = end_to_end(passes, tally, fx, setup_s, peak_rss)
    report["problems"] = tally.problems
    print(json.dumps(report, indent=1))
    correct = tally.failed == 0 and not tally.problems
    return {
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed if correct else max(tally.failed, 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOAD_CLASSES), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "cogie_spark").is_dir():
        print(f"perfbench: no cogie_spark package under {ROOT}", file=sys.stderr)
        return 2
    settings = json.loads((HERE / "settings.json").read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = run(args, settings, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
