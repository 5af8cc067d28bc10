"""Benchmark harness: one seeded workload, one process, one result line.

    python3 perfbench/run.py --workload near_families --seed 1 --seconds 10 --trace 0

Run from the repository root. The harness generates the workload from
the seed, starts ``local[N]`` Spark (N = min(4, nproc)) in this process,
and drives the job in a closed loop, one job or one micro-batch at a
time:

- it launches the JVM and starts the session, through the first
  completed scan of the ``files`` table;
- ``near_families``: the batch job (``files`` table -> ``run_pipeline``
  -> sinks) once cold, then warm until ``--seconds`` have passed, at
  least once;
- ``incremental_ingest``: a stream of ``STREAM_BATCHES`` micro-batches
  that together hold the corpus, each folded into a store that starts
  empty and followed by a refresh of the clusters. The stream is
  repeated on a fresh store until ``--seconds`` have passed, at least
  ``MIN_STREAMS`` times; the first stream's first micro-batch is the
  cold job. The last store is then compacted.

Every job starts from an empty cache and checks that no persisted
relation survived, and every output is checked (gate.py). With
``--trace 1`` the run measures layers instead, on either workload's
corpus: with Spark's event log on, it runs the batch job cold and once
warm, replays it span by span, and folds two micro-batches with spans
(spans.py).

Human-readable lines go first; the last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. A record of
every sample is written to ``.perfbench/results/``.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("near_families", "incremental_ingest")
CORES = min(4, os.cpu_count() or 1)
# The driver heap is capped, not pre-sized: the JVM commits heap as the
# program's live data grows, so peak_rss_mb sees on-heap memory too.
DRIVER_MEMORY = "1g"
STREAM_BATCHES = 2
MIN_STREAMS = 2
# a traced run folds the first two of six micro-batches
TRACED_SPLIT, TRACED_MICRO_BATCHES = 6, 2

# name -> unit, in print order
END_TO_END = {
    "setup_s": "s",
    "cold_pipeline_s": "s",
    "pipeline_s": "s",
    "peak_rss_mb": "MB",
    "near_recall": "ratio",
    "near_precision": "ratio",
    "written_bytes_per_input_byte": "ratio",
}
SPANS = (
    "sources.scan", "exact.funnel", "lsh.index", "lsh.signatures", "lsh.candidates",
    "simhash_op.candidates", "lsh.verify", "connected_components.cc", "rank.originals",
    "treemerge.dirs", "sinks.write",
    "incremental.fold", "incremental.refresh", "incremental.compact",
)
# per-span metrics in the result line; the run record and the printed
# table also carry stage_s, spill_bytes, python_s, rows_in and rows_out
SPAN_METRICS = {
    "wall_s": "s", "driver_gap_s": "s", "exec_run_s": "s", "exec_cpu_s": "s",
    "jobs": "count", "stages": "count", "shuffle_bytes": "bytes", "peak_exec_mem_mb": "MB",
}
RATIOS = {
    "lsh.signatures.reps_per_row": "ratio",
    "lsh.verify.yield": "ratio",
    "lsh.candidates.oversized": "count",
    "lsh.candidates.max_width": "count",
    "simhash_op.candidates.oversized": "count",
    "simhash_op.candidates.max_width": "count",
    "exact.funnel.clustered_share": "ratio",
    "incremental.fold.new_shas_per_row": "ratio",
    "lsh.signatures.python_s": "s",
    "lsh.verify.python_s": "s",
    "incremental.fold.python_s": "s",
    "trace.overhead_s": "s",
    "trace.driver_gap_total_s": "s",
    "host.bw_mbs": "MB/s",
}
PER_LAYER = {
    **{f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()},
    **RATIOS,
}


class Run:
    """Counts attempted and failed operations; an operation fails when
    it raises or when the gate finds an error in its output."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, name: str, fn, check=None):
        """Time ``fn()``, then gate its result with ``check(result)``,
        which returns error strings. Returns (result, seconds)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            result = fn()
            dt = time.perf_counter() - t
            errors = check(result) if check else []
        except Exception:  # a failing operation is a result, not a crash
            traceback.print_exc()
            result, dt, errors = None, time.perf_counter() - t, [f"{name}: raised"]
        if errors:
            self.failed += 1
            self.errors += errors
            for e in errors[:20]:
                print("GATE", e, file=sys.stderr)
        return result, dt


class Bench:
    """One run: the corpus, its files on disk, the session and the
    samples taken so far."""

    def __init__(self, args, work: str):
        import corpus as C

        self.args = args
        self.work = work
        self.run = Run()
        self.spark = None
        self.tracer = None
        self.reference: list = []  # canonical outputs of the first batch job
        self.corpus = C.generate(args.workload, args.seed)
        self.files_path = os.path.join(work, "files")
        C.write_parquet(self.corpus, self.files_path)
        self.record: dict = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "rows": len(self.corpus.rows), "input_bytes": self.corpus.input_bytes,
            "corpus_sha256": self.corpus.digest(),
        }

    # -- session -----------------------------------------------------------
    def start_session(self, conf: dict) -> float:
        """JVM launch and SparkSession start through the first completed
        scan."""
        from rmlint_spark.session import get_spark
        from rmlint_spark.sources.tables import read_files_table

        t = time.perf_counter()
        self.spark = get_spark("perfbench", cores=CORES,
                               driver_memory=DRIVER_MEMORY, extra_conf=conf)
        n = read_files_table(self.spark, self.files_path).count()
        dt = time.perf_counter() - t
        want = len(self.corpus.rows)
        self.run.op("setup", lambda: n,
                    lambda got: [] if got == want else [f"setup: scanned {got} rows, not {want}"])
        return dt

    # -- batch leg ---------------------------------------------------------
    def check_batch(self, out_dir: str) -> list[str]:
        """Gate one batch job's outputs; the first job's canonical
        outputs become the reference every later job must equal."""
        import gate

        outputs = gate.read_outputs(out_dir)
        errors = (gate.check_exact(outputs["exact"], self.corpus)
                  + gate.check_dirs(outputs["dirs"], self.corpus)
                  + gate.check_near(outputs["near"], self.corpus))
        canon = gate.canonical(outputs)
        if not self.reference:
            self.reference.append(canon)
            self.record["near_scores"] = gate.score_near(outputs["near"], self.corpus)
        else:
            errors += gate.diff_outputs(self.reference[0], canon)
        return errors

    def batch(self, name: str) -> float:
        from job import batch_job, dir_bytes, isolate

        out = os.path.join(self.work, name)
        isolate(self.spark)
        _, dt = self.run.op("batch", lambda: batch_job(self.spark, self.files_path, out),
                            lambda _: self.check_batch(out))
        if "written_bytes" not in self.record:
            self.record["written_bytes"] = dir_bytes(out)
        return dt

    def batch_leg(self, seconds: float) -> None:
        """One cold batch job, then warm ones until ``seconds`` have
        passed, at least one."""
        self.record["cold_pipeline_s"] = self.batch("out_cold")
        warm, t = [], time.perf_counter()
        while not warm or time.perf_counter() - t < seconds:
            warm.append(self.batch("out_warm"))
        self.record["pipeline_s"] = warm

    def traced_replay(self) -> dict:
        """Replay the batch job span by span, after ``batch_leg``. Its
        outputs must equal the untraced jobs'; its wall time minus the
        median warm untraced job's is the tracing overhead."""
        from job import isolate, traced_batch_job

        out = os.path.join(self.work, "out_traced")
        isolate(self.spark)
        ratios, traced = self.run.op(
            "traced", lambda: traced_batch_job(self.spark, self.files_path, out, self.tracer),
            lambda _: self.check_batch(out))
        return {**(ratios or {}),
                "trace.overhead_s": traced - statistics.median(self.record["pipeline_s"])}

    # -- incremental leg ---------------------------------------------------
    def stream_leg(self, n_batches: int, use: int, min_streams: int, seconds: float) -> None:
        """Fold the first ``use`` of ``n_batches`` micro-batches into a
        store that starts empty, each followed by a refresh. The stream
        is repeated on a fresh store until ``seconds`` have passed and
        ``min_streams`` streams ran; the last store is then compacted."""
        import corpus as C
        import gate
        from job import compact, dir_bytes, fold, isolate, new_store, refresh

        batches = [self.corpus.rows[i::n_batches] for i in range(use)]
        expected = gate.expected_new_shas(batches)
        paths, subsets, seen = [], [], []
        for epoch, rows in enumerate(batches):
            paths.append(os.path.join(self.work, f"batch{epoch}"))
            C.write_parquet(C.Corpus(self.corpus.workload, self.corpus.seed, rows), paths[-1], 2)
            seen = seen + rows
            subsets.append(self.corpus.subset(seen))

        def check(res, epoch):
            errors = gate.check_near(res[1], subsets[epoch], "refresh")
            if res[0] != expected[epoch]:
                errors.append(f"fold: signed {res[0]} contents, expected {expected[epoch]}")
            return errors

        streams, clusters, t = [], [], time.perf_counter()
        while len(streams) < min_streams or time.perf_counter() - t < seconds:
            store = os.path.join(self.work, f"store{len(streams)}")
            isolate(self.spark)
            inc = new_store(store)
            steps = []
            for epoch, path in enumerate(paths):
                def step(path=path, epoch=epoch):
                    new = fold(self.spark, inc, path, epoch, len(batches[epoch]), self.tracer)
                    return new, refresh(self.spark, inc, self.tracer)

                res, dt = self.run.op("fold", step, lambda res, epoch=epoch: check(res, epoch))
                steps.append(dt)
                clusters = res[1] if res else []
            streams.append(steps)
        written = dir_bytes(store)
        self.run.op("compact", lambda: compact(self.spark, inc, store, self.tracer),
                    lambda res: gate.check_compact(res, len(seen)))
        self.record["stream_s"] = streams
        self.record["stream_written_bytes"] = written + dir_bytes(store)
        self.record["stream_new_shas"] = sum(expected)
        self.record["stream_rows"] = len(seen)
        self.record["stream_scores"] = gate.score_near(clusters, subsets[-1])


def stop_jvm() -> None:
    """Shut the Py4J gateway and wait for the JVM, and the Python
    workers it forked, to exit."""
    from pyspark import SparkContext

    from host import descendants

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import rmlint_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from host import RssPoller, bandwidth_mbs
    from job import isolate
    from spans import Tracer, event_log_conf, find_event_log, layer_metrics, read_events

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    # keep every file Spark and Python write inside the checkout, and
    # let the Python workers import the package
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    log_dir = os.path.join(work, "eventlog")

    bw_before = bandwidth_mbs()
    bench = Bench(args, work)
    run, record = bench.run, bench.record
    layers: dict = {}
    try:
        with RssPoller() as rss:
            if args.trace:
                conf = {**conf, **event_log_conf(log_dir)}
                os.makedirs(log_dir)
            record["setup_s"] = bench.start_session(conf)
            bench.tracer = Tracer(bench.spark, enabled=bool(args.trace))
            if args.trace:  # the same layers on either workload's corpus
                bench.batch_leg(0)
                layers.update(bench.traced_replay())
                bench.stream_leg(TRACED_SPLIT, TRACED_MICRO_BATCHES, 1, 0)
            elif args.workload == "near_families":
                bench.batch_leg(args.seconds)
            else:
                bench.stream_leg(STREAM_BATCHES, STREAM_BATCHES, MIN_STREAMS, args.seconds)
            isolate(bench.spark)
            bench.spark.stop()
            bench.spark = None
        record["peak_rss_mb"] = rss.peak_mb
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
    bw_after = bandwidth_mbs()
    record.update({"host.bw_mbs": [bw_before, bw_after], "errors": run.errors,
                   "attempted": run.attempted, "failed": run.failed})

    if args.trace or args.workload == "near_families":
        cold, warm = record["cold_pipeline_s"], statistics.median(record["pipeline_s"])
        recall, precision = record.get("near_scores", (0.0, 0.0))
        written = record.get("written_bytes", 0)
    else:
        # the median of each micro-batch position over the streams (the
        # cold first job left out), averaged over the positions
        streams = record["stream_s"]
        cold = streams[0][0]
        warm = statistics.mean(statistics.median(s[p] for s in (streams[1:] if p == 0 else streams))
                               for p in range(len(streams[0])))
        recall, precision = record["stream_scores"]
        written = record["stream_written_bytes"]
    values = {
        "setup_s": record["setup_s"],
        "cold_pipeline_s": cold,
        "pipeline_s": warm,
        "peak_rss_mb": record["peak_rss_mb"],
        "near_recall": recall,
        "near_precision": precision,
        "written_bytes_per_input_byte": written / bench.corpus.input_bytes,
    }
    if args.trace:
        layers.update(layer_metrics(read_events(find_event_log(log_dir)), bench.tracer.spans))
        layers["trace.driver_gap_total_s"] = sum(layers.get(f"{s}.driver_gap_s", 0.0) for s in SPANS)
        layers["incremental.fold.new_shas_per_row"] = (
            record["stream_new_shas"] / record["stream_rows"])
        layers["host.bw_mbs"] = min(bw_before, bw_after)
        record["layers"] = layers
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    record["end_to_end"] = values

    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    print(f"# {tag}: {len(bench.corpus.rows)} rows, {bench.corpus.input_bytes} input bytes, "
          f"local[{CORES}], host.bw_mbs before {bw_before:.0f} after {bw_after:.0f}")
    print(f"{'failed_share':<40} {run.failed / run.attempted:>14.4f} ratio "
          f"({run.failed} of {run.attempted} operations)")
    for name, unit in END_TO_END.items():
        print(f"{name:<40} {values[name]:>14.4f} {unit}")
    if args.trace:
        for name in sorted(layers):
            print(f"{name:<40} {layers[name]:>14.4f} {PER_LAYER.get(name, '')}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
