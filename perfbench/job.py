"""The jobs under test, driven through the package's public functions.

``batch_job`` is what a user submits: read the ``files`` table, call
``run_pipeline``, write exact clusters as JSON lines, near clusters as
parquet and duplicate directories as JSON lines.

``traced_batch_job`` replays ``run_pipeline`` step by step, in its own
call order, with one span per layer. Each span materialises its layer's
output (persist + count) so the layer's work lands inside the span;
the extra actions are part of the tracing overhead. The correctness
gate requires its outputs to equal ``batch_job``'s, so the replay
cannot drift from the pipeline.

``fold``, ``refresh`` and ``compact`` drive an ``IncrementalNearDup``
store, one micro-batch at a time.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from rmlint_spark.config import EngineConfig
from rmlint_spark.operators.connected_components import connected_components
from rmlint_spark.operators.exact import exact_clusters
from rmlint_spark.operators.lint import KEY
from rmlint_spark.operators.lsh import (
    band_buckets,
    candidate_pairs,
    jaccard_verify,
    row_index,
    with_combined_signatures,
)
from rmlint_spark.operators.rank import tag_originals
from rmlint_spark.operators.simhash_op import simhash_blocks, simhash_candidates
from rmlint_spark.operators.treemerge import duplicate_dirs
from rmlint_spark.plans.pipeline import VERIFY_MARGIN, run_pipeline
from rmlint_spark.sources.sinks import write_json, write_json_dirs
from rmlint_spark.sources.tables import read_files_table
from rmlint_spark.streaming.incremental import IncrementalNearDup

# Width caps scaled to the benchmark's corpus sizes (the library
# defaults, 2000 and 256, are sized for 10^5-10^6 rows): the boilerplate
# slice of the corpus then overflows band and block buckets, so
# the escalation and oversized-report paths run.
CONFIG = EngineConfig(
    max_bucket_width=16,
    lsh_escalate_cap=8,
    simhash_max_bucket_width=4,
    simhash_escalate_cap=2,
)
STORE_PARTITIONS = 4  # hash partitions of the incremental stores


def isolate(spark) -> None:
    """Drop every cached table and persisted RDD a previous job left
    behind, then check none survives."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = [rdds.get(k) for k in rdds.keySet().toArray()]
    for rdd in left:
        rdd.unpersist(True)
    if spark.sparkContext._jsc.getPersistentRDDs().size():
        raise RuntimeError("a persisted relation survived isolation")


def write_outputs(exact, near, dirs, out_dir: str) -> None:
    write_json(exact, os.path.join(out_dir, "exact"))
    near.write.mode("overwrite").parquet(os.path.join(out_dir, "near"))
    write_json_dirs(dirs, os.path.join(out_dir, "dirs"))


def batch_job(spark, files_path: str, out_dir: str) -> None:
    files = read_files_table(spark, files_path)
    res = run_pipeline(files, CONFIG)
    write_outputs(res.exact_clusters, res.near_clusters, duplicate_dirs(files, CONFIG), out_dir)


def _pin(df):
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def traced_batch_job(spark, files_path: str, out_dir: str, tracer) -> dict:
    """Span-by-span replay of ``batch_job``. Returns the layer ratios,
    computed outside every span."""
    with tracer.span("sources.scan") as s:
        files = read_files_table(spark, files_path)
        n_files = s.counts["rows_out"] = files.count()
    with tracer.span("exact.funnel") as s:
        exact = _pin(exact_clusters(files, CONFIG))
        s.counts["rows_in"] = n_files
        n_exact = s.counts["rows_out"] = exact.count()
    with tracer.span("lsh.index") as s:
        idx = _pin(row_index(files))
        s.counts["rows_in"] = n_files
        n_idx = s.counts["rows_out"] = idx.count()
    with tracer.span("lsh.signatures") as s:
        sigs = with_combined_signatures(files, CONFIG, idx=idx).cache()
        s.counts["rows_in"] = n_idx
        n_sigs = s.counts["rows_out"] = sigs.count()
    relaxed = replace(CONFIG,
                      jaccard_threshold=max(0.0, CONFIG.jaccard_threshold - VERIFY_MARGIN))
    with tracer.span("lsh.candidates") as s:
        cand, _ = candidate_pairs(sigs, relaxed)
        cand = _pin(cand)
        s.counts["rows_in"] = n_sigs
        s.counts["rows_out"] = cand.count()
    with tracer.span("simhash_op.candidates") as s:
        sh_cand, _ = simhash_candidates(sigs, CONFIG)
        sh_cand = _pin(sh_cand.select("fid_a", "fid_b"))
        s.counts["rows_in"] = n_sigs
        s.counts["rows_out"] = sh_cand.count()
    with tracer.span("lsh.verify") as s:
        union = _pin(cand.unionByName(sh_cand).dropDuplicates(["fid_a", "fid_b"]))
        n_union = s.counts["rows_in"] = union.count()
        edges = _pin(jaccard_verify(union, sigs, relaxed.jaccard_threshold)
                     .select("fid_a", "fid_b"))
        n_edges = s.counts["rows_out"] = edges.count()
    with tracer.span("connected_components.cc") as s:
        comp = _pin(connected_components(edges))
        s.counts["rows_in"] = n_edges
        s.counts["rows_out"] = comp.count()
    with tracer.span("rank.originals") as s:
        rep_comp = (
            sigs.select("sha", "fid", "n_rows")
            .join(comp, "fid", "left")
            .select("sha", F.coalesce("component", F.when(F.col("n_rows") >= 2, F.col("fid")))
                    .alias("cluster_id"))
            .filter(F.col("cluster_id").isNotNull())
        )
        near = _pin(
            tag_originals(idx.join(rep_comp, "sha", "inner"), CONFIG.rank_criteria)
            .withColumn("cluster_size", F.count("*").over(Window.partitionBy("cluster_id")))
            .select(*KEY, "fid", "cluster_id", "cluster_size", "rank", "is_original")
        )
        s.counts["rows_in"] = n_idx
        s.counts["rows_out"] = near.count()
    with tracer.span("treemerge.dirs") as s:
        dirs = _pin(duplicate_dirs(files, CONFIG))
        s.counts["rows_in"] = n_files
        s.counts["rows_out"] = dirs.count()
    with tracer.span("sinks.write") as s:
        write_outputs(exact, near, dirs, out_dir)

    def over_cap(buckets, keys, cap):
        widths = buckets.groupBy(*keys).count()
        row = widths.agg(F.sum((F.col("count") > cap).cast("int")).alias("n"),
                         F.max("count").alias("w")).collect()[0]
        return int(row["n"] or 0), int(row["w"] or 0)

    lsh_over, lsh_w = over_cap(band_buckets(sigs, relaxed), ["band_id", "band_hash"],
                               relaxed.max_bucket_width)
    sh_over, sh_w = over_cap(simhash_blocks(sigs, CONFIG), ["block_id", "block_value"],
                             CONFIG.simhash_max_bucket_width)
    return {
        "lsh.signatures.reps_per_row": n_sigs / n_idx,
        "lsh.verify.yield": n_edges / max(1, n_union),
        "lsh.candidates.oversized": lsh_over,
        "lsh.candidates.max_width": lsh_w,
        "simhash_op.candidates.oversized": sh_over,
        "simhash_op.candidates.max_width": sh_w,
        "exact.funnel.clustered_share": n_exact / n_files,
    }


def new_store(store_dir: str) -> IncrementalNearDup:
    return IncrementalNearDup(store_dir, CONFIG, n_partitions=STORE_PARTITIONS)


def fold(spark, inc: IncrementalNearDup, path: str, epoch: int, n_rows: int, tracer) -> int:
    """Fold one micro-batch; returns how many new contents it signed."""
    batch = spark.read.parquet(path)
    with tracer.span("incremental.fold") as s:
        inc.process_batch(batch, epoch)
    s.counts["rows_in"] = n_rows
    s.counts["rows_out"] = inc.last_stats.get("new_shas", 0)
    return s.counts["rows_out"]


def refresh(spark, inc: IncrementalNearDup, tracer) -> list[dict]:
    """Materialise the current clusters and bring them to the driver."""
    with tracer.span("incremental.refresh") as s:
        snapshot = inc.current_clusters(spark)
    rows = [r.asDict() for r in snapshot.collect()]
    s.counts["rows_out"] = len(rows)
    return rows


def compact(spark, inc: IncrementalNearDup, store_dir: str, tracer) -> dict:
    """Compact every store; returns store row counts before and after."""
    before = store_rows(store_dir)
    with tracer.span("incremental.compact"):
        inc.compact(spark)
    return {"before": before, "after": store_rows(store_dir)}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def store_rows(store_dir: str) -> dict[str, int]:
    """Row count of each store under ``store_dir``, read with pyarrow
    (not Spark)."""
    import pyarrow.dataset as ds

    return {
        name: ds.dataset(os.path.join(store_dir, name), partitioning="hive").count_rows()
        for name in sorted(os.listdir(store_dir))
        if os.path.isdir(os.path.join(store_dir, name))
    }
