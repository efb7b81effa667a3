"""The traced run's per-layer ledger.

After the traced workload operation, the same fixed probes run in every
workload, so both traced runs report the same metrics:

- ``kernels`` (L0): ``segment_kernel`` + ``mention_kernel`` in pandas in
  this process, no Spark, on a fixed slice (the first part file of the
  full table).
- ``pipeline.front`` (L1): ``fused_mentions_of`` -> ``noop`` sink.
- ``pipeline.{entities,links,canonicalize,triples}`` (L2): the stage
  functions composed as ``run_pipeline`` composes them, each stage
  materialized in its own span over the fused front end's parquet.
- ``pipeline.sink`` (L4): ``write_triples`` of the materialized triples.
- ``lineage``: the workload's checkpointed operation
  (``build_checkpointed``), or one checkpointed build of the small table
  for the ledger (``build_lazy``).

The pipeline probes run on the full table in both workloads. Their
triples (the stage functions composed as ``run_pipeline`` composes them)
and the ledger's checkpointed build are checked against the seed's
digests like any operation.

Engine task metrics come from Spark's event log after the session stops
(:mod:`spans`). The spans and totals are written to
``_work/ledger-<workload>-<seed>.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

from measure import digest, du
from spans import attribute, read_event_log

STAGES = ("segments", "mentions", "entities_aliases", "links",
          "entities_canon", "triples")


def _kernels(path: str) -> dict:
    import pandas as pd

    from cosmos_spark import kernels as K

    pdf = pd.read_parquet(path)
    pdf["content_sha256"] = [hashlib.sha256(c.encode("utf-8")).hexdigest()
                             for c in pdf["content"]]
    seg_s, men_s = [], []
    for _ in range(3):
        t = time.monotonic()
        seg = K.segment_kernel(pdf)
        seg_s.append(time.monotonic() - t)
        t = time.monotonic()
        K.mention_kernel(seg)
        men_s.append(time.monotonic() - t)
    seg_m, men_m = statistics.median(seg_s), statistics.median(men_s)
    return {"kernels.segment_s": (seg_m, "s"),
            "kernels.mention_s": (men_m, "s"),
            "kernels.files_per_s": (len(pdf) / (seg_m + men_m), "files/s")}


def _pipeline(run, d: str) -> dict:
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    from cosmos_spark import pipeline as P

    spark, tr, src = run.spark, run.tr, run.tables["full"]
    obs = Observation("front")
    with tr.span("pipeline.front"):
        (P.fused_mentions_of(src)
         .observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.format("noop").mode("overwrite").save())
    rows = {"front": obs.get["rows"]}

    fused_dir = os.path.join(d, "fused")
    with tr.span("pipeline.fused_write"):
        P.fused_mentions_of(src).write.parquet(fused_dir)
    fused = spark.read.parquet(fused_dir)
    mentions = fused.filter(F.col("mention_kind") != P.SEG_MARKER)
    markers = fused.filter(F.col("mention_kind") == P.SEG_MARKER)
    with tr.span("pipeline.entities"):
        entities = P.entities_of(mentions).persist()
        rows["entities"] = entities.count()
    with tr.span("pipeline.links"):
        links = P.link_mentions(mentions, P.aliases_of(entities)).persist()
        rows["links"] = links.count()
    with tr.span("pipeline.canonicalize"):
        canon = P.canonicalize(entities).persist()
        rows["canonicalize"] = canon.count()
    tri_dir = os.path.join(d, "triples")
    with tr.span("pipeline.triples"):
        P.triples_of(markers, mentions, links, canon).write.parquet(tri_dir)
    triples = spark.read.parquet(tri_dir)
    rows["triples"] = triples.count()
    same_as = triples.filter(F.col("pred") == "same_as").count()
    sink_dir = os.path.join(d, "sink")
    with tr.span("pipeline.sink"):
        P.write_triples(triples, sink_dir)
    spark.catalog.clearCache()
    return {"rows": rows, "same_as": same_as, "sink_dir": sink_dir,
            "digest": digest(spark.read.parquet(sink_dir))}


def _lineage(run, rec: dict, checks) -> dict:
    import pyspark.sql.functions as F

    from cosmos_spark.plans.lineage import Checkpointer

    if "checkpointer" not in rec:
        rec = run.op("build_checkpointed", "small", "lineage")
        checks.check("small", "build_checkpointed", rec["digest"])
    walls = {r["stage"]: r["w"] for r in rec["checkpointer"].lineage()
             .groupBy("stage").agg(F.max("wall_ms").alias("w")).collect()}
    ck = Checkpointer(run.spark, os.path.join(run.dir, "fp"), "fp")
    src = run.tables["full"].withColumn(
        "content_sha256", F.sha2(F.col("content"), 256))
    with run.tr.span("lineage.fingerprint"):
        ck.fingerprint_source(src)
    out = {f"lineage.{s}.wall_s": (walls[s] / 1000.0, "s") for s in STAGES}
    out.update({
        "lineage.fingerprint_s": (run.tr.wall("lineage.fingerprint"), "s"),
        "lineage.bytes_written": (du(rec["wd"])[0], "B"),
        "lineage.stages_recomputed": (rec["recomputed"], "count"),
    })
    return out


def ledger(run, rec: dict, e2e: dict, checks) -> dict:
    """Run the probes, stop the session, attribute the event log and
    return the per-layer metrics (name -> (value, unit))."""
    probe_dir = os.path.join(run.dir, "probe")
    metrics = {f"traced.{k}": v for k, v in e2e.items()
               if k in ("setup_s", "triples_per_s", "resume_s")}
    metrics["session.start_s"] = (run.tr.wall("session"), "s")
    metrics.update(_kernels(os.path.join(run.data, "full",
                                         "part-000.parquet")))
    pipe = _pipeline(run, probe_dir)
    checks.check("full", "pipeline_probe", pipe["digest"])
    metrics.update(_lineage(run, rec, checks))
    run.spark.stop()

    jobs = read_event_log(run.event_dir)
    tot = attribute(run.tr.spans, jobs)
    front = tot["pipeline.front"]
    metrics.update({
        "pipeline.front.wall_s": (run.tr.wall("pipeline.front"), "s"),
        "pipeline.front.task_s": (front["task_s"], "s"),
        "pipeline.front.jvm_cpu_s": (front["jvm_cpu_s"], "s"),
        "pipeline.front.python_s": (front["task_s"] - front["jvm_cpu_s"],
                                    "s"),
        "pipeline.front.rows_out": (pipe["rows"]["front"], "rows"),
    })
    for stage in ("entities", "links", "canonicalize", "triples"):
        metrics[f"pipeline.{stage}.wall_s"] = (
            run.tr.wall(f"pipeline.{stage}"), "s")
        metrics[f"pipeline.{stage}.rows_out"] = (pipe["rows"][stage], "rows")
    metrics["pipeline.triples.shuffle_bytes"] = (
        tot["pipeline.triples"]["shuffle_bytes"], "B")
    metrics["pipeline.canonicalize.same_as_rows"] = (pipe["same_as"], "rows")
    sink_bytes, sink_files = du(pipe["sink_dir"])
    metrics.update({
        "pipeline.sink.wall_s": (run.tr.wall("pipeline.sink"), "s"),
        "pipeline.sink.shuffle_bytes": (
            tot["pipeline.sink"]["shuffle_bytes"], "B"),
        "pipeline.sink.bytes_written": (sink_bytes, "B"),
        "pipeline.sink.files_written": (sink_files, "count"),
    })
    op = tot[rec["tag"]]
    metrics.update({
        "spark.jobs": (op["jobs"], "count"),
        "spark.tasks": (op["tasks"], "count"),
        "spark.gc_s": (op["gc_s"], "s"),
        "spark.spill_bytes": (op["spill_bytes"], "B"),
    })
    name = f"ledger-{run.args.workload}-{run.args.seed}.json"
    with open(os.path.join(os.path.dirname(run.dir), name), "w") as f:
        json.dump({"spans": run.tr.spans, "totals": tot}, f, indent=1)
    return metrics
