#!/usr/bin/env bash
# Cluster launch shapes for the engine's job entries (the sandbox has no
# cluster — local[N] stands in; these are the spark-submit forms the code is
# written for). The north rule's two-size scaling evidence maps to running
# the SAME command at --num-executors N and 4N and comparing docs/sec.
set -euo pipefail

JAR=target/scala-2.13/carmenspark_2.13-0.1.0.jar
SF_DIR=${SF_DIR:-s3://bucket/pages}     # pages/feature tables (parquet/Iceberg)
OUT=${OUT:-s3://bucket/graft_out}
N=${N:-250}                              # executors; run again with 4N=1000

COMMON=(
  --deploy-mode cluster
  --num-executors "$N"
  --executor-cores 4
  --executor-memory 16g
  --conf spark.sql.shuffle.partitions=$((N * 8))        # ~2x total cores
  --conf spark.sql.adaptive.enabled=true                 # AQE re-plan + skew-join
  --conf spark.sql.adaptive.skewJoin.enabled=true
  --conf spark.sql.files.maxPartitionBytes=134217728     # 128 MiB splits
  --conf spark.sql.extensions=graft.plans.GraftExtensions
  --conf spark.sql.session.timeZone=UTC
)

# Resumable forward geocode (per-Hilbert-range checkpoints + lineage):
spark-submit --class graft.jobs.ForwardJob "${COMMON[@]}" "$JAR" "$SF_DIR" "$OUT/forward"

# Same job with ATOMIC publish: ranges stage under $OUT/forward_staging,
# and completion commits ONE TableIO snapshot at $OUT/forward_table —
# consumers (TableIO.readCurrent) never observe a partial corpus; a killed
# run resumes its staging and publishes when complete. Library call:
#   ForwardJob.runPublished(spark, sfDir, s"$OUT/forward_staging",
#                           s"$OUT/forward_table")

# Grid-index build (Hilbert-range-partitioned sorted table + freq table)
# runs through graft.index.IndexBuild.build from a small driver class of
# your own; the library call is:
#   IndexBuild.build(spark, features, docs, z = 12, outDir, numRanges = N * 4)
