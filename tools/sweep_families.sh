#!/usr/bin/env bash
# Family-by-family large-SF Spark sweep, run OUTSIDE sbt (plain java
# against the compiled classes) so an hours-long sweep never contends
# for the sbt project lock with interactive compiles/tests.
#
# ALWAYS snapshot the classpath first and point SWEEP_CLASSES at it:
#   cp -a target/scala-2.13/classes target/sweep_classes   # (rm -rf first)
# A concurrent `sbt compile` rewriting class files under a sweep JVM
# kills its SparkContext mid-family (observed r13: the other20 family
# died at launch with "Cannot call methods on a stopped SparkContext").
#
# Defaults set here for LARGE-SF conditions (override per-invocation):
#   SPARK_GRAFT_REP_GC=1            eager shuffle-file cleanup per query
#                                   (costs sf0.1 wall-clock, saves disk)
#   SPARK_GRAFT_SHUFFLE_PARTITIONS=256  32-way shuffles at sf100 mean
#                                   oversized per-task hash builds —
#                                   r13's q_dedup_clusters "can't
#                                   acquire 1 GiB to build hash
#                                   relation" was a 32-partition run
#
#   tools/sweep_families.sh <sfDir> <tag> [reps]
#
# Writes target/sweep_<tag>_<family>.out/.err (+ _full.json per-query
# record) per family. A family name is passed to Bench as is
# (SPARK_GRAFT_BENCH_ONLY expands it from the registry's families:
# feeder lsh ann graph series text stats); "other20" is a measured set,
# the 20 slowest queries of the committed sf0.1 record outside the
# five families Bench had then.
set -uo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:?sfDir}"
TAG="${2:?tag}"
REPS="${3:-1}"

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

OTHER20="q_jonckheere,q_pca_deflate,q_fuzzy_phone,q_lof,q_bleu,q_bipartite_project,q_greedy_cover,q_matrix_profile,q_abc_xyz,q_perplexity_bucket,q_assoc_rules,q_hyperanf,q_gearys_c,q_brand_triples,q_kneser_ney,q_modularity,q_moran_i,q_caliper_match,q_rich_club,q_lpa_communities"

run_family() {
  local fam="$1" keys="$2"
  echo "=== family $fam start $(date +%T) ==="
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_GRAFT_BENCH_REPS="$REPS" SPARK_GRAFT_PSI_WAIT="${SPARK_GRAFT_PSI_WAIT:-0}" \
  SPARK_GRAFT_REP_GC="${SPARK_GRAFT_REP_GC:-1}" \
  SPARK_GRAFT_SHUFFLE_PARTITIONS="${SPARK_GRAFT_SHUFFLE_PARTITIONS:-256}" \
  SPARK_GRAFT_BENCH_ONLY="$keys" \
  timeout "${SWEEP_FAMILY_TIMEOUT:-18000}" \
    java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-72g}" \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      -cp "${SWEEP_CLASSES:-target/scala-2.13/classes}:/opt/spark/jars/*" graft.Bench \
      > "target/sweep_${TAG}_${fam}.out" 2> "target/sweep_${TAG}_${fam}.err"
  echo "  exit=$? end $(date +%T)"
  cp -f target/bench_full.json "target/sweep_${TAG}_${fam}_full.json" 2>/dev/null || true
  tail -c 1200 "target/sweep_${TAG}_${fam}.out"; echo
}

for fam in ${SWEEP_FAMILIES:-ann series other20 graph lsh}; do
  case "$fam" in
    other20) run_family other20 "$OTHER20" ;;
    *) run_family "$fam" "$fam" ;;
  esac
done
echo "SWEEP_${TAG}_DONE"
