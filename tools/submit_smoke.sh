#!/usr/bin/env bash
# Packaged-launch smoke (r14 verdict item 6): prove the engine runs through
# the STANDARD deploy entry — `spark-submit --class graft.Verify` on the
# sbt-packaged jar — not only through sbt runMain with the dev classpath.
#
# What it covers beyond the dev loop:
#   - the published artifact (sbt package) is complete: every class the
#     catalog needs is IN the jar (a missing transitive object fails here,
#     not at a customer);
#   - spark-submit's launcher-provided JVM flags are sufficient: Verify's
#     session init runs KryoProbe, which loudly names the jdk17 --add-opens
#     list if the launcher ever stops providing it (the r13 bare-JVM cliff);
#   - results through the packaged path still hash-match the DuckDB oracle.
#
# Subset: one plain relational agg, the auto-binned range join (custom rule
# probe + rewrite fires in-process), the TIMESTAMP prefix-aggregate collapse,
# a typed-aggregator query (Kryo-registered buffer classes), and the full
# NMEA decode pipeline (Deferred plan + fixture client).
set -euo pipefail
cd "$(dirname "$0")/.."
SUBSET="q1_pricing_summary,range_join_binned,range_agg_ts_auto,heavy_hitters_user,ais_pipeline_decode"
SF_DIR=${SF_DIR:-/root/testdata/sf0.01}
OUT=${1:-/tmp/submit_smoke_out}
sbt -batch package
JAR=target/scala-2.13/redpandaaisdemospark_2.13-0.1.0.jar
test -f "$JAR"
rm -rf "$OUT"
LOG="$OUT.log"
SPARK_GRAFT_VERIFY_ONLY="$SUBSET" /opt/spark/bin/spark-submit \
  --class graft.Verify --master 'local[8]' \
  --conf spark.sql.shuffle.partitions=8 \
  "$JAR" "$SF_DIR" "$OUT" 2>&1 | tee "$LOG"
# Graft.session must keep the launcher's master and confs, not its defaults
grep -qF '[verify] master=local[8] shuffle.partitions=8' "$LOG" || {
  echo "submit_smoke: session did not run on spark-submit's --master" >&2
  exit 1
}
ORACLE_ONLY="$SUBSET" python3 tools/oracle_check.py "$SF_DIR" "$OUT"
echo "submit_smoke: OK ($SUBSET @ $SF_DIR)"
