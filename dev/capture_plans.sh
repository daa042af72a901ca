#!/bin/bash
# Capture .explain("formatted") of the named queries in the session Bench
# runs (graft.LocalSession: SPARK_GRAFT_CPUS cores and shuffle partitions,
# default 4; UTC; UI off), so two trees can be compared plan for plan.
# Usage: capture_plans.sh <tree-dir> <out-dir> <suffix> <sf-dir> <query>...
#   tree-dir must be compiled (target/scala-2.13/classes); suffix is
#   before|after; writes <out-dir>/<query>_<suffix>.txt. Stores and spark
#   scratch go to <out-dir>/.tmp, and the written plans name the scratch
#   and data directories <tmp> and <sf>.
# Compare: normalise the per-JVM counters (expression, plan and RDD ids),
# source line numbers and the store directories' code salt, then diff:
#   sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g; s/RDD\[[0-9]+\]/RDD[N]/g;
#           s/\.scala:[0-9]+/.scala:N/g; s/_[0-9a-f]{12}\//_SALT\//g'
set -e
TREE=$(cd "$1" && pwd); OUT=$(mkdir -p "$2" && cd "$2" && pwd); SUF=$3
SF=$(cd "$4" && pwd); shift 4
CPUS=${SPARK_GRAFT_CPUS:-4}
mkdir -p "$OUT/.tmp"
cd "$TREE"
"${SPARK_HOME:+$SPARK_HOME/bin/}spark-shell" --master "local[$CPUS]" \
  --driver-memory "${SPARK_DRIVER_MEM:-4g}" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.session.timeZone=UTC --conf spark.ui.enabled=false \
  --conf spark.local.dir="$OUT/.tmp" \
  --driver-java-options "-Djava.io.tmpdir=$OUT/.tmp" \
  --driver-class-path "$TREE/target/scala-2.13/classes" 2>/dev/null <<EOF
"$*".split(" ").foreach { n =>
  try {
    val plan = graft.SparkEntry.queries(n)(spark, "$SF").queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val w = new java.io.PrintWriter(s"$OUT/\${n}_$SUF.txt", "UTF-8")
    try w.println(plan) finally w.close()
    println(s"[plans] wrote \$n")
  } catch { case e: Throwable => println(s"[plans] \$n FAILED: \$e") }
}
System.exit(0)
EOF
rm -rf "$OUT/.tmp"
SFKEY=$(echo "$SF" | sed 's#[/.]#_#g')
sed -i "s#$OUT/.tmp#<tmp>#g; s#$SF#<sf>#g; s#$SFKEY#_sf#g" "$OUT"/*_"$SUF".txt
