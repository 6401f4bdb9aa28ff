#!/bin/bash
# Scale-bench launcher (round-14 method, see bench-method in memory):
# plain-java run on a snapshotted class tree so sbt never holds the
# lock or steals CPU from a timing pass.
#   usage: run_scale_bench.sh <classes_dir> <sf_dir> <out_json> [only]
# Cores default to every core of the host (SPARK_GRAFT_CPUS overrides);
# the heap to half the host's memory, clamped to 2-8 GB
# (SPARK_DRIVER_MEM overrides).
set -e
CLASSES="$1"; SFDIR="$2"; OUT="$3"; ONLY="${4:-}"
AO="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
# Bench-hygiene guard (r18 verdict item 2): a timed pass that shares
# the host with another JVM (an sbt test run, another bench) produces
# numbers that need footnotes. Refuse to start when other JVMs are
# live unless SPARK_GRAFT_ALLOW_CONCURRENT=1 — in which case the run
# proceeds and Bench stamps the contamination into every artifact's
# concurrent_load field anyway.
OTHER_JVMS=$(pgrep -c java 2>/dev/null || true)
if [ "${OTHER_JVMS:-0}" -gt 0 ] && [ "${SPARK_GRAFT_ALLOW_CONCURRENT:-0}" != "1" ]; then
  echo "refusing: $OTHER_JVMS other JVM(s) live (pgrep java):" >&2
  pgrep -a java >&2 || true
  echo "set SPARK_GRAFT_ALLOW_CONCURRENT=1 to run anyway (stamped)." >&2
  exit 3
fi
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo)}
export SPARK_GRAFT_SF_DIR="$SFDIR"
export SPARK_GRAFT_BENCH_OUT="$OUT"
[ -n "$ONLY" ] && export SPARK_GRAFT_BENCH_ONLY="$ONLY"
exec java $AO -Xmx$HEAP -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" graft.Bench
