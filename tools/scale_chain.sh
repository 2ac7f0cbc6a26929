#!/bin/bash
# Serial 10x/100x ScaleCheck arms: one ScaleCheck run per case argument,
# each appending its rows to SCALE.md in the repo root. Run it with nothing
# else on the machine (the timings need an uncontended box) and after a
# compile (the JVMs load classes from target/scala-2.13/classes).
#
#   SPARK_GRAFT_SF_DIR=<corpus dir, sf0.1 for SCALE.md rows> \
#     tools/scale_chain.sh <case>...
set -e -o pipefail
: "${SPARK_GRAFT_SF_DIR:?set SPARK_GRAFT_SF_DIR to the corpus dir}"
: "${SPARK_HOME:?set SPARK_HOME to the Spark installation}"
[ $# -gt 0 ] || { echo "usage: tools/scale_chain.sh <case>..." >&2; exit 2; }
cd "$(dirname "$0")/.."
J=(java
  --add-opens=java.base/java.lang=ALL-UNNAMED
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens=java.base/java.io=ALL-UNNAMED
  --add-opens=java.base/java.net=ALL-UNNAMED
  --add-opens=java.base/java.nio=ALL-UNNAMED
  --add-opens=java.base/java.util=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens=java.base/sun.security.action=ALL-UNNAMED
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx16g -Xss32m
  -cp "target/scala-2.13/classes:$SPARK_HOME/jars/*")

for c in "$@"; do
  echo "=== 10x/100x arms: $c"
  SPARK_GRAFT_SCALE_FACTORS=10,100 SPARK_GRAFT_SCALE_CASES="$c" \
    SPARK_GRAFT_SCALE_APPEND=1 "${J[@]}" graft.ScaleCheck 2>&1 | { grep -E "^\[scale\]|wrote" || true; }
done
echo "=== chain done"
