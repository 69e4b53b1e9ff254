#!/bin/bash
# Profile pinned builds with GRAFT_BUILD_TIMING. Usage: profile_build.sh [pages] [cpus...]
set -e
PAGES=${1:-300000}
shift || true
CPUS_LIST=${@:-"2 8"}
CP="/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
WORK=/dev/shm/graft-profile
if [ ! -d "$WORK/pages_$PAGES" ]; then
  mkdir -p $WORK
  java $OPENS -Xmx8g -Dspark.ui.enabled=false -cp "$CP" graft.gen.PageGen $WORK/pages_$PAGES $PAGES 2>/dev/null
fi
for C in $CPUS_LIST; do
  rm -rf $WORK/idx_$C $WORK/idx_$C-scratch $WORK/idx_$C-warm
  GRAFT_BUILD_TIMING=1 taskset -c 0-$((C-1)) java -Xms8g -Xmx8g -XX:+AlwaysPreTouch -XX:+UseParallelGC $OPENS -cp "$CP" graft.BenchPhase $WORK/pages_$PAGES $WORK/idx_$C $C 1 2>&1 | grep -E "build-timing|BUILD_SECONDS|TASK_TIME"
done
