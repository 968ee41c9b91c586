#!/bin/bash
# Local single-query bench: tools/bench.sh q36 [q25 ...]
# Decomposing a run (docs/PERF.md "Decomposing a run"): add
#   -Dspark.extraListeners=graft.util.JobTraceListener
# (one line per Spark job with its graft.span path) and a log4j2 config
# that sets the graft.span logger to INFO,
#   -Dlog4j2.configurationFile=<file> with
#   logger.span.name = graft.span / logger.span.level = info
# to the java line below; span and job lines then go to stderr.
OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx${SPARK_DRIVER_MEM:-16g} \
  -cp /root/repo/target/scala-2.13/classes:"/opt/spark/jars/*" ${GRAFT_MAIN:-graft.Bench} "$@"
