#!/bin/bash
# Run a graft main class with the same JVM options sbt's `run / fork`
# applies (Spark 4 on JDK 17 needs the add-opens outside spark-submit).
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} \
  -cp "target/scala-2.13/boatetlpysparkspark_2.13-0.1.0.jar:/opt/spark/jars/*" "$@"
