# Sourced by the launchers in this directory: sets ADD_OPENS to the
# --add-opens flags a SparkSession needs on JDK 17 (the list build.sbt
# passes to forked runs as jdk17AddOpens).
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
