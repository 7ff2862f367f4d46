#!/usr/bin/env bash
# Compile the program (src/main/scala) and the benchmark (perfbench/src) into
# OUT_DIR/perfbench.jar, with the Scala 2.13 compiler that ships among Spark's
# jars (the same compiler version and classpath the sbt build uses), then
# record OUT_DIR/perfbench.jsa, a JVM class-data-sharing archive of the
# classes a short training run loads, so benchmark runs start faster.
#
#   SPARK_HOME=/path/to/spark perfbench/build.sh OUT_DIR
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
out="$1"
jars="${SPARK_HOME:?set SPARK_HOME to a Spark 4 install}/jars"
if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: no program sources under $root/src/main/scala" >&2
  exit 2
fi
java_bin="${JAVA_HOME:+$JAVA_HOME/bin/}java"
jar_bin="${JAVA_HOME:+$JAVA_HOME/bin/}jar"
rm -rf "$out"
mkdir -p "$out/classes" "$out/train"
find "$root/src/main/scala" "$here/src" -name '*.scala' | sort > "$out/sources.txt"
"$java_bin" -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out/classes" @"$out/sources.txt"
"$jar_bin" cf "$out/perfbench.jar" -C "$out/classes" .
rm -rf "$out/classes" "$out/sources.txt"
# the archive is only valid for this exact class path, which run.py repeats
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
         java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
SPARK_LOCAL_DIRS="$out/train" "$java_bin" -Xss8m -Xmx3g -XX:-UsePerfData "${opens[@]}" \
  -XX:ArchiveClassesAtExit="$out/perfbench.jsa" \
  -Djava.io.tmpdir="$out/train" -Dlog4j2.configurationFile="$here/log4j2.properties" \
  -Dspark.sql.warehouse.dir="$out/train/warehouse" \
  -cp "$out/perfbench.jar:$jars/*" graft.perfbench.Train "$out/train/work" > /dev/null
rm -rf "$out/train"
