#!/usr/bin/env bash
# Builds the program and the benchmark harness from source into one jar,
# .bench_build/graft.jar, with the Scala compiler that ships among Spark's
# jars. The JVM's class-data sharing archive, which perfbench/run.py dumps
# on the first run after a build, is removed with the old jar.
#
#   perfbench/build.sh
#
# Run from the repository root with SPARK_JARS (Spark's jar directory) or
# SPARK_HOME set; perfbench/run.py sets SPARK_JARS.
set -euo pipefail
out=.bench_build
jars="${SPARK_JARS:-${SPARK_HOME:?set SPARK_JARS or SPARK_HOME}/jars}"
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$out/classes.tmp" @"$out/sources.txt"
rm -f "$out/sources.txt"
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out/classes.tmp/"; fi
rm -f "$out/graft.jar" "$out/classes.jsa"
jar cf "$out/graft.jar" -C "$out/classes.tmp" .
rm -rf "$out/classes.tmp"
