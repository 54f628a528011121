#!/usr/bin/env bash
# Build file of the benchmark package: compiles the engine (src/main/scala)
# together with the benchmark driver (perfbench/src), with the Scala compiler
# that ships among the Spark jars ($SPARK_HOME/jars), into
# <out>/graft-bench.jar.
#
# Usage, from the repository root:  SPARK_HOME=<spark> bash perfbench/build.sh <out_dir>
set -euo pipefail
jars="$SPARK_HOME/jars"
out="$1"
mkdir -p "$out/classes"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -deprecation:false \
  -d "$out/classes" -classpath "$jars/*" "@$out/sources.txt"
jar cf "$out/graft-bench.jar" -C "$out/classes" .
rm -rf "$out/classes"
