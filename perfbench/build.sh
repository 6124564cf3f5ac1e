#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) and
# perfbench.Main (perfbench/scala) into .bench_build/classes with the
# Scala compiler that ships in the Spark jars directory, and records that
# directory in .bench_build/spark-jars for the launcher. No sbt, no
# dependency resolution. Skips the compile when no source changed.
#
# The Spark jars directory is $SPARK_JARS_DIR if set, else the
# `unmanagedBase` that build.sbt declares, else $SPARK_HOME/jars.
#
# usage: bash perfbench/build.sh      (from the repository root)
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$root/.bench_build/classes"
if [ ! -d "$root/src/main/scala" ]; then
  echo "perfbench: engine sources not found at $root/src/main/scala" >&2
  exit 1
fi
jars="${SPARK_JARS_DIR:-}"
if [ -z "$jars" ] && [ -f "$root/build.sbt" ]; then
  jars=$(sed -n 's/^unmanagedBase := file("\(.*\)").*$/\1/p' "$root/build.sbt")
fi
if [ -z "$jars" ] && [ -n "${SPARK_HOME:-}" ]; then
  jars="$SPARK_HOME/jars"
fi
if ! ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "perfbench: no Scala compiler in $jars" >&2
  exit 1
fi
srcs=$(cd "$root" && find src/main/scala perfbench/scala -name '*.scala' | LC_ALL=C sort)
stamp=$(cd "$root" && cat $srcs | sha256sum | cut -d' ' -f1)
mkdir -p "$root/.bench_build"
echo "$jars" > "$root/.bench_build/spark-jars"
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
(cd "$root" && java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -d "$out.tmp" -classpath "$jars/*" $srcs)
echo "$stamp" > "$out.tmp/.stamp"
rm -rf "$out"
mv "$out.tmp" "$out"
