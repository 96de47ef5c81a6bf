#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main/scala) and the
# benchmark's JVM side (perfbench/scala) into $CARGO_TARGET_DIR/classes
# (default .bench_build/classes) with the Scala compiler that ships in
# Spark's jar directory. Spark is found through SPARK_HOME, else through
# spark-submit on PATH. The compile is skipped when the sources' content
# hash matches the last successful build.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="${CARGO_TARGET_DIR:-.bench_build}"
case "$out" in /*) ;; *) out="$root/$out" ;; esac
spark_home="${SPARK_HOME:-}"
if [ -z "$spark_home" ] && command -v spark-submit >/dev/null; then
  spark_home="$(cd "$(dirname "$(command -v spark-submit)")/.." && pwd)"
fi
jars="$spark_home/jars"
[ -d "$jars" ] || { echo "build: no Spark jars (set SPARK_HOME)" >&2; exit 2; }
[ -d "$root/src/main/scala" ] || { echo "build: no engine sources at src/main/scala" >&2; exit 2; }
mapfile -t srcs < <(find "$root/src/main/scala" "$root/perfbench/scala" -name '*.scala' | sort)
stamp="$(cat "${srcs[@]}" | sha256sum | cut -d' ' -f1)"
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -cp "$jars/*" "${srcs[@]}"
echo "$stamp" > "$out/classes.stamp"
echo "$jars" > "$out/jars.path"
