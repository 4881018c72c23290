#!/usr/bin/env bash
# Builds the program (the repository's main Scala sources) together with
# the benchmark harness into one class directory, using the Scala compiler
# that ships in Spark's jars. Usage: perfbench/build.sh <out-dir>
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$1"
jars="${SPARK_HOME:-/opt/spark}/jars"
[ -d "$root/src/main/scala" ] || { echo "no program sources under $root/src/main/scala" >&2; exit 2; }
mapfile -t srcs < <(find "$root/src/main/scala" "$root/perfbench/src" -name '*.scala' | sort)
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
java -Xss8m -Xmx2g -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -usejavacp -nowarn \
  -d "$out.tmp" "${srcs[@]}"
rm -rf "$out"
mv "$out.tmp" "$out"
