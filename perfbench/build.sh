#!/usr/bin/env bash
# Compiles the program (src/main/scala) together with the benchmark
# (perfbench/scala) into the class directory given as $1, against the
# Spark distribution's jars ($SPARK_HOME/jars, which include the Scala
# compiler). Skips the compile when the sources have not changed.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
out="$(realpath -m "$1")"
jars="${SPARK_HOME:-/opt/spark}/jars"
if [ ! -d "$root/src/main/scala" ]; then
  echo "build: no program sources under src/main/scala" >&2
  exit 2
fi
mapfile -t srcs < <(find "$root/src/main/scala" "$root/perfbench/scala" -name '*.scala' | sort)
stamp="$(cat "${srcs[@]}" | sha256sum | cut -c1-32)"
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
# Run from the empty output directory: scalac puts "." on its class path.
(cd "$out.tmp" && java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main \
  -usejavacp -nowarn -d "$out.tmp" "${srcs[@]}")
echo "$stamp" > "$out.tmp/.stamp"
rm -rf "$out"
mv "$out.tmp" "$out"
