#!/usr/bin/env bash
# Build file of the benchmark: compiles the program's main sources together
# with the harness (bench/src) into .bench_build/classes, using the Scala
# compiler that ships in Spark's jars directory. Skips the compile when the
# sources are unchanged since the last build.
set -euo pipefail
root="$(cd "$(dirname "$0")/.." && pwd)"
spark_home="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
jars="$spark_home/jars"
out="$root/.bench_build/classes"
[ -d "$root/src/main/scala" ] || { echo "build.sh: no program sources at $root/src/main/scala" >&2; exit 1; }
mapfile -t srcs < <(find "$root/src/main/scala" "$root/bench/src" -name '*.scala' | sort)
stamp="$(cat "${srcs[@]}" | sha1sum | cut -d' ' -f1)"
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then exit 0; fi
rm -rf "$out"
mkdir -p "$out"
java -XX:-UsePerfData -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn -d "$out" -classpath "$jars/*" "${srcs[@]}"
echo "$stamp" > "$out/.stamp"
