#!/usr/bin/env bash
# Builds the engine (src/main/scala) and the benchmark (htabench/src) from
# source with the Scala compiler that ships in the Spark distribution's
# jars, into .bench_build/classes. Skips the compile when no source changed.
# Usage, from the repository root: bash htabench/build.sh
set -euo pipefail
cd "$(dirname "$0")/.."
out=.bench_build
[ -d src/main/scala ] || { echo "build.sh: no engine sources under src/main/scala" >&2; exit 2; }
# the Spark jars: $SPARK_HOME's, else those of a spark-submit on PATH; the
# run reads the choice from $out/spark-jars
jars=""
for submit in ${SPARK_HOME:+"$SPARK_HOME/bin/spark-submit"} $(type -ap spark-submit); do
  dir="$(dirname "$(dirname "$(readlink -f "$submit")")")/jars"
  if compgen -G "$dir/spark-core_*.jar" > /dev/null; then jars="$dir"; break; fi
done
[ -n "$jars" ] || { echo "build.sh: no Spark distribution; set SPARK_HOME" >&2; exit 2; }
mkdir -p "$out"
echo "$jars" > "$out/spark-jars"
mapfile -t srcs < <(find src/main/scala htabench/src -name '*.scala' | sort)
stamp=$(cat "${srcs[@]}" | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then exit 0; fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
cp=$(printf '%s:' "$jars"/*.jar)
java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$cp" scala.tools.nsc.Main -nowarn \
  -d "$out/classes" -classpath "$cp" "${srcs[@]}"
echo "$stamp" > "$out/stamp"
