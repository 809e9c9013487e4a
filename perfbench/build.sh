#!/usr/bin/env bash
# Builds the library (src/main/scala) together with the benchmark
# (perfbench/src) from source, using the Scala compiler that ships in
# Spark's jars, into .bench_build/classes. Run from the repository root.
# A build whose sources are unchanged is reused.
set -euo pipefail
if [ -z "${SPARK_HOME:-}" ]; then
  submit=$(command -v spark-submit) || { echo "build: set SPARK_HOME" >&2; exit 2; }
  SPARK_HOME=$(dirname "$(dirname "$(readlink -f "$submit")")")
fi
spark_jars="$SPARK_HOME/jars"
out=.bench_build/classes
if [ ! -d src/main/scala ] || [ ! -d perfbench/src ]; then
  echo "build: src/main/scala or perfbench/src missing; run from the repository root" >&2
  exit 2
fi
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | sort)
stamp=$(sha256sum "${srcs[@]}" | sha256sum | cut -d' ' -f1)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out"
java -XX:-UsePerfData -Xss16m -Xmx2g -cp "$spark_jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out" -classpath "$spark_jars/*" "${srcs[@]}"
echo "$stamp" > "$out/.stamp"
