#!/usr/bin/env bash
# Build file of the benchmark: compiles the engine (src/main) and the
# benchmark (perfbench/src) with the Scala compiler that ships among
# Spark's jars, into <out>/engine and <out>/bench. Each step is skipped
# when a hash of its sources matches the last build.
#
# Usage, from the repository root:  SPARK_HOME=... bash perfbench/build.sh <out>
set -euo pipefail

out=${1:?usage: build.sh <out-dir>}
[ -d src/main/scala ] || { echo "build.sh: no src/main/scala here" >&2; exit 2; }
jars="${SPARK_HOME:?build.sh: set SPARK_HOME to the Spark installation}/jars"
[ -d "$jars" ] || { echo "build.sh: no Spark jars at $jars" >&2; exit 2; }
compiler=$(ls "$jars"/scala-compiler-2.13*.jar "$jars"/scala-library-2.13*.jar \
  "$jars"/scala-reflect-2.13*.jar | paste -sd: -)

sources_hash() { find "$@" -type f | LC_ALL=C sort | xargs sha1sum | sha1sum | cut -c1-40; }

# compile <name> <classpath> <extra stamp key> <source dirs...>
compile() {
  local name=$1 cp=$2 key=$3; shift 3
  local dest="$out/$name" stamp
  stamp="$(sources_hash "$@")$key"
  if [ -f "$dest/.stamp" ] && [ "$(cat "$dest/.stamp")" = "$stamp" ]; then return 0; fi
  rm -rf "$dest"; mkdir -p "$dest"
  echo "build.sh: compiling $name" >&2
  java -Xmx2g -Xss8m -XX:-UsePerfData -cp "$compiler" scala.tools.nsc.Main -nowarn -d "$dest" \
    -cp "$cp" $(find "$@" -name '*.scala' | LC_ALL=C sort)
  echo "$stamp" > "$dest/.stamp"
}

compile engine "$jars/*" "" src/main/scala
if [ -d src/main/resources ]; then cp -r src/main/resources/. "$out/engine/"; fi
# the benchmark is rebuilt whenever the engine it links against changes
compile bench "$out/engine:$jars/*" "-$(cat "$out/engine/.stamp")" perfbench/src
