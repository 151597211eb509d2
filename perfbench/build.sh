#!/usr/bin/env bash
# Build file of the benchmark: compiles the program (src/main/scala) together with the
# harness (perfbench/src) into perfbench/out/classes, using the Scala compiler that
# ships with the Spark distribution the program runs on.
# Usage: bash perfbench/build.sh <spark jars dir>   (run.py passes $SPARK_HOME/jars)
set -euo pipefail
cd "$(dirname "$0")/.."
jars="$1"
out=perfbench/out/classes
if [ ! -d src/main/scala/graft ]; then
  echo "perfbench/build.sh: program sources src/main/scala/graft not found" >&2
  exit 2
fi
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > perfbench/out/sources.txt
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir=perfbench/out -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -cp "$jars/*" @perfbench/out/sources.txt
rm -rf "$out"
mv "$out.tmp" "$out"
