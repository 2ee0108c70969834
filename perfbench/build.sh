#!/usr/bin/env bash
# Build the benchmark: compile the program (src/main/scala) and the
# benchmark sources (perfbench/src) with the Scala compiler that ships in
# the Spark jars, into one class directory.
#
# Usage: perfbench/build.sh <outDir> <sparkJarDir>   (run from the repository root)
set -euo pipefail
out=${1:?usage: perfbench/build.sh <outDir> <sparkJarDir>}
jars="${2:?usage: perfbench/build.sh <outDir> <sparkJarDir>}/*"
tmp="$out.tmp"
rm -rf "$tmp"
mkdir -p "$tmp"
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | sort)
java -Xss8m -Xmx2g -cp "$jars" scala.tools.nsc.Main -nowarn \
  -d "$tmp" -cp "$jars" "${srcs[@]}"
rm -rf "$out"
mv "$tmp" "$out"
