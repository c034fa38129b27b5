#!/usr/bin/env bash
# Build logsight_filebeat_spark/jvm/localfs.jar from NioLocalFileSystem.java
# against the jars of the installed pyspark. Needs a JDK 17+ (javac, jar).
# The jar is committed, so Spark hosts need only a JRE; rebuild it after
# editing the source (tests/test_localfs.py checks that the two agree).
#
#   tools/build_localfs_jar.sh
set -euo pipefail

repo="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
src="$repo/logsight_filebeat_spark/jvm/NioLocalFileSystem.java"
out="$repo/logsight_filebeat_spark/jvm/localfs.jar"
jars="$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"

classes="$(mktemp -d)"
trap 'rm -rf "$classes"' EXIT
javac --release 17 -Xlint:all,-path -Werror -cp "$jars/*" -d "$classes" "$src"
# a fixed entry date, so rebuilding unchanged classes gives the same jar
jar --create --date=2026-01-01T00:00:00Z --file "$out" -C "$classes" .
echo "wrote $out ($(wc -c < "$out") bytes)"
