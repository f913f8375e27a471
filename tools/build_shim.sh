#!/bin/sh
# Build the shim jar (the DSv2 remote reader and the dedup kernels) from
# every scala/*.scala file with the scalac BUNDLED in pyspark's jars —
# no network, no sbt resolution. Output:
#   dazzleduck_sql_duckdb_spark/jars/dd_arrow_shim.jar
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SPARK_JARS="$(python3 -c 'import pyspark, os; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"
CP="$(ls "$SPARK_JARS"/*.jar | tr '\n' ':')"
SRCS="$(cd "$REPO/scala" && ls *.scala | LC_ALL=C sort)"
OUT="$(mktemp -d)"
java -cp "$CP" scala.tools.nsc.Main \
  -classpath "$CP" -d "$OUT" $(for f in $SRCS; do printf '%s ' "$REPO/scala/$f"; done)
# short-name lookup (format("dd_arrow_dsv2")) goes through the
# ServiceLoader registry for DataSourceRegister
mkdir -p "$OUT/META-INF/services"
printf 'org.apache.spark.sql.dazzleduck.DdArrowDataSource\n' \
  > "$OUT/META-INF/services/org.apache.spark.sql.sources.DataSourceRegister"
mkdir -p "$REPO/dazzleduck_sql_duckdb_spark/jars"
rm -f "$REPO/dazzleduck_sql_duckdb_spark/jars/dd_arrow_shim.jar"
jar --create --file "$REPO/dazzleduck_sql_duckdb_spark/jars/dd_arrow_shim.jar" \
  -C "$OUT" . 2>/dev/null || (cd "$OUT" && zip -qr "$REPO/dazzleduck_sql_duckdb_spark/jars/dd_arrow_shim.jar" .)
# record the hash of the sources the jar was built from: the sha256 of
# `sha256sum` over scala/*.scala in sorted name order.
# tests/test_dsv2_shim.py fails on drift between any source and the
# committed binary
(cd "$REPO/scala" && sha256sum $SRCS) | sha256sum | cut -d' ' -f1 \
  > "$REPO/dazzleduck_sql_duckdb_spark/jars/dd_arrow_shim.jar.src.sha256"
rm -rf "$OUT"
echo "built: $REPO/dazzleduck_sql_duckdb_spark/jars/dd_arrow_shim.jar"
