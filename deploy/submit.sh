#!/bin/sh
# spark-submit wrapper for the streaming transfer engine (StreamMain) —
# the reference's `python -m etl.main [topic] [group] [servers]` surface
# (main.py:33-106) carried over verbatim: positional AND --flag forms,
# flags win, --env-file, -v.
#
# On a real cluster the Kafka connector ships via --packages (the build
# sandbox is zero-egress, so the jar is not vendored here); the engine's
# source/sink seam (graft.streaming.StreamConnector) then makes Kafka a
# pure config swap — pass KafkaJobSource/KafkaDlqSink in StreamMain's
# wiring or run the file-stand-in mode as-is.
#
# Executors replace the reference's supervisord consumer fan-out:
# size --num-executors x --executor-cores >= topic partitions (O3).

SPARK_HOME="${SPARK_HOME:-/opt/spark}"
JAR="${GRAFT_JAR:-target/scala-2.13/etlfilesyncspark_2.13-0.1.0.jar}"
SPARK_VERSION="${SPARK_VERSION:-4.0.0}"

exec "$SPARK_HOME/bin/spark-submit" \
  --class graft.streaming.StreamMain \
  --master "${SPARK_MASTER:-local[4]}" \
  --packages "org.apache.spark:spark-sql-kafka-0-10_2.13:${SPARK_VERSION}" \
  --conf spark.sql.shuffle.partitions="${GRAFT_SHUFFLE_PARTITIONS:-32}" \
  --conf spark.sql.session.timeZone=UTC \
  "$JAR" "$@"
