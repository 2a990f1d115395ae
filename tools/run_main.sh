#!/bin/bash
# Run a graft main class outside sbt (so sbt stays free for tests).
# Usage: tools/run_main.sh <MainClass> [args...]   (env vars pass through)
# Needs the full Spark --add-opens set: sbt adds these silently; without
# them Kryo dies on HeapByteBuffer when localCheckpoint blocks serialize.
# Heap defaults to the sbt-forked driver shape (build.sbt: 48g) — override
# with GRAFT_XMX; repo root is derived from this script's location.
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
# test-classes holds the trend drivers (graft.tools.*Trend, Plans)
CP="$ROOT/target/scala-2.13/classes:$ROOT/target/scala-2.13/test-classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED
--add-opens=java.base/java.lang.reflect=ALL-UNNAMED
--add-opens=java.base/java.io=ALL-UNNAMED
--add-opens=java.base/java.net=ALL-UNNAMED
--add-opens=java.base/java.nio=ALL-UNNAMED
--add-opens=java.base/java.util=ALL-UNNAMED
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED
--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED
--add-opens=java.base/jdk.internal.ref=ALL-UNNAMED
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED
--add-opens=java.base/sun.nio.cs=ALL-UNNAMED
--add-opens=java.base/sun.security.action=ALL-UNNAMED
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
MAIN="$1"; shift
exec java -Xmx${GRAFT_XMX:-48g} $OPENS -Dderby.system.home=/tmp/derby -cp "$CP" "$MAIN" "$@"
