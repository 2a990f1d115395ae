#!/bin/bash
# Run a graft main class outside sbt (so sbt stays free for tests).
# Usage: tools/run_main.sh <MainClass> [args...]   (env vars pass through)
# src/main runs from a fresh build keyed by its source hash
# (perfbench/build.py's `ensure`, into .bench_build/<hash>/; the first run
# after a source change compiles for ~30 s), never from sbt's long-lived
# target/scala-2.13/classes, which once timed Bench at sf0.1 ~17% slower
# than the same sources compiled fresh. A new build deletes every older
# .bench_build/<hash>/, so edit src/main only after a run's JVM has exited.
# The dev drivers graft.tools.* (trend drivers, Plans) live in sbt's
# test-classes, compiled against sbt's classes, so they run from that pair
# (`sbt Test/compile` refreshes both).
# Needs the full Spark --add-opens set: sbt adds these silently; without
# them Kryo dies on HeapByteBuffer when localCheckpoint blocks serialize.
# Heap defaults to the sbt-forked driver shape (build.sbt: 48g) — override
# with GRAFT_XMX; repo root is derived from this script's location.
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
MAIN="$1"; shift
build() {
  (cd "$ROOT" && python3 -B -c "import sys; from pathlib import Path
sys.path.insert(0, 'perfbench'); import build; print(build.$1(Path.cwd()))")
}
case "$MAIN" in
  graft.tools.*)
    T="$ROOT/target/scala-2.13"
    CP="$T/classes:$T/test-classes:$(build spark_jars)/*" ;;
  *) CP="$(build ensure)" ;;
esac
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
exec java -Xmx${GRAFT_XMX:-48g} $OPENS -Dderby.system.home=/tmp/derby -cp "$CP" "$MAIN" "$@"
