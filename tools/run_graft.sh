#!/bin/bash
# Run a graft main (graft.Explain, graft.Bench, graft.Verify) directly from
# the compiled classes — no sbt, no recompile, no sbt lock. Args: <main> [args...]
# scala-library/scala-reflect: the build's scalaVersion, discovered from the
# local coursier cache (host-agnostic — the cache layout embeds whatever
# mirror populated it; the cache may hold several 2.13.x versions).
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
SCALA_VERSION="$(sed -n 's/.*scalaVersion := "\([^"]*\)".*/\1/p' "$ROOT/build.sbt")"
SCALA_LIB="$(find "$HOME/.cache/coursier" -name "scala-library-$SCALA_VERSION.jar" 2>/dev/null | head -1)"
SCALA_REFLECT="$(find "$HOME/.cache/coursier" -name "scala-reflect-$SCALA_VERSION.jar" 2>/dev/null | head -1)"
if [ -z "$SCALA_VERSION" ] || [ -z "$SCALA_LIB" ] || [ -z "$SCALA_REFLECT" ]; then
  echo "run_graft.sh: scala-library/scala-reflect '$SCALA_VERSION' not in the coursier cache" >&2
  exit 1
fi
CP="$ROOT/target/scala-2.13/classes:$SCALA_LIB:$SCALA_REFLECT"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
exec java --add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC -Xmx16g -cp "$CP" "$@"
