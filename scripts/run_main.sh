#!/usr/bin/env bash
# Run a graft main class directly on the compiled classes (no sbt lock,
# no sbt startup): mirrors build.sbt's fork JVM flags. Usage:
#   scripts/run_main.sh graft.Bench [args...]
# Env knobs pass through: SPARK_GRAFT_CPUS (every main), SPARK_DRIVER_MEM
# (heap), SPARK_GRAFT_SF_DIR (Bench, ColdAttrib), SPARK_GRAFT_BENCH_ONLY
# (Bench), SPARK_GRAFT_VERIFY_ONLY (Verify), SPARK_GRAFT_WIDEN (Par's
# fan-out width), SPARK_GRAFT_SCALE_ONLY and SPARK_GRAFT_TWIN_TRIGGERS
# (ScaleProbe), SPARK_GRAFT_INGEST_ONLY and SPARK_GRAFT_INGEST_TRACE
# (IngestProbe); the launcher's own are below.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
ADD_OPENS=(
  java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio
  java.base/java.util java.base/java.util.concurrent
  java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs
  java.base/sun.security.action java.base/sun.util.calendar
)
OPENS_FLAGS=()
for p in "${ADD_OPENS[@]}"; do OPENS_FLAGS+=(--add-opens "$p=ALL-UNNAMED"); done
# Cold-start amortization: load the CDS archive when present (trained by
# scripts/gen_cds.sh against THIS launcher's classpath; -Xshare:auto
# ignores a stale archive). SPARK_GRAFT_CDS_DUMP=1 turns the run into
# the training dump; SPARK_GRAFT_NO_CDS=1 opts out (A/B control).
# CDS requires a JAR app classpath (the dynamic dump rejects non-empty
# directories), so prefer the packaged jar (sbt -batch package) when it
# is at least as new as the compiled classes; otherwise fall back to the
# classes dir (and skip CDS).
APP_CP="target/scala-2.13/classes"
# exclude the -tests jar (Test/compile under exportJars produces one and
# it can be the newest match — it holds no main classes)
JAR=$(ls -1t target/scala-2.13/eventstormspark_2.13-*.jar 2>/dev/null | grep -v -- '-tests\.jar' | head -1 || true)
if [[ -n "$JAR" && -z "$(find target/scala-2.13/classes -name '*.class' -newer "$JAR" -print -quit 2>/dev/null)" ]]; then
  APP_CP="$JAR"
fi
CDS_FLAGS=("-XX:ReservedCodeCacheSize=${SPARK_GRAFT_CODECACHE:-512m}")
JSA="target/graft-cds-direct.jsa"
if [[ "$APP_CP" == *.jar ]]; then
  if [[ -n "${SPARK_GRAFT_CDS_DUMP:-}" ]]; then
    CDS_FLAGS+=("-XX:ArchiveClassesAtExit=$JSA" -Xlog:cds=off -Xlog:class+path=off)
  elif [[ -f "$JSA" && -z "${SPARK_GRAFT_NO_CDS:-}" ]]; then
    # staleness check: -Xshare:auto ignores an archive trained on an
    # older jar SILENTLY, forfeiting the measured ~9% cold win with no
    # signal — warn so the operator reruns scripts/gen_cds.sh
    if [[ "$JSA" -ot "$JAR" ]]; then
      echo "[run_main] WARNING: CDS archive $JSA is older than $JAR — a stale archive is silently ignored; rerun scripts/gen_cds.sh" >&2
    fi
    CDS_FLAGS+=("-XX:SharedArchiveFile=$JSA" -Xlog:cds=off -Xlog:class+path=off)
  fi
fi
exec java "${OPENS_FLAGS[@]}" "${CDS_FLAGS[@]}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "-Xmx${SPARK_DRIVER_MEM:-48g}" -XX:+UseG1GC \
  -cp "$APP_CP:/opt/spark/jars/*" \
  "$MAIN" "$@"
