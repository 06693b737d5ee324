#!/usr/bin/env bash
# Pre-snapshot gate: the round's final commit must pass this script
# AFTER its tree is in place (run it, then commit; quote the marker in
# the commit body). Exists because round 6 shipped a snapshot commit
# that did not compile — the driver gate died at compileIncremental and
# the whole round went unverified.
#
# Usage: tools/preflight.sh [--full]
#   always:  no spark.sql.adaptive.* conf outside core/GraftSession.scala,
#            no thread or pool created outside core/Par.scala
#   default: sbt compile + Test/compile   (~1 min, catches r6-class breaks)
#   --full:  also runs the whole ScalaTest suite (~5 min)
set -uo pipefail
cd "$(dirname "$0")/.."

TASKS="compile; Test/compile"
if [[ "${1:-}" == "--full" ]]; then
  TASKS="compile; Test/compile; test"
fi

# The engine plans adaptively everywhere: only the session factory
# (core/GraftSession.scala) may set a spark.sql.adaptive.* conf. Naming
# one in any other main source is how a session-wide AQE flip — read by
# every concurrent planner on the session — comes back. Comment lines
# are exempt.
AQE_CONFS=$(grep -rn --include='*.scala' '"spark\.sql\.adaptive\.' src/main \
  | grep -v '^src/main/scala/graft/core/GraftSession\.scala:' \
  | grep -v -E '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*)' || true)
if [[ -n "$AQE_CONFS" ]]; then
  echo "PREFLIGHT FAILED — spark.sql.adaptive.* conf outside core/GraftSession.scala:" >&2
  echo "$AQE_CONFS" >&2
  rm -f .preflight_ok
  exit 1
fi

# All concurrency goes through core/Par.scala's inParallel, the one
# primitive that waits for every builder before it rethrows: a pool or
# thread made anywhere else in main code can outlive the call that
# started it (still writing after the caller cleaned up). Comment lines
# are exempt.
POOLS=$(grep -rn --include='*.scala' -E 'Executors\.|new Thread\(|ExecutionContext\.fromExecutor' src/main \
  | grep -v '^src/main/scala/graft/core/Par\.scala:' \
  | grep -v -E '^[^:]+:[0-9]+:[[:space:]]*(//|\*|/\*)' || true)
if [[ -n "$POOLS" ]]; then
  echo "PREFLIGHT FAILED — thread or pool created outside core/Par.scala:" >&2
  echo "$POOLS" >&2
  rm -f .preflight_ok
  exit 1
fi

if sbt -batch "$TASKS" >/tmp/preflight.log 2>&1; then
  MARKER="PREFLIGHT OK ($TASKS) @ git $(git rev-parse --short HEAD 2>/dev/null || echo none) + $(git status --porcelain | wc -l) dirty files"
  echo "$MARKER" | tee .preflight_ok
  exit 0
else
  echo "PREFLIGHT FAILED — tail of /tmp/preflight.log:" >&2
  tail -20 /tmp/preflight.log >&2
  rm -f .preflight_ok
  exit 1
fi
