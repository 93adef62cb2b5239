#!/usr/bin/env bash
# Local CI gate — one command reproducing the full quality bar, mirroring
# the reference's CI pipeline (/root/reference/.github/workflows/ci.yml:
# fmt/clippy → test → coverage) with this repo's equivalents:
#
#   1. formatting gate (`scripts/fmtcheck.py` — the `cargo fmt --check`
#      analog; sbt-scalafmt cannot resolve in the zero-egress sandbox, so
#      the mechanical invariants are checked directly)
#   2. compile (`sbt compile` — the scalac lint flags in build.sbt,
#      `-Wunused:imports,privates,locals,patvars,params` and `-Wdead-code`,
#      are the clippy analog available offline and report as warnings)
#      + full ScalaTest suite (`sbt test`)
#   3. benchmark harness compiles (`sbt compile` in perfbench/, which builds
#      against src/main and pins engine signatures), with the offline flags,
#      then the benchmark's own Python tests (perfbench/tests), then one
#      short engine-drain run whose independent checks (exactly-once sums,
#      dead letters, final checkpoints, monitoring counts) must all pass
#   4. correctness gate: graft.Verify at sf0.001 + the DuckDB oracle compare
#      (scripts/check_oracle.py — the driver-side replica of the round gate)
#
# Usage: scripts/ci.sh [sfDir]   (default /root/testdata/sf0.001)
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.001}"

echo "[ci] 1/5 formatting gate"
python3 scripts/fmtcheck.py

echo "[ci] 2/5 compile + test"
sbt -batch compile test

echo "[ci] 3/5 benchmark harness compiles against src/main; one engine-drain run passes its checks"
(cd perfbench && COURSIER_MODE=offline SBT_OPTS="-Dsbt.override.build.repos=true \
  -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx3g" \
  sbt --batch compile)
python3 -m unittest discover -s perfbench/tests
LAST="$(python3 perfbench/run.py --workload engine-drain --seed 1 --seconds 3 --trace 0 | tail -n 1)"
echo "$LAST"
case "$LAST" in
  *'"correct": true'*) ;;
  *) echo "[ci] engine-drain run failed its checks"; exit 1 ;;
esac

echo "[ci] 4/5 verify dump at $SF"
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OUT="$(mktemp -d /tmp/graft-ci.XXXXXX)"
trap 'rm -rf "$OUT"' EXIT
java -Xmx8g -cp "$CP" --add-exports java.base/sun.nio.ch=ALL-UNNAMED \
  graft.Verify "$SF" "$OUT"

echo "[ci] 5/5 DuckDB oracle compare"
python3 scripts/check_oracle.py "$SF" "$OUT"

echo "[ci] all gates green"
