#!/bin/bash
# Launch the full 128x scale sweep (graft.ScaleSweep) with the same JVM
# the sbt fork uses, plus the marathon-session code-cache fix.
#
#   scripts/run_scale_sweep.sh [mult] [capSec] [q1,q2,...]
#
# Writes /tmp/graft_scale_sweep_<mult>.json; log to stdout (redirect it).
#
# -XX:ReservedCodeCacheSize=512m is load-bearing: a ~150-query marathon
# generates thousands of codegen classes, and at the default 240m the
# code-cache sweeper flushes warm methods — a single-invocation OSR'd
# stage loop then runs INTERPRETED for a whole task wave. Measured on
# q88 at 128x: 7 s JIT'd / 317 s marathon transient / 1521 s with
# generated classes force-excluded from JIT (RESULTS_r13.md).
set -euo pipefail
cd "$(dirname "$0")/.."
MULT="${1:-128}"
CAP="${2:-900}"
SUBSET="${3:-}"
export SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}"
JOPTS=(
  --add-opens java.base/java.lang=ALL-UNNAMED
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED
  --add-opens java.base/java.io=ALL-UNNAMED
  --add-opens java.base/java.net=ALL-UNNAMED
  --add-opens java.base/java.nio=ALL-UNNAMED
  --add-opens java.base/java.util=ALL-UNNAMED
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED
  --add-opens java.base/sun.security.action=ALL-UNNAMED
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED
  -Dspark.ui.enabled=false
  -Dspark.sql.session.timeZone=UTC
  -Xmx8g
  -XX:ReservedCodeCacheSize=512m
  # r13 run-4 refinement: the marathon transient reproduced (q87,
  # 229 s) with the code cache at 141 MB of 512 MB and jit_ms ~4 s —
  # NOT capacity pressure and NOT compile churn; the stage burned pure
  # CPU with no JIT activity at all, i.e. HotSpot had STOPPED compiling
  # the method. Spark's codegen cache reuses one compiled class across
  # every same-source query (the q82-q88 range-join family), so its
  # deopt/recompile count accumulates across the whole ~150-query
  # marathon; past PerMethodRecompilationCutoff (default 400) the JVM
  # marks the method not-compilable and it runs INTERPRETED forever —
  # matching "exactly one family member, varying by run, ~30x pure
  # CPU". Disable the give-up (recompiles are cheap; permanent
  # interpretation of a scan loop is not), and print compile events so
  # the log carries direct evidence either way ("made not compilable"
  # lines with defaults; per-method recompile counts with -1).
  -XX:PerMethodRecompilationCutoff=-1
  -XX:PerBytecodeRecompilationCutoff=-1
  # r14 run-3 JFR capture PINNED the mechanism (results/
  # jfr_q88_marathon_analysis.md): the sweep's base pass shapes the
  # shared GeneratedClass MDO profiles on sf0.1 data; at 128x the
  # stage's speculated branches flip -> 1509 unstable_if traps with
  # action=reinterpret in four minutes -> the generated SMJ+hashAgg
  # stage (FastHashMap#findOrInsert topmost) runs INTERPRETED for the
  # whole task wave (72% interpreted samples, zero compile activity),
  # ~30x pure CPU.
  # r14 run-4 MEASURED AND REVERTED a flag remedy:
  # -XX:PerBytecodeTrapLimit=1 -XX:PerMethodTrapLimit=20 (drop failed
  # speculations immediately) drove the session into a driver heap OOM
  # at q71 (heap_after 6.0-6.8 GB vs 1.7 GB under default limits at
  # the same point) — joining code-cache size and recompilation
  # cutoffs as measured dead ends at the JVM layer. The mitigations
  # that hold are STRUCTURAL: the sweep's >60 s retry isolation
  # (in-session; the reprofiled MDO recompiles clean — retry 8.31 s),
  # and on a real cluster spark.speculation re-launching interpreted
  # stragglers on executors whose profiles never polluted. Avoid
  # reusing one codegen-warmed JVM across 100x data-distribution
  # shifts; fresh executors never exhibit the window (RESULTS_r12.md).
  # (-XX:+PrintCompilation captured the run-5 evidence — 5,484
  # not-entrant events on GeneratedClass methods, the busiest single
  # method name 335 times — and is dropped again for measurement runs:
  # a production executor would not carry its logging cost either.)
)
exec java "${JOPTS[@]}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.ScaleSweep "$MULT" "$CAP" ${SUBSET:+"$SUBSET"}
