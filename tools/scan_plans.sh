#!/usr/bin/env bash
# Physical plans of every registry query that reads a format scan,
# normalized so two builds' dumps can be diffed:
#
#   tools/scan_plans.sh <sf dir> <out file> [checkout root]
#
# Uses the compiled classes of the checkout (default: this one; run
# `sbt compile` there first) and runs steps 1-3 of
# plans/scan_skeleton/README.md:
#   1. graft.PlanDump over all registry queries;
#   2. keep the `===== <query> =====` sections that contain a
#      graft-netcdf|zarr|grib1|grib-spectral|geotiff|zip|warc|webdataset scan,
#      sorted by query name;
#   3. normalize the per-JVM counters: `#<digits>` -> `#N`,
#      `plan_id=<digits>` -> `plan_id=N`, `$$Lambda$...` -> `$$Lambda`.
# The raw dump is kept beside the output as <out file>.raw.
set -euo pipefail
usage="usage: tools/scan_plans.sh <sf dir> <out file> [checkout root]"
SF="${1:?$usage}"
OUT="${2:?$usage}"
ROOT="${3:-$(cd "$(dirname "$0")/.." && pwd)}"
NAMES="$(grep -o 'Query("q[^"]*"' "$ROOT/src/main/scala/graft/SparkEntry.scala" |
  cut -d'"' -f2 | paste -sd, -)"
# Spark's jars: $SPARK_HOME/jars, else beside spark-submit on the PATH
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
CP="$ROOT/target/scala-2.13/classes:$(ls "$SPARK_HOME"/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# shellcheck disable=SC2086
java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-4g}" -cp "$CP" graft.PlanDump "$SF" "$NAMES" \
  > "$OUT.raw"
python3 - "$OUT.raw" "$OUT" <<'EOF'
import re
import sys

text = open(sys.argv[1]).read()
scan = re.compile(r"graft-(netcdf|zarr|grib1|grib-spectral|geotiff|zip|warc|webdataset)")
sections = re.split(r"(?m)^(?====== \S+ =====$)", text)
out = "".join(sorted(s for s in sections if s.startswith("=====") and scan.search(s)))
out = re.sub(r"#\d+", "#N", out)
out = re.sub(r"plan_id=\d+", "plan_id=N", out)
out = re.sub(r"\$\$Lambda\$[^\s,\])]*", "$$Lambda", out)
open(sys.argv[2], "w").write(out)
print(f"{len(re.findall(r'(?m)^===== ', out))} format-scan sections -> {sys.argv[2]}")
EOF
