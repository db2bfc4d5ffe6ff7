#!/usr/bin/env bash
# spark-submit packaging (north_rule deployment path): zip the package,
# ship it with --py-files, run the crawl engine driver on a cluster.
#
# Without a cluster, SPARK_MASTER='local-cluster[2,1,1024]' runs real
# executor JVMs from the local Spark install, and the default
# local[<cores>] exercises the same packaging path in one JVM. The core
# count is SPARK_GRAFT_CPUS, else nproc.
set -euo pipefail
cd "$(dirname "$0")/.."

# one zip per invocation, so concurrent runs never share a package file
ZIP="$(mktemp --suffix=.zip -t thuvienphapluat_crawler_spark.XXXXXX)"
trap 'rm -f "$ZIP"' EXIT
# package only the library (driver script passed separately)
python - "$ZIP" <<'EOF'
import pathlib, sys, zipfile
root = pathlib.Path("thuvienphapluat_crawler_spark")
with zipfile.ZipFile(sys.argv[1], "w") as z:
    for p in sorted(root.rglob("*.py")):
        z.write(p, p.as_posix())
print("packaged", sys.argv[1])
EOF

CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
MASTER="${SPARK_MASTER:-local[$CPUS]}"
spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --conf spark.sql.session.timeZone=UTC \
  tools/submit_driver.py "$@"
