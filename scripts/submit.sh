#!/usr/bin/env bash
# Package pdf_spark and run the extraction job via spark-submit --py-files
# (the north-rule deployment shape; MASTER defaults to local[*] in the
# sandbox — on a cluster set MASTER=yarn / k8s://... etc).
#
#   scripts/submit.sh --pages <pages dir> --out <sink dir> [--salt N]
set -euo pipefail

REPO="$(cd "$(dirname "$0")/.." && pwd)"
MASTER="${MASTER:-local[*]}"
ZIPDIR="$(mktemp -d)"
trap 'rm -rf "$ZIPDIR"' EXIT
ZIP="$ZIPDIR/pdf_spark.zip"

(cd "$REPO" && python - "$ZIP" <<'EOF'
import sys, zipfile, pathlib
zip_path = sys.argv[1]
with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted(pathlib.Path("pdf_spark").rglob("*.py")):
        z.write(p, p.as_posix())
EOF
)

spark-submit \
    --master "$MASTER" \
    --py-files "$ZIP" \
    "$REPO/scripts/run_job.py" "$@"
