#!/usr/bin/env bash
# Package the engine for cluster submission:
#   tools/make_pyfiles.sh && spark-submit --py-files dist/homonim_spark.zip your_job.py
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/homonim_spark.zip
python - <<'EOF'
import zipfile, pathlib
root = pathlib.Path(".")
with zipfile.ZipFile("dist/homonim_spark.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for p in sorted(root.glob("homonim_spark/**/*.py")):
        z.write(p, p.as_posix())
print("wrote dist/homonim_spark.zip")
EOF
# smoke test: import every module of the package from the archive alone
python - <<'EOF'
import importlib, sys, zipfile
sys.path.insert(0, "dist/homonim_spark.zip")
names = sorted(n[:-3].replace("/", ".").removesuffix(".__init__")
               for n in zipfile.ZipFile("dist/homonim_spark.zip").namelist())
for name in names:
    mod = importlib.import_module(name)
    assert mod.__file__.startswith("dist/homonim_spark.zip"), mod.__file__
import homonim_spark
print(f"zip import OK: {len(names)} modules, version {homonim_spark.__version__}")
EOF
