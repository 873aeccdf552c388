#!/usr/bin/env bash
# Full verification sweep: tests, DuckDB oracle gate, F1 pin, bench.
# Usage: bash tools/run_all_checks.sh
set -euo pipefail
cd "$(dirname "$0")/.."
# size every Spark session to this machine (the engine's default already
# is the CPUs this process may run on; the export pins it for every
# child), and put Spark's scratch in one known place on disk
# (SPARK_LOCAL_DIRS wins over the session's spark.local.dir)
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"

echo "=== compiled kernel ==="
# a build from scratch into a fresh cache dir, then which kernel the
# engine runs, so a numpy fallback cannot pass unnoticed (the kernel
# tests run in the pytest step below)
kdir="$(mktemp -d)"
python -c "import sys; from pathlib import Path; from sassy_spark.kernel import cbanded; cbanded.load(Path(sys.argv[1])); print('built in', sys.argv[1])" "$kdir"
rm -rf "$kdir"
python -c "from sassy_spark.kernel import myers; e = myers.C_KERNEL_ERROR; print('banded kernel:', 'compiled C' if e is None else 'NUMPY FALLBACK (' + e + ')')"

echo "=== pytest ==="
python -m pytest tests/ -x -q

echo "=== DuckDB oracle gate (sf0.01) ==="
python tools/check_oracle.py

echo "=== F1 pin ==="
python tools/evaluate_f1.py 4000

echo "=== bench ==="
python bench.py
