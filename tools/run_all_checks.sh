#!/usr/bin/env bash
# Full verification sweep: tests, DuckDB oracle gate, F1 pin, bench.
# Usage: bash tools/run_all_checks.sh
set -euo pipefail
cd "$(dirname "$0")/.."

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
