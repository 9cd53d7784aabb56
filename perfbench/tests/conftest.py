import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parents[1]
# The benchmark's modules live beside run.py, not in a package; the engine
# lives at the repository root.
sys.path[:0] = [str(BENCH_DIR), str(BENCH_DIR.parent)]
