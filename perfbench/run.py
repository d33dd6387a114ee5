"""Benchmark entry point; run from the root of a checkout:

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 12 --trace 0

Prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from perfbench.harness import main

    sys.exit(main(sys.argv[1:], ROOT))
