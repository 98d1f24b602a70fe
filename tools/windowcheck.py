"""Print the projected driver-verification window and rank spread.

The driver verifies ``queries()`` in registration order with a
bounded (~50) window; registration order is computed from the
committed CORRECTNESS artifacts plus the ``_EDITED`` demotions
(gasket_spark/queries/__init__.py). This tool shows what the NEXT
driver run will verify — use it before growing the registry or
editing the ``_EDITED`` ledger.

Usage: python tools/windowcheck.py [window_size]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    from gasket_spark.queries import QUERIES, _signal_rank

    rank = _signal_rank()
    names = list(QUERIES)
    print(f"registry: {len(names)} queries; window = first {window}\n")
    print("rank spread (rank -> count; <2 = demoted/new, N = round-N "
          "green):")
    for r, c in sorted(Counter(round(rank.get(n, 0.0), 2)
                               for n in names).items()):
        print(f"  {r:>5}: {c}")
    print(f"\nprojected window ({window}):")
    for i, n in enumerate(names[:window]):
        print(f"  {i + 1:>3} {n}  (rank {rank.get(n, 0.0)})")
    outside = [n for n in names[window:]
               if rank.get(n, 0.0) < 2]
    if outside:
        print(f"\nWARNING: {len(outside)} demoted/never-verified "
              f"queries fall OUTSIDE the window: {outside}")


if __name__ == "__main__":
    main()
