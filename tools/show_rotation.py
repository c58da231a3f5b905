"""Print the verification rotation: for each registry query, its position
in ``ordered_names()``, its last external correctness row, and whether it
is queued for re-verification because its code or oracle changed since
that row. Usage::

    python tools/show_rotation.py [window_size]

Useful before adding operators in a round: new queries enter at the front
of the order, so the projected window shows exactly what a budget-bounded
sweep will and will not reach.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reconciliation_hive_data_spark import registry  # noqa: E402


def main() -> None:
    window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    registry.load_all_modules()
    rounds = registry._verified_rounds()
    snapshot = registry.read_snapshot()
    order = registry.ordered_names()
    n_unseen = sum(1 for n in order if n not in rounds)
    print(f"{len(order)} queries; {n_unseen} never externally verified")
    print(f"projected window (first {window}):")
    for i, n in enumerate(order):
        last = rounds.get(n)
        stale = registry.changed(n, snapshot)
        tag = (
            "NEVER"
            if last is None
            else f"r{last}+CHANGED({'|'.join(stale)})"
            if stale
            else f"r{last}"
        )
        if i == window:
            print(f"--- window boundary ({window}) ---")
        print(f"  {i:3d}  {n:28s} {tag}")


if __name__ == "__main__":
    main()
