"""Round-start checklist, runnable as one command::

    python tools/round_start.py [window_size]

1. Refreshes ORACLE_SNAPSHOT.json from the latest CORRECTNESS round
   (tools/update_oracle_snapshot.py) — MUST happen before any query or
   oracle is edited this round, or the edit will be stamped as verified.
2. Prints the projected verification window (tools/show_rotation.py) so
   additions/rewrites can be budgeted against the rotation: every new query
   and every fronted rewrite displaces one stale row from the window.
"""

from __future__ import annotations

import os
import runpy
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))

if __name__ == "__main__":
    argv = sys.argv
    print("== refreshing ORACLE_SNAPSHOT.json ==")
    sys.argv = ["update_oracle_snapshot.py"]
    runpy.run_path(os.path.join(_HERE, "update_oracle_snapshot.py"), run_name="__main__")
    print("\n== projected rotation window ==")
    sys.argv = ["show_rotation.py", *argv[1:]]
    runpy.run_path(os.path.join(_HERE, "show_rotation.py"), run_name="__main__")
