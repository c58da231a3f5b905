"""Refresh ORACLE_SNAPSHOT.json — per query, the oracle hash and code
fingerprint its most recent external verification row attested
(registry.py queues a query for re-verification when either differs from
the current one; registry.py owns the entry format).

A query is (re-)stamped from its CURRENT oracle and code ONLY when its
latest CORRECTNESS row is from a round NEWER than the entry's recorded
round. That makes the refresh idempotent within a round: after the
round-start run stamps the latest round, editing a query or its oracle and
re-running the tool cannot bless the edit — the query stays queued until
the NEXT round's row attests the new text. (Residual rule: run the tool
before editing queries in the same session where a new CORRECTNESS round
just landed.)

Entries missing entirely are stamped from current text ONLY when nothing
is being attested away: the query has no verification row at all, or its
latest row is from the latest round (so current text is what that row just
verified). A missing entry for a query whose rows are all OLDER stays
absent — it is queued precisely because its text was never attested, and
stamping it from current text would cancel the re-verification the missing
entry forces (tests/test_registry_rotation.py::test_missing_snapshot_entry_fronts).

Usage::

    python tools/update_oracle_snapshot.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reconciliation_hive_data_spark import registry  # noqa: E402


def stamp_due(stamped_round: int | None, last_row: int, latest: int) -> bool:
    """Should this query's snapshot entry, stamped for ``stamped_round``
    (None: no entry), be (re-)stamped from its CURRENT oracle and code? Only
    when they carry an attestation: the latest round's row just verified
    them, or no row exists to contradict them."""
    if stamped_round is None:
        return last_row == 0 or last_row == latest
    return last_row == latest and last_row > stamped_round


def refresh(
    old: dict[str, dict], rounds: dict[str, int]
) -> tuple[dict[str, dict], list[str]]:
    """The snapshot after one refresh of ``old`` given each query's latest
    row round, and the queries whose stamped hashes the refresh replaced."""
    latest = max(rounds.values(), default=0)
    snapshot, refreshed = {}, []
    for name in registry.REGISTRY:
        stamped = registry.stamped_round(old, name)
        last_row = rounds.get(name, 0)
        if stamp_due(stamped, last_row, latest):
            if registry.changed(name, old):
                refreshed.append(name)
            snapshot[name] = registry.stamp(name, max(last_row, stamped or 0))
        elif stamped is not None:
            snapshot[name] = old[name]
    return snapshot, sorted(refreshed)


def main() -> None:
    registry.load_all_modules()
    rounds = registry._verified_rounds()
    old = registry.read_snapshot()
    snapshot, refreshed = refresh(old, rounds)
    registry.write_snapshot(snapshot)
    print(
        f"{registry._SNAPSHOT_FILE}: {len(snapshot)} entries "
        f"(latest round r{max(rounds.values(), default=0)}; "
        f"refreshed {len(refreshed)}, pruned {len(set(old) - set(snapshot))})"
    )
    if refreshed:
        print("refreshed:", ", ".join(refreshed))


if __name__ == "__main__":
    main()
