"""Unit tests for the registry's verification-rotation ordering — the
mechanism that decides which queries an external correctness sweep with a
bounded budget sees first. Load-bearing for the driver contract, so the
ordering rules are pinned here without any Spark session.
"""

from __future__ import annotations

import importlib
import importlib.util
import inspect
import json
import os
import re
import subprocess
import sys
import textwrap

import pytest

from reconciliation_hive_data_spark import codehash, registry

registry.load_all_modules()

STALE = "0" * 32

#: Queries whose plans changed after their latest CORRECTNESS row: their
#: code fingerprint differs from the one ORACLE_SNAPSHOT.json attests.
QUEUED_BY_CODE = ["recon_api_summary", "recon_crossformat", "udtf_apply"]


def _current_snapshot(rnd: int = 5) -> dict[str, dict]:
    return {n: registry.stamp(n, rnd) for n in registry.REGISTRY}


def _order_with(monkeypatch, rounds: dict[str, int], snapshot: dict | None = None):
    monkeypatch.setattr(registry, "_verified_rounds", lambda: rounds)
    snap = _current_snapshot() if snapshot is None else snapshot
    monkeypatch.setattr(registry, "read_snapshot", lambda: snap)
    return registry.ordered_names()


def _snapshot_tool():
    spec = importlib.util.spec_from_file_location(
        "update_oracle_snapshot",
        os.path.join(registry.repo_root(), "tools", "update_oracle_snapshot.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_never_verified_sort_first_in_registration_order(monkeypatch):
    names = list(registry.REGISTRY)
    some_verified = {n: 1 for n in names[10:]}
    order = _order_with(monkeypatch, some_verified)
    assert order[:10] == names[:10]
    assert all(n in some_verified for n in order[10:])


def test_rewritten_queries_requeue_by_staleness(monkeypatch):
    names = list(registry.REGISTRY)
    a, b, c = names[0], names[1], names[2]
    rounds = {n: 3 for n in names}
    rounds[a], rounds[b], rounds[c] = 2, 1, 2
    snap = _current_snapshot()
    for n in (a, b, c):
        snap[n]["code"] = STALE  # plan rewritten after the row
    order = _order_with(monkeypatch, rounds, snap)
    # b has the stalest row (r1) so it re-verifies first; a/c tie on round
    # and fall back to registration order
    assert order[:3] == [b, a, c]


def test_rewrite_marker_expires_once_reverified(monkeypatch):
    names = list(registry.REGISTRY)
    a = names[0]
    rounds = {n: 1 for n in names}
    rounds[a] = 3  # a row in the latest round verified the rewritten plan
    old = _current_snapshot(1)
    old[a] = {**old[a], "code": STALE}
    snap, refreshed = _snapshot_tool().refresh(old, rounds)
    assert refreshed == [a]
    order = _order_with(monkeypatch, rounds, snap)
    # a is the MOST recently verified → very back, not front
    assert order[-1] == a


def test_oracle_rewrite_fronts_like_a_plan_rewrite(monkeypatch):
    """A query whose oracle text changed after its last verification row
    re-fronts, even with the freshest row — the hole the round-5 verdict
    flagged (x_multimodal_binary's r5 oracle upgrade went untracked)."""
    oracled = [n for n, s in registry.REGISTRY.items() if s.oracle is not None]
    a = oracled[0]
    rounds = {n: 5 for n in registry.REGISTRY}
    snap = _current_snapshot()
    snap[a]["oracle"] = STALE  # a's row attested different oracle text
    order = _order_with(monkeypatch, rounds, snap)
    assert order[0] == a
    assert registry.changed(a, snap) == ["oracle"]


def test_missing_snapshot_entry_fronts(monkeypatch):
    """A verified query absent from the snapshot fronts — the safe default
    for an untracked query (forgotten tool run)."""
    oracled = [n for n, s in registry.REGISTRY.items() if s.oracle is not None]
    a = oracled[3]
    rounds = {n: 5 for n in registry.REGISTRY}
    snap = _current_snapshot()
    del snap[a]
    order = _order_with(monkeypatch, rounds, snap)
    assert order[0] == a


def test_oracle_marker_expires_once_snapshot_refreshed(monkeypatch):
    """After tools/update_oracle_snapshot.py stamps the current text, the
    query falls back into the normal staleness rotation."""
    oracled = [n for n, s in registry.REGISTRY.items() if s.oracle is not None]
    a = oracled[0]
    rounds = {n: 1 for n in registry.REGISTRY}
    rounds[a] = 5
    order = _order_with(monkeypatch, rounds, _current_snapshot())
    assert order[-1] == a


def test_rows_only_query_whose_code_changed_is_queued(monkeypatch):
    """oracle=None queries carry a code fingerprint too, so a rewritten
    rows-only plan is queued exactly like an oracled one."""
    rows_only = [n for n, s in registry.REGISTRY.items() if s.oracle is None]
    r = rows_only[-1]
    rounds = {n: 5 for n in registry.REGISTRY}
    snap = _current_snapshot()
    snap[r]["code"] = STALE
    order = _order_with(monkeypatch, rounds, snap)
    assert order[0] == r
    assert registry.changed(r, snap) == ["code"]


def test_snapshot_file_on_disk_is_wellformed():
    """The committed ORACLE_SNAPSHOT.json has one entry per registered query:
    a 32-hex code fingerprint, a 32-hex oracle hash exactly for the oracled
    queries (null for rows-only ones) and the round it was stamped for."""
    snap = registry.read_snapshot()
    assert set(snap) == set(registry.REGISTRY)
    hex32 = re.compile(r"[0-9a-f]{32}")
    for name, entry in snap.items():
        assert set(entry) == {"oracle", "code", "round"}, (name, entry)
        assert hex32.fullmatch(entry["code"]), (name, entry)
        if registry.REGISTRY[name].oracle is None:
            assert entry["oracle"] is None, (name, entry)
        else:
            assert hex32.fullmatch(entry["oracle"]), (name, entry)
        assert isinstance(entry["round"], int), (name, entry)


def test_snapshot_refresh_of_committed_file_is_a_no_op():
    """The committed snapshot is a fixed point of the refresh, so running
    tools/update_oracle_snapshot.py leaves the file byte-identical — in
    particular it does not bless the code rewrites still queued."""
    old = registry.read_snapshot()
    snap, refreshed = _snapshot_tool().refresh(old, registry._verified_rounds())
    assert snap == old and refreshed == []


def test_snapshot_tool_never_stamps_away_an_older_missing_entry():
    """tools/update_oracle_snapshot.py's missing-entry branch: a query
    whose latest row is OLDER than the latest round must stay absent from
    the snapshot (it fronts until re-verified — the safe default
    test_missing_snapshot_entry_fronts pins). Stamping it from current
    text would cancel that forced re-verification in one tool run."""
    stamp_due = _snapshot_tool().stamp_due
    # untracked + never rowed, or rowed in the latest round: stamp
    assert stamp_due(None, last_row=0, latest=6)
    assert stamp_due(None, last_row=6, latest=6)
    # untracked with only an OLDER row: keep fronting
    assert not stamp_due(None, last_row=3, latest=6)
    # tracked entries: restamp only when a NEWER latest-round row attests
    assert stamp_due(3, 6, 6)
    assert not stamp_due(6, 6, 6)
    assert not stamp_due(3, 4, 6)


def test_ordering_is_a_permutation_of_the_registry(monkeypatch):
    names = list(registry.REGISTRY)
    order = _order_with(monkeypatch, {names[5]: 2})
    assert sorted(order) == sorted(names)


def test_live_ordering_matches_correctness_artifacts():
    """With the real CORRECTNESS and ORACLE_SNAPSHOT files on disk: the
    queries rewritten after their latest row lead, then every other query
    by the round of its latest row, registration order breaking ties."""
    rounds = registry._verified_rounds()
    snapshot = registry.read_snapshot()
    reg_index = {n: i for i, n in enumerate(registry.REGISTRY)}
    rest = sorted(
        set(registry.REGISTRY) - set(QUEUED_BY_CODE),
        key=lambda n: (rounds[n], reg_index[n]),
    )
    assert registry.ordered_names() == QUEUED_BY_CODE + rest
    assert all(registry.changed(n, snapshot) == ["code"] for n in QUEUED_BY_CODE)


def test_show_rotation_lists_queued_rewrites_first():
    out = subprocess.run(
        [sys.executable, os.path.join(registry.repo_root(), "tools", "show_rotation.py"), "3"],
        capture_output=True, text=True, timeout=120, check=True,
    ).stdout
    rows = [line.split() for line in out.splitlines() if re.match(r"\s+\d+\s", line)]
    assert [r[1] for r in rows[:3]] == QUEUED_BY_CODE
    assert all(r[2].endswith("+CHANGED(code)") for r in rows[:3])
    assert not any("CHANGED" in r[2] for r in rows[3:])


# ---------------------------------------------------------------------------
# code fingerprint
# ---------------------------------------------------------------------------

_PKG_FILES = {
    "__init__.py": "",
    "main.py": '''
        """A query package."""
        from . import helpers
        from .helpers import via_global

        LIMIT = 10
        COLS = ["a", "b"]
        _CACHE: dict = {}


        def q(spark, sf_dir):
            """Docstring."""
            from .local import via_local

            n = len(COLS) + len(_CACHE)
            return via_global(sf_dir) + helpers.via_attr(LIMIT) + via_local() + n
        ''',
    "helpers.py": '''
        def via_global(x):
            return x + 1


        def via_attr(n):
            return n + 2
        ''',
    "local.py": '''
        def via_local():
            return 3
        ''',
}


@pytest.fixture
def fingerprint_pkg(tmp_path, monkeypatch):
    """Import a variant of a small query package (same package name every
    time, fresh objects) and return its query function."""
    variants = iter(range(1000))

    def forget():
        for m in [m for m in sys.modules if m.split(".")[0] == "fpkg"]:
            del sys.modules[m]

    def load(**edits: tuple[str, str]):
        root = tmp_path / f"v{next(variants)}"
        (root / "fpkg").mkdir(parents=True)
        for fname, src in _PKG_FILES.items():
            src = textwrap.dedent(src)
            if fname in edits:
                old, new = edits[fname]
                assert old in src
                src = src.replace(old, new)
            (root / "fpkg" / fname).write_text(src)
        forget()
        monkeypatch.syspath_prepend(str(root))
        return importlib.import_module("fpkg.main").q

    yield load
    forget()


def test_fingerprint_ignores_docstrings_comments_and_blank_lines(fingerprint_pkg):
    base = codehash.fingerprint(fingerprint_pkg())
    assert base is not None
    edited = fingerprint_pkg(
        **{
            "main.py": ('"""Docstring."""', '"""Edited docstring."""\n    # a comment\n'),
            "helpers.py": ("return x + 1", "# why\n    return x + 1  # trailing\n\n"),
        }
    )
    assert codehash.fingerprint(edited) == base


@pytest.mark.parametrize(
    "fname, old, new",
    [
        ("helpers.py", "return x + 1", "return x + 5"),  # global
        ("helpers.py", "return n + 2", "return n * 2"),  # mod.attr
        ("local.py", "return 3", "return 4"),  # function-local import
        ("main.py", "LIMIT = 10", "LIMIT = 11"),  # module constant
        ("main.py", 'COLS = ["a", "b"]', 'COLS = ["a", "c"]'),  # mutable constant
    ],
    ids=["global", "module_attr", "local_import", "constant", "list_constant"],
)
def test_fingerprint_follows_reached_code(fingerprint_pkg, fname, old, new):
    base = codehash.fingerprint(fingerprint_pkg())
    assert codehash.fingerprint(fingerprint_pkg(**{fname: (old, new)})) != base


def test_fingerprint_ignores_runtime_state_of_module_globals(fingerprint_pkg):
    """A module-level cache filled at run time (catalog._RELATION_CACHE is
    one) must not change the fingerprint: a constant counts by the statement
    that assigns it, not by its current value."""
    base = codehash.fingerprint(fingerprint_pkg())
    fn = fingerprint_pkg()
    sys.modules["fpkg.main"]._CACHE["relation"] = object()
    assert codehash.fingerprint(fn) == base


def test_unreadable_source_is_queued_and_queries_still_work(
    fingerprint_pkg, monkeypatch
):
    code = codehash.fingerprint(fingerprint_pkg())
    fn = fingerprint_pkg()  # same code, fresh objects: nothing memoized yet

    def no_source(obj):
        raise OSError("could not get source code")

    monkeypatch.setattr(inspect, "getsource", no_source)
    monkeypatch.setitem(
        registry.REGISTRY, "tmp_q", registry.QuerySpec("tmp_q", fn, None, "")
    )
    rounds = {n: 5 for n in registry.REGISTRY}
    snap = {**_current_snapshot(), "tmp_q": {"oracle": None, "code": code, "round": 5}}
    assert registry.stamp("tmp_q", 5)["code"] is None
    assert registry.changed("tmp_q", snap) == ["code"]
    assert _order_with(monkeypatch, rounds, snap)[0] == "tmp_q"
    assert registry.all_queries()["tmp_q"] is fn


_HASHES_SCRIPT = """
import json
from reconciliation_hive_data_spark import codehash, registry
registry.load_all_modules()
registry.get("recon_order_totals")
lazy = sum(
    f.cache_info().currsize
    for f in (codehash._module_defs, codehash._node, codehash.fingerprint)
)
print(json.dumps({
    "lazy": lazy,
    "hashes": {n: codehash.fingerprint(s.fn) for n, s in registry.REGISTRY.items()},
}))
"""


def test_fingerprints_are_stable_across_hash_seeds_and_computed_lazily():
    """Every query's fingerprint is the same in two fresh processes with
    different PYTHONHASHSEEDs, all are distinct, and neither
    load_all_modules() nor get() computes any."""
    runs = []
    for seed in ("1", "2"):
        env = {**os.environ, "PYTHONHASHSEED": seed}
        out = subprocess.run(
            [sys.executable, "-c", _HASHES_SCRIPT],
            cwd=registry.repo_root(), env=env, capture_output=True, text=True,
            timeout=120, check=True,
        ).stdout
        runs.append(json.loads(out.splitlines()[-1]))
    a, b = runs
    assert a["lazy"] == b["lazy"] == 0
    assert len(a["hashes"]) == len(registry.REGISTRY)
    assert None not in a["hashes"].values()
    assert len(set(a["hashes"].values())) == len(a["hashes"])
    assert a["hashes"] == b["hashes"]


def test_oracles_reference_only_known_tables():
    """Static sanity over every oracle SQL string: any bare FROM/JOIN
    table identifier must be a driver-registered view or a CTE defined in
    the same oracle — a typo'd table name should fail here, not in the
    driver's DuckDB run."""
    import re

    from reconciliation_hive_data_spark import registry

    registry.load_all_modules()
    known = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name, spec in registry.REGISTRY.items():
        if not spec.oracle:
            continue
        # strip `--` line comments (prose like "differs from X") and
        # EXTRACT(unit FROM expr) calls — both contain FROM tokens that
        # are not table references
        sql = re.sub(r"--[^\n]*", "", spec.oracle)
        sql = re.sub(r"EXTRACT\s*\([^)]*\)", "", sql, flags=re.I)
        # SQL keywords are case-insensitive, so lowercase-normalize once and
        # match everything (CTE extraction, FROM/JOIN refs, the DISTINCT
        # lookbehind) against the normalized text — a lowercase `with x as (`
        # or `is not distinct from` must behave like its uppercase twin.
        low = sql.lower()
        # CTE names defined in this oracle — WITH a AS (...), b AS (...),
        # including the column-list form `WITH a(x, y) AS (...)`
        ctes = set(
            re.findall(
                r"(?:with|,)\s*(?:recursive\s+)?([a-z_][\w]*)"
                r"\s*(?:\([^)]*\))?\s+as\s*\(",
                low,
            )
        )
        refs = set(
            m.group(1)
            for m in re.finditer(
                # exclude the comparison operator `IS [NOT] DISTINCT FROM x`
                r"(?<!distinct )\b(?:from|join)\s+([a-z_][\w]*)",
                low,
            )
        )
        unknown = refs - known - ctes
        # subquery openers / functions caught by the regex are fine to list
        allowed_noise = {"range", "generate_series", "unnest", "read_parquet"}
        unknown -= allowed_noise
        assert not unknown, f"{name}: oracle references unknown tables {unknown}"
