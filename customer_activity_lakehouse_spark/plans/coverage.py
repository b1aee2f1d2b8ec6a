"""Staleness- and change-driven catalog ordering for the driver's window.

The per-round driver checks only the first ~50 entries of ``queries()``
(dict insertion order), so WHICH entries lead the catalog decides which get
a fresh oracle-checked green row this round.  Rounds 1-4 maintained that
order as a hand-frozen priority list; this module derives it from data
instead:

1. ``load_coverage()`` maps each query name to the latest round in which the
   driver recorded a fully-green row (rows+schema+hash, no err).  It prefers
   recomputing from the ``CORRECTNESS_r*.json`` files at the repo root — so
   the rotation advances AUTOMATICALLY when a new round's results land,
   with no human edit — and falls back to the committed ``coverage.json``
   snapshot when the package is used away from the repo checkout.  Which
   source produced the order is logged for reproducibility (two checkouts
   of one commit can otherwise order the catalog differently — ADVICE r5).
2. ``effective_coverage()`` demotes any entry whose implementing source has
   CHANGED since its fingerprint was recorded to "never checked": a green
   driver row vouches for the code that ran then, not for a rewrite (round
   5 evidence: ``doc_decontaminate`` was rewritten but kept its old
   priority and missed the driver window — VERDICT r5 "What's wrong" #2).
   Fingerprints cover the query fn's own source, every module-level
   function it transitively references within this package, simple
   module-level constants it names, and the oracle SQL.
3. ``catalog_order()`` sorts never-checked (or changed-since-green) entries
   first, then ascending last-green round (stalest first).  Within a tier,
   entries introducing an operator-family tag not yet represented earlier
   in the order are pulled forward, so a truncated driver pass still
   covers every family.

The policy gates live in tests/test_registry.py: no entry may go more than
the adaptive bound of ceil(N / W) rounds without a driver check (N catalog
entries, W = ``DRIVER_WINDOW`` slots; never below two), and a rewritten
entry must lead the catalog.  The staleness and family gates judge
``catalog_order`` in every round of a simulated driver history (each round
greens the first W entries of the order), not the committed
``CORRECTNESS_r*.json`` rounds.

Snapshot ritual: run ``python -m customer_activity_lakehouse_spark.plans.coverage``
IMMEDIATELY after a round's CORRECTNESS file lands and BEFORE editing any
query code — the fingerprints recorded must describe the code the driver
actually checked.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import logging
import re
import types
from pathlib import Path

from .registry import Query

logger = logging.getLogger(__name__)

_PKG_DIR = Path(__file__).resolve().parent
_SNAPSHOT = _PKG_DIR / "coverage.json"
_REPO_ROOT = _PKG_DIR.parents[1]
_CORRECTNESS_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")
# Derived from the Query class (NOT __name__: under ``python -m`` this
# module executes as "__main__", which would empty the prefix and change
# every fingerprint the snapshot records).
_PKG_PREFIX = Query.__module__.rsplit(".", 2)[0]  # customer_activity_lakehouse_spark


def _row_green(row: dict) -> bool:
    """Fully green: rows+schema match, hash matches when checked, and no
    error. err == 'no_oracle' rows (registry oracle=None BY DESIGN —
    engine-specific sketches/codecs) count as checked when the Spark side
    ran and produced a row count: that is the full extent of what the
    driver can verify for them, and refusing to credit it pinned the four
    no-oracle entries at tier 0 forever, permanently consuming driver-
    window slots (the r9 rotation-oversubscription finding)."""
    if row.get("err") == "no_oracle":
        sr = row.get("spark_rows")
        return isinstance(sr, int) and sr >= 0
    return (
        bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and row.get("hash_match") is not False
        and not row.get("err")
    )


def compute_coverage(repo_root: Path) -> dict[str, int]:
    """query name -> latest round with a green driver row, from the
    CORRECTNESS_r{N}.json files the driver commits at the repo root."""
    coverage: dict[str, int] = {}
    for path in sorted(repo_root.glob("CORRECTNESS_r*.json")):
        match = _CORRECTNESS_RE.search(path.name)
        if not match:
            continue
        round_no = int(match.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and _row_green(row):
                coverage[name] = max(coverage.get(name, 0), round_no)
    return coverage


def _read_snapshot() -> tuple[dict[str, int], dict[str, str]]:
    """(rounds, fingerprints) from coverage.json.  Understands both the v2
    ``{"version": 2, "entries": {name: {"round": N, "fp": "..."}}}`` layout
    and the legacy flat ``{name: round}`` one (no fingerprints)."""
    try:
        snapshot = json.loads(_SNAPSHOT.read_text())
    except (OSError, json.JSONDecodeError):
        return {}, {}
    if not isinstance(snapshot, dict):
        return {}, {}
    if snapshot.get("version") == 2:
        entries = snapshot.get("entries", {})
        rounds = {k: int(v["round"]) for k, v in entries.items() if "round" in v}
        fps = {k: v["fp"] for k, v in entries.items() if v.get("fp")}
        return rounds, fps
    return {k: int(v) for k, v in snapshot.items()}, {}


def load_coverage() -> dict[str, int]:
    coverage = compute_coverage(_REPO_ROOT)
    if coverage:
        logger.info(
            "catalog order source: computed from CORRECTNESS_r*.json "
            "(entries=%d, max round=%d)", len(coverage), max(coverage.values()),
        )
        return coverage
    rounds, _ = _read_snapshot()
    logger.info(
        "catalog order source: committed coverage.json snapshot (entries=%d)",
        len(rounds),
    )
    return rounds


def load_fingerprints() -> dict[str, str]:
    """Recorded at-green-time source fingerprints (snapshot only — the
    driver's CORRECTNESS files cannot know source hashes)."""
    _, fps = _read_snapshot()
    return fps


def _code_names(code: types.CodeType) -> set[str]:
    """All global names referenced by a code object, including inside
    nested lambdas/comprehensions (their code objects ride in co_consts)."""
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


_CONST_TYPES = (str, bytes, int, float, bool, tuple, frozenset)


def _stable_repr(obj) -> str:
    """repr with process-independent ordering: frozenset iteration order
    depends on PYTHONHASHSEED, so sort elements before rendering (a plain
    repr() here made every fingerprint differ between processes).
    Integer-valued floats render as ints so equal-but-mixed-type sets
    ({0} vs {0.0}: Python keeps whichever literal was inserted first)
    cannot fingerprint differently by construction order — collapsing
    `1.0` and `1` is an acceptable collision for change detection."""
    if isinstance(obj, (set, frozenset)):
        return "frozenset({%s})" % ", ".join(sorted(_stable_repr(x) for x in obj))
    if isinstance(obj, tuple):
        return "(%s)" % ", ".join(_stable_repr(x) for x in obj)
    if isinstance(obj, bool):  # before float/int: bool == int in sets too
        return repr(int(obj))
    if isinstance(obj, float) and obj.is_integer():
        return repr(int(obj))
    return repr(obj)


def source_fingerprint(q: Query) -> str:
    """Deterministic hash of everything that defines a query's semantics:
    the fn's source, the sources of package-local module-level functions it
    transitively references, simple module-level constants it names, and
    the oracle SQL.  Helper edits and threshold tweaks therefore trip the
    fingerprint; unrelated edits elsewhere in the module do not."""
    sources: dict[str, str] = {}
    consts: dict[str, str] = {}
    root_mod = getattr(q.fn, "__module__", "") or ""
    # Hash package-local helpers plus anything in the root fn's own module
    # (so out-of-package callers, e.g. test fixtures, still fingerprint),
    # never third-party library source.
    allowed = tuple(p for p in (_PKG_PREFIX, root_mod) if p)
    stack = [q.fn]
    while stack:
        fn = stack.pop()
        mod = getattr(fn, "__module__", "") or ""
        key = f"{mod}.{getattr(fn, '__qualname__', repr(fn))}"
        if key in sources or not mod.startswith(allowed):
            continue
        try:
            sources[key] = inspect.getsource(fn)
        except (OSError, TypeError):
            sources[key] = repr(fn)
        code = getattr(fn, "__code__", None)
        module = inspect.getmodule(fn)
        if code is None or module is None:
            continue
        for name in _code_names(code):
            obj = getattr(module, name, None)
            if isinstance(obj, types.FunctionType):
                stack.append(obj)
            elif isinstance(obj, _CONST_TYPES):
                consts[f"{module.__name__}.{name}"] = _stable_repr(obj)
    payload = "\n".join(
        [sources[k] for k in sorted(sources)]
        + [f"{k}={v}" for k, v in sorted(consts.items())]
        + [q.oracle or ""]
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def effective_coverage(
    merged: dict[str, Query],
    coverage: dict[str, int],
    recorded_fps: dict[str, str] | None = None,
) -> dict[str, int]:
    """Coverage rounds with change-awareness applied: an entry whose current
    source fingerprint differs from the one recorded at green-time is reset
    to round 0 (never checked).  Entries without a recorded fingerprint are
    left alone — we cannot tell, and the staleness policy bounds the gap to
    one round anyway."""
    if not recorded_fps:
        return {k: v for k, v in coverage.items()}
    out: dict[str, int] = {}
    for name, round_no in coverage.items():
        recorded = recorded_fps.get(name)
        if recorded and name in merged and source_fingerprint(merged[name]) != recorded:
            logger.info("query %r rewritten since its last green row — reset to tier 0", name)
            continue  # absent from the dict == tier 0 in catalog_order
        out[name] = round_no
    return out


# The coarse operator families every driver-correctness window must keep a
# representative of (tests/test_registry.py enforces it on the first 50
# entries).  Part of the ordering POLICY, not test decoration: when a tier
# is wider than the window, carriers of a required-but-unrepresented family
# outrank entries that merely introduce a niche tag.
REQUIRED_FAMILIES: frozenset[str] = frozenset(
    {
        "tpch", "agg", "window", "join", "scalar", "events", "text",
        "dedup", "lsh", "similarity", "audit", "recall", "sampling",
        "asof-join", "range-join", "gapfill", "rollup", "graph",
        "skew", "pivot", "cube", "quantile", "setops",
    }
)

# Size of the driver's correctness window (observed across rounds: the
# driver checks the first ~50 catalog entries).  Policy constant, imported
# by the gates in tests/test_registry.py so the two cannot drift.
DRIVER_WINDOW = 50


def _ensure_window_families(
    order: list[str],
    merged: dict[str, Query],
    coverage: dict[str, int],
    window: int | None = None,
) -> list[str]:
    """Window guarantee for REQUIRED families, subordinate to staleness:
    when a family has no carrier inside the first ``window`` entries,
    promote its first carrier from beyond the window — but only by
    displacing a FRESH window entry (max-coverage tier, so never an entry
    the staleness policy owes a check) all of whose required tags stay
    covered by another window entry.  When the stale tiers alone fill the
    window no victim exists and the family is left just outside — it is
    not rotting in that case: its carriers were green last round and the
    staleness policy pulls them back next round (tests/test_registry.py
    applies the same exemption).  Deterministic; each pass either covers
    one more family or marks it unfixable."""
    if window is None:
        window = DRIVER_WINDOW
    if len(order) <= window:
        return order
    required = REQUIRED_FAMILIES & {t for q in merged.values() for t in q.tags}
    max_tier = max((coverage.get(n, 0) for n in order), default=0)
    order = list(order)
    unfixable: set[str] = set()
    while True:
        win = order[:window]
        carriers: dict[str, set[str]] = {}
        for n in win:
            for t in set(merged[n].tags) & required:
                carriers.setdefault(t, set()).add(n)
        missing = sorted(required - set(carriers) - unfixable)
        if not missing:
            return order
        fam = missing[0]
        promoted = next(n for n in order[window:] if fam in merged[n].tags)
        # A victim must be STALENESS-NEUTRAL or better: its tier is at
        # least as fresh as the promoted carrier's (equal-tier swaps trade
        # one owed check for another of the same age — the r6 case where
        # 49 never-checked entries fill the window and the lone soft-stale
        # slot must go to the unrepresented family's carrier), and every
        # required tag it carries stays covered by another window entry.
        promoted_tier = coverage.get(promoted, 0)
        victim = next(
            (
                n
                for n in reversed(win)
                if coverage.get(n, 0) >= promoted_tier
                and all(len(carriers[t]) > 1 for t in set(merged[n].tags) & required)
            ),
            None,
        )
        if victim is None:
            unfixable.add(fam)
            continue
        order.remove(promoted)
        order.remove(victim)
        order.insert(window - 1, promoted)
        order.insert(window, victim)


def catalog_order(merged: dict[str, Query], coverage: dict[str, int]) -> list[str]:
    """Never-checked first, then stalest last-green round; within each tier,
    family representatives (entries adding an unseen tag) lead, with
    carriers of a REQUIRED family not yet represented earlier in the order
    ranked before niche-tag representatives, and ties broken by the rarity
    of the tags introduced (a tag's only carrier must not be crowded past
    the driver window).  Fully deterministic for a given (merged, coverage).

    ``coverage`` should already be change-aware — pass it through
    :func:`effective_coverage` first when fingerprints are available."""
    tag_freq: dict[str, int] = {}
    for q in merged.values():
        for t in set(q.tags):
            tag_freq[t] = tag_freq.get(t, 0) + 1

    tiers: dict[int, list[str]] = {}
    for name in merged:
        tiers.setdefault(coverage.get(name, 0), []).append(name)

    seen_tags: set[str] = set()
    order: list[str] = []
    for round_no in sorted(tiers):
        tier = sorted(tiers[round_no])
        representatives: list[str] = []
        sort_key: dict[str, tuple] = {}
        for name in tier:
            new = set(merged[name].tags) - seen_tags
            if new:
                representatives.append(name)
                covers_required = bool(new & REQUIRED_FAMILIES)
                sort_key[name] = (
                    0 if covers_required else 1,
                    min(tag_freq[t] for t in new),
                    name,
                )
                seen_tags.update(merged[name].tags)
        representatives.sort(key=lambda n: sort_key[n])
        chosen = set(representatives)
        order.extend(representatives + [n for n in tier if n not in chosen])
    return _ensure_window_families(order, merged, coverage)


def write_snapshot() -> dict[str, dict]:
    """Refresh the committed coverage.json from the repo's correctness files,
    recording the CURRENT source fingerprint of every catalog entry (run via
    ``python -m customer_activity_lakehouse_spark.plans.coverage`` — and run
    it right after results land, before editing query code, so the recorded
    fingerprints describe the code the driver checked)."""
    from . import _MERGED  # late import: plans/__init__ imports this module

    coverage = compute_coverage(_REPO_ROOT)
    if not coverage:
        raise SystemExit(f"no CORRECTNESS_r*.json found under {_REPO_ROOT}")
    entries: dict[str, dict] = {}
    for name, round_no in sorted(coverage.items(), key=lambda kv: (kv[1], kv[0])):
        entry: dict = {"round": round_no}
        if name in _MERGED:
            entry["fp"] = source_fingerprint(_MERGED[name])
        entries[name] = entry
    _SNAPSHOT.write_text(json.dumps({"version": 2, "entries": entries}, indent=1) + "\n")
    return entries


if __name__ == "__main__":
    snap = write_snapshot()
    max_round = max(e["round"] for e in snap.values())
    n_fp = sum(1 for e in snap.values() if "fp" in e)
    print(f"wrote {_SNAPSHOT} ({len(snap)} entries, max round {max_round}, {n_fp} fingerprinted)")
