"""Correctness-sampling order for the grading driver.

The driver samples the first ``_SAMPLE_WINDOW`` entries of
``__spark_entry__.queries()`` each round and records their three-way
(rows/schema/hash) result in ``CORRECTNESS_r{k}.json`` at the repo root.
``order`` puts every entry without a current driver-green record first,
in catalog order, and the verified ones behind them, so each round's
window re-draws what most needs a driver signature. Queries only ever
verified by the local DuckDB differential (tests/test_oracle.py, which
covers every entry regardless of order) fill the window first.

The inputs are the committed round files and git history, so this module
is driver tooling beside ``__spark_entry__.py``, not library code:
importing ``spark_jdbc_limit_spark`` reads none of them, ``REGISTRY``
keeps registration order, and ``ship_package`` does not ship this file.
``__spark_entry__.queries()`` is the one place the order is applied.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import subprocess
import warnings
from collections.abc import Callable, Mapping

from spark_jdbc_limit_spark.operators import REGISTRY, QuerySpec

ROOT = os.path.dirname(os.path.abspath(__file__))

#: The driver's per-round correctness sample size: the first this-many
#: entries get a driver-signed three-way row each round. The staleness
#: bound the order maintains is ceil(n_entries / window). The window is the
#: DRIVER's sampling behaviour, not ours to grow, so the bound stays the
#: formula: it self-adjusts (to 8) the moment the registry crosses 350
#: entries, and tier 1 enforces whatever the formula says at the current
#: count; ROTATION.json's history row records the achieved max each round.
_SAMPLE_WINDOW = 50

#: name → (round, record) of the newest driver record for that name.
Latest = dict[str, tuple[int, dict]]


def read_rounds(root: str = ROOT) -> tuple[Latest, int]:
    """Read the round files under ``root`` once: ``(latest, current)``.

    Per name only the LATEST round's record decides: a green in an old
    round must not outvote a later red (the regression would rotate to the
    back and its fix never be re-drawn), and a later green supersedes an
    old red. Precedence comes from the round number in the file name, not
    from glob order. ``current`` is the highest round number among the
    files present, not the max round of any green record: a round whose
    sampled entries all ended red must still advance the clock.
    """
    latest: Latest = {}
    current = 0
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else -1
        current = max(current, rnd)
        try:
            with open(path) as f:
                data = json.load(f)
            for n, rec in data.items():
                if isinstance(rec, dict) and (n not in latest or rnd > latest[n][0]):
                    latest[n] = (rnd, rec)
        except Exception as exc:  # an unreadable round file never blocks...
            # ...but silence would let already-verified queries creep back
            # into the sampling window unnoticed
            warnings.warn(
                f"rotation: could not read {path!r} ({exc}); its queries may "
                "re-enter the correctness sampling window",
                RuntimeWarning,
                stacklevel=2,
            )
    return latest, current


def verified_rounds(names: Mapping[str, QuerySpec], latest: Latest) -> dict[str, int]:
    """Registered name → round of its driver-verified latest record.

    Left out, so the entry re-enters the front of the window:
    - a CRASHED check (non-null ``err`` other than the by-design
      ``no_oracle`` rows-only marker);
    - a RED three-way record (any of rows/schema/hash false): otherwise a
      one-round red rotates to the back and the fix never gets a driver
      signature;
    - a rows-only ``no_oracle`` record (the driver writes null match
      fields: nothing to compare against) for an entry that has since
      gained an oracle, since the stronger three-way check has not run.
    """
    rounds: dict[str, int] = {}
    for n, (rnd, rec) in latest.items():
        spec = names.get(n)
        if spec is None:
            continue
        if rec.get("err"):
            if rec["err"] != "no_oracle" or spec.oracle is not None:
                continue
        elif not (rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match")):
            continue
        rounds[n] = rnd
    if latest and not rounds:
        warnings.warn(
            "rotation: CORRECTNESS records present but no sampled names parsed; "
            "registry order will not rotate this round",
            RuntimeWarning,
            stacklevel=2,
        )
    return rounds


def order(
    names: Mapping[str, QuerySpec],
    latest: Latest,
    current: int,
    changed_since: Callable[[str, int], bool],
) -> list[str]:
    """The driver's sampling order over ``names`` (registration order).

    Unverified entries (see ``verified_rounds``) come first, in
    registration order. The verified block follows in three tiers, each
    stalest-green first (ascending verifying round, ties by position):

    1. staleness-CRITICAL: entries that must be re-drawn this round or
       their rounds-since-green would exceed the bound
       ceil(n_entries / ``_SAMPLE_WINDOW``), the hard invariant;
    2. CHURNED: ``changed_since(module, round)`` holds for the builder's
       module, i.e. it or a package module it imports changed since the
       round that greened the entry, so its driver signature certifies
       code that no longer exists;
    3. everything else.

    Tier 2 never displaces tier 1, so churn cannot break the staleness
    bound; with no churn information tier 2 is empty and the order is
    pure staleness.
    """
    rounds = verified_rounds(names, latest)
    bound = max(2, -(-len(names) // _SAMPLE_WINDOW))
    pos = {n: i for i, n in enumerate(names)}

    def tier(n: str) -> int:
        if current - rounds[n] >= bound - 1:
            return 1
        module = names[n].builder.__module__.replace(".", "/") + ".py"
        return 2 if changed_since(module, rounds[n]) else 3

    unverified = [n for n in names if n not in rounds]
    return unverified + sorted(rounds, key=lambda n: (tier(n), rounds[n], pos[n]))


def changed_since(module: str, round_: int) -> bool:
    """True when repo-relative ``module``, or a package module it imports,
    changed since round ``round_``'s boundary commit; False when git or
    the boundary commit is unavailable."""
    changed = changed_paths(round_)
    return changed is not None and (
        module in changed or not module_deps(module).isdisjoint(changed)
    )


@functools.cache
def changed_paths(round_: int) -> set[str] | None:
    """Repo-relative package paths changed since round ``round_``'s
    boundary commit (subject ``round {N}: ...``), committed AND working
    tree. None when git or the boundary commit is unavailable (a fresh
    checkout without history, or no git at all): the order then falls
    back to pure staleness."""
    changed: set[str] | None = None
    try:
        log = subprocess.run(
            ["git", "-C", ROOT, "log", "--format=%H %s"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        sha = None
        if log.returncode == 0:
            for line in log.stdout.splitlines():
                h, _, subject = line.partition(" ")
                if subject.startswith(f"round {round_}:"):
                    sha = h
                    break  # newest matching boundary commit
        if sha is not None:
            diff = subprocess.run(
                ["git", "-C", ROOT, "diff", "--name-only", sha, "--",
                 "spark_jdbc_limit_spark"],
                capture_output=True,
                text=True,
                timeout=30,
            )
            if diff.returncode == 0:
                changed = {p.strip() for p in diff.stdout.splitlines() if p.strip()}
    except Exception as exc:
        warnings.warn(
            f"rotation: churn lookup for round {round_} failed ({exc}); "
            "falling back to pure staleness order",
            RuntimeWarning,
            stacklevel=2,
        )
    return changed


@functools.cache
def module_deps(module: str) -> frozenset[str]:
    """Repo-relative paths of the package modules ``module`` imports: the
    helpers whose change also churn-promotes its entries (a builder in
    pipeline.py whose cut logic lives in dedup.py must move on a dedup.py
    refactor). Derived from the source's ``from spark_jdbc_limit_spark.*
    import`` statements, not a hand-kept map. One level deep by design:
    helper-of-helper edits almost always show in the direct helper too,
    and depth 1 already over-approximates (every module importing
    ``operators/registry.py`` moves when it changes), which is safe since
    tier 2 never displaces tier 1."""
    deps: set[str] = set()
    try:
        with open(os.path.join(ROOT, module)) as f:
            src = f.read()
        for m in re.finditer(r"from (spark_jdbc_limit_spark[.\w]*) import", src):
            deps.add(m.group(1).replace(".", "/") + ".py")
    except OSError:
        pass
    deps.discard(module)
    return frozenset(deps)


def rotation_stats() -> dict:
    """Staleness accounting for the committed ROTATION.json artifact: the
    order puts the verified block stalest-green first, and this makes the
    achieved bound a number. ``max_rounds_since_green`` should stay
    ≤ ceil(n_entries / sample window).

    ``history`` holds one row per round: git HEAD's committed rows plus
    the current round's, which each bench run overwrites. A build session
    runs between driver rounds, so a round's row reflects its LAST bench
    run, the registry state the next round's grading sees; past rows are
    never reconstructed.
    """
    latest, current = read_rounds()
    known = verified_rounds(REGISTRY, latest)
    since = {n: current - r for n, r in known.items()}
    stats = {
        "current_round": current,
        "n_entries": len(REGISTRY),
        "n_verified_green": len(known),
        "n_unverified": len(REGISTRY) - len(known),
        "max_rounds_since_green": max(since.values(), default=None),
        "stalest": sorted(since, key=since.get, reverse=True)[:10],
    }
    by_round: dict[int, dict] = {}
    try:
        committed = subprocess.run(
            ["git", "-C", ROOT, "show", "HEAD:ROTATION.json"],
            capture_output=True,
            text=True,
            timeout=30,
        )
        if committed.returncode == 0:
            for row in json.loads(committed.stdout).get("history", []):
                if isinstance(row, dict) and row.get("round") is not None:
                    by_round[row["round"]] = row
    except Exception as exc:
        warnings.warn(
            f"rotation: could not read HEAD:ROTATION.json ({exc}); history "
            "is missing its committed rows",
            RuntimeWarning,
            stacklevel=2,
        )
    by_round[current] = {
        "round": current,
        "n_entries": stats["n_entries"],
        "max_rounds_since_green": stats["max_rounds_since_green"],
    }
    stats["history"] = [by_round[r] for r in sorted(by_round)]
    return stats
