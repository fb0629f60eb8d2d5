"""Driver-window rotation planner (round-4 verdict ask #2: "rotation as
policy, not a one-off").

The driver evaluates only the FIRST 50 ``queries()`` entries per round
(measured in round 2), so operators beyond the window accumulate local
oracle evidence (tools/compare_oracle.py) but never a driver CORRECTNESS
row. This tool turns the per-round window choice into a reproducible
policy:

1. Load every ``CORRECTNESS_r*.json`` -> per-query driver-verification
   history (which rounds produced a fully green row).
2. Load the registered contract (``queries()`` + ``extra_queries()``) and
   the declarative metadata in ``__spark_entry__.rotation_hints()``:
   ``carriers`` (which sibling's plan exercises a query's distinctive
   machinery) and ``foldable`` (in-window keys the policy may demote,
   with the reason local gates keep covering them; everything else is an
   anchor and never proposed for demotion).
3. Rank promotions: never-driver-verified queries first, carrier-less
   ("standalone machinery") before carried ones, then by name for
   determinism. Rank folds: most green driver rounds first (they have
   the deepest verification history to coast on), then by name.
4. Propose ``min(len(promotable), len(foldable))`` swaps and print the
   resulting window, which must stay at <= 50 entries.

Run:  python tools/rotation.py            # report + proposal
      python tools/rotation.py --check    # exit 1 if a never-verified
                                          # promotable query exists while
                                          # a foldable slot is available
                                          # (i.e. a rotation is overdue)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_history() -> dict[str, set[int]]:
    """query -> rounds with a fully green driver row (rows+schema+hash).

    Only files named exactly ``CORRECTNESS_r<N>.json`` count: a stray copy
    such as ``CORRECTNESS_r01 (2).json`` is skipped, not read as round 12.
    """
    hist: dict[str, set[int]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for key, v in rows.items():
            if (
                isinstance(v, dict)
                and v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
            ):
                hist.setdefault(key, set()).add(rnd)
    return hist


def plan(entry_module=None) -> dict:
    if entry_module is None:
        sys.path.insert(0, REPO)
        import __spark_entry__ as entry_module
    window = list(entry_module.queries().keys())
    extras = list(entry_module.extra_queries().keys())
    hints = entry_module.rotation_hints()
    carriers, foldable = hints["carriers"], hints["foldable"]
    hist = load_history()

    never = [k for k in extras if not hist.get(k)]
    promote = sorted(
        never, key=lambda k: (k in carriers, k)
    )  # standalone machinery first, then name
    folds = sorted(
        [k for k in window if k in foldable],
        key=lambda k: (-len(hist.get(k, ())), k),
    )
    n = min(len(promote), len(folds))
    chosen_in, chosen_out = promote[:n], folds[:n]
    new_window = chosen_in + [k for k in window if k not in set(chosen_out)]
    # coverage soundness: a never-driver-verified query leaning on a
    # carrier needs that carrier to be either IN the driver window (so
    # its machinery keeps earning fresh driver rows) or itself
    # driver-verified at least once (so the chain bottoms out in a real
    # CORRECTNESS row) — otherwise the "covered by carrier" claim is
    # circular and the gate must fail. A query promoted by this plan is
    # in the new window and earns its own driver row, so it is not weak.
    weak_carriers = {
        k: carriers[k]
        for k in extras
        if not hist.get(k)
        and k not in chosen_in
        and k in carriers
        and carriers[k] not in new_window
        and not hist.get(carriers[k])
    }
    return {
        "window": window,
        "extras": extras,
        "history": {k: sorted(v) for k, v in hist.items()},
        "never_driver_verified": never,
        "promote": chosen_in,
        "fold": chosen_out,
        "fold_reasons": {k: foldable[k] for k in chosen_out},
        "new_window": new_window,
        "new_window_size": len(new_window),
        "weak_carriers": weak_carriers,
    }


def main(argv: list[str]) -> int:
    p = plan()
    print(f"window: {len(p['window'])} entries; extras: {len(p['extras'])}")
    print(
        f"never driver-verified ({len(p['never_driver_verified'])}):"
        f" {', '.join(p['never_driver_verified']) or '(none)'}"
    )
    if p["weak_carriers"]:
        print(f"WEAK CARRIERS (never-verified query -> carrier that is"
              f" neither in-window nor driver-verified): {p['weak_carriers']}")
    if not p["promote"]:
        print("proposal: no rotation needed (nothing promotable or no"
              " foldable slot)")
    else:
        print("\nproposed rotation:")
        for k in p["promote"]:
            print(f"  IN  {k}")
        for k in p["fold"]:
            print(f"  OUT {k}  ({p['fold_reasons'][k]})")
        print(f"\nresulting window: {p['new_window_size']} entries"
              f" (must be <= 50:"
              f" {'OK' if p['new_window_size'] <= 50 else 'OVER'})")
    if "--check" in argv:
        overdue = bool(p["promote"]) or bool(p["weak_carriers"])
        print(f"--check: rotation {'OVERDUE' if overdue else 'current'}")
        return 1 if overdue else 0
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
