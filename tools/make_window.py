"""Generate the next round's driver_window.json entry automatically.

The window discipline (one 50-name front-loaded list per round,
append-only audit trail) has been hand-composed each round from
`tools/window_staleness.py` output. This tool composes it by the same
priority rules, so rounds 10+ are one command instead of a by-hand
merge — and the in-suite rotation gate
(tests/test_driver_window.py::test_no_query_staler_than_5_rounds_without_rotation)
verifies the result like any hand-written window.

Priority order (first 50 win):
1. currently red at their latest sample (must re-verify first);
2. never sampled (new queries the frozen previous windows can't hold);
3. stale (newest green row older than newest_sampled - 4), oldest
   first;
4. everything else by oldest newest-green row, name as tie-break —
   so the rotation keeps cycling even when nothing is formally stale.

Usage: python tools/make_window.py --round N [--apply]
Default is a dry run printing the JSON entry; --apply appends it to
driver_window.json (refusing if round N already exists). Either way,
if the headroom check fails the entry and the report are printed and
the run exits non-zero without appending.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def _history() -> tuple[dict, dict, dict]:
    """(last_green, last_sample, latest_ok) from CORRECTNESS_r*.json."""
    last_green: dict[str, int] = {}
    last_sample: dict[str, int] = {}
    latest_ok: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            ok = (
                bool(row.get("rows_match"))
                and row.get("hash_match") is not False
                and not row.get("err")
            )
            if rnd >= last_sample.get(name, 0):
                last_sample[name] = rnd
                latest_ok[name] = ok
            if ok:
                last_green[name] = max(rnd, last_green.get(name, 0))
    return last_green, last_sample, latest_ok


def compose(
    registry_names: list[str], history: tuple[dict, dict, dict] | None = None
) -> tuple[list[str], dict]:
    last_green, last_sample, latest_ok = (
        history if history is not None else _history()
    )

    newest = max(last_sample.values()) if last_sample else 0
    cutoff = newest - 4
    red = sorted(n for n in registry_names if n in latest_ok and not latest_ok[n])
    never = sorted(n for n in registry_names if n not in last_sample)
    stale = sorted(
        (n for n in registry_names if 0 < last_green.get(n, 0) < cutoff),
        key=lambda n: (last_green[n], n),
    )
    rest = sorted(
        (
            n
            for n in registry_names
            if n in last_green and last_green[n] >= cutoff
        ),
        key=lambda n: (last_green[n], n),
    )
    out: list[str] = []
    for tier in (red, never, stale, rest):
        for n in tier:
            if n not in out:
                out.append(n)
            if len(out) == WINDOW:
                break
        if len(out) == WINDOW:
            break
    meta = {
        "newest_sampled": newest,
        "cutoff": cutoff,
        "n_red": len(red),
        "n_never": len(never),
        "n_stale": len(stale),
    }
    return out, meta


def headroom(registry_names: list[str], rounds_ahead: int = 2) -> dict:
    """Window-budget headroom check (VERDICT r9 stretch #8): simulate
    the next ``rounds_ahead`` auto-composed windows (assuming every
    sampled query goes green) and verify the 50-slot budget absorbs the
    must-sample load — currently-red + never-sampled + newly-stale —
    with no query left violating the staleness invariant after each
    simulated round. The registry grew 218→222→224→227 across rounds;
    at that pace the rotation stays feasible, but a +20-query round
    would silently break it — this makes the break loud at window-
    composition time instead of a round later."""
    last_green, last_sample, latest_ok = _history()
    if not last_sample:
        return {"rounds": [], "fits": True}
    newest = max(last_sample.values())
    rounds_out: list[dict] = []
    fits_all = True
    for step in range(1, rounds_ahead + 1):
        rnd = newest + step
        names, meta = compose(
            registry_names, (last_green, last_sample, latest_ok)
        )
        must = meta["n_red"] + meta["n_never"] + meta["n_stale"]
        for n in names:
            last_sample[n] = rnd
            latest_ok[n] = True
            last_green[n] = rnd
        offenders = sorted(
            n
            for n in registry_names
            if n in last_sample and last_green.get(n, 0) < rnd - 4
        )
        fits = must <= WINDOW and not offenders
        fits_all = fits_all and fits
        rounds_out.append(
            {
                "round": rnd,
                "must_sample": must,
                "post_round_offenders": offenders,
                "fits": fits,
            }
        )
    return {"rounds": rounds_out, "fits": fits_all}


def main() -> None:
    args = sys.argv[1:]
    if "--round" not in args:
        raise SystemExit("usage: make_window.py --round N [--apply]")
    rnd = int(args[args.index("--round") + 1])
    apply = "--apply" in args

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    registry_names = list(entry_mod.queries())
    names, meta = compose(registry_names)
    hr = headroom(registry_names)
    why = (
        f"auto (tools/make_window.py): red first ({meta['n_red']}), then "
        f"never-sampled ({meta['n_never']}), then stale<r{meta['cutoff']} "
        f"({meta['n_stale']}), then oldest-green rotation to "
        f"{WINDOW} slots."
    )
    entry = {"round": rnd, "why": why, "names": names}
    print(json.dumps({"entry": entry, **meta, "headroom": hr}, indent=1))
    if not hr["fits"]:
        raise SystemExit(
            "window budget exceeded for the next two rounds: "
            + json.dumps(hr)
        )
    if not apply:
        return
    path = os.path.join(REPO, "driver_window.json")
    with open(path) as f:
        doc = json.load(f)
    if any(r["round"] >= rnd for r in doc["rounds"]):
        raise SystemExit(f"round {rnd} (or later) already present; refusing")
    doc["rounds"].append(entry)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"appended round {rnd} window to driver_window.json")


if __name__ == "__main__":
    main()
