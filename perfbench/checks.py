"""Output checks against the generators' ground truth. Each returns a
list of problems; an empty list means the output is correct. They run
outside the timed region."""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable

CMP = ("conv_id", "turn_idx", "rule_id", "severity", "scope", "observed")
DAY_VERDICTS = ("pass", "pass_with_warnings")  # day 0, day 1; later days fail


def violation_keys(rows: Iterable) -> Counter:
    return Counter(tuple(r[c] for c in CMP) for r in rows)


def check_violations(got: Counter, want: Counter, what: str = "violations") -> list[str]:
    """Multiset equality in both directions on CMP."""
    missing, extra = want - got, got - want
    out = []
    if missing:
        out.append(f"{what}: {sum(missing.values())} expected rows missing, e.g. {next(iter(missing))}")
    if extra:
        out.append(f"{what}: {sum(extra.values())} unexpected rows, e.g. {next(iter(extra))}")
    return out


def check_verdicts(rows: list, n_turns: int) -> list[str]:
    """Day 0 pass, day 1 pass_with_warnings, day >= 2 fail; total_turns
    summing to the input turn count. (The generator seeds each warning
    kind on about 1 day-1 turn in 1000, so day 1 carries warnings unless
    the table is tiny.)"""
    out = []
    days = sorted(rows, key=lambda r: str(r["ds"]))
    for i, r in enumerate(days):
        want = DAY_VERDICTS[i] if i < len(DAY_VERDICTS) else "fail"
        if r["verdict"] != want:
            out.append(f"verdict of day {i} ({r['ds']}) is {r['verdict']!r}, want {want!r}")
    total = sum(int(r["total_turns"]) for r in rows)
    if total != n_turns:
        out.append(f"verdict total_turns sum {total} != input turns {n_turns}")
    return out


def check_resume(killed_ran: list[str], resume: dict, partitions: list[str]) -> list[str]:
    """A resume skips exactly the partitions the killed run completed and
    runs exactly the rest."""
    out = []
    if sorted(resume["skipped"]) != sorted(killed_ran):
        out.append(f"resume skipped {sorted(resume['skipped'])}, killed run completed {sorted(killed_ran)}")
    rest = sorted(set(partitions) - set(killed_ran))
    if sorted(resume["ran"]) != rest:
        out.append(f"resume ran {sorted(resume['ran'])}, want {rest}")
    return out


def check_serving(response: dict, want: Counter) -> list[str]:
    if response.get("status") != "success":
        return [f"serving status {response.get('status')!r}: {response.get('message')}"]
    return check_violations(violation_keys(response["violations"]), want, "serving violations")


def check_curation(stages: list[dict], kept_ids: Iterable[int], truth: dict) -> list[str]:
    """Exact stage removes exactly the planted exact copies; every planted
    near-duplicate copy and short document is dropped; every original
    survives."""
    out = []
    by = {s["stage"]: s for s in stages}
    n_exact = truth["n_docs"] - len(truth["exact_copies"])
    if by.get("exact_dedup", {}).get("kept") != n_exact:
        out.append(f"exact stage kept {by.get('exact_dedup', {}).get('kept')}, want {n_exact}")
    kept = set(kept_ids)
    near_kept = kept & set(truth["near_copies"])
    if near_kept:
        out.append(f"{len(near_kept)} planted near-duplicate copies kept, e.g. {min(near_kept)}")
    want = set(truth["originals"])
    if kept != want:
        out.append(
            f"kept {len(kept)} docs, want the {len(want)} originals "
            f"({len(want - kept)} missing, {len(kept - want)} extra)"
        )
    return out
