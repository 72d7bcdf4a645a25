"""Output checks.  Each returns ``(ok, detail)``; they take plain Python
data collected after the timed region, so a test can hand them a
corrupted copy and expect a failure."""

from __future__ import annotations

SCHEDULE_COLS = ("round", "seq", "url", "uh48", "first_ip", "priority",
                 "hop_count", "fetch_time_ms")


def schedule_parity(got: list[tuple], oracle: list[dict]) -> tuple[bool, str]:
    """Spark schedule rows (SCHEDULE_COLS order, sorted by round, seq)
    against the oracle crawler's schedule, row for row."""
    want = [tuple(s[c] for c in SCHEDULE_COLS) for s in oracle]
    if len(got) != len(want):
        return False, f"{len(got)} scheduled rows, oracle has {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if tuple(g) != w:
            return False, f"row {i}: spark={tuple(g)} oracle={w}"
    return True, f"{len(got)} rows match the oracle"


def url_seen_parity(got: set, oracle: set) -> tuple[bool, str]:
    if got == oracle:
        return True, f"{len(got)} urls match the oracle"
    return False, (f"{len(got - oracle)} extra, {len(oracle - got)} "
                   f"missing of {len(oracle)}")


def mature_invariants(rows: list[tuple], budget: int,
                      known: int) -> tuple[bool, str]:
    """One round of a mature frontier whose due candidates exceed the
    budget.  ``rows`` are (seq, uh48, priority, fetch_time_ms); ``known``
    is how many of the scheduled uh48 exist in the frontier."""
    if len(rows) != budget:
        return False, f"scheduled {len(rows)}, budget {budget}"
    by_seq = sorted(rows)
    if [r[0] for r in by_seq] != list(range(len(rows))):
        return False, "seq is not 0..n-1"
    if len({r[1] for r in rows}) != len(rows):
        return False, "a uh48 is scheduled twice in one round"
    order = sorted(rows, key=lambda r: (-r[2], r[3], r[1]))
    if [r[0] for r in order] != list(range(len(rows))):
        return False, "seq does not follow (priority desc, fetch_time, uh48)"
    if known != len(rows):
        return False, f"{len(rows) - known} scheduled uh48 not in frontier"
    return True, f"{len(rows)} rows, seq ordered, all in frontier"


def mature_pin(got: list[list[int]], pinned: list[list[int]] | None
               ) -> tuple[bool, str]:
    """Per-round [scheduled, xor checksum] against the values pinned for
    this seed; rounds past the pinned list are not compared."""
    if not pinned:
        return True, "no pin for this seed"
    n = min(len(got), len(pinned))
    for r in range(n):
        if list(got[r]) != list(pinned[r]):
            return False, f"round {r}: got {got[r]}, pinned {pinned[r]}"
    return True, f"{n} rounds match the pin"


def drain_appends(rows_before: int, rows_after: int, distinct_after: int,
                  new_urls: int) -> tuple[bool, str]:
    """One add-url drain, read from the snapshots just before it and just
    after it (before any compaction folds duplicates): every uh48 of the
    table is stored once, and the drain appended exactly its distinct
    new urls — none of the re-fed ones."""
    if rows_after != distinct_after:
        return False, (f"{rows_after - distinct_after} uh48 stored more "
                       "than once after the drain")
    appended = rows_after - rows_before
    if appended != new_urls:
        return False, f"appended {appended} rows, {new_urls} new urls fed"
    return True, f"appended {appended} new urls, no uh48 twice"


def ingest_accounting(rows: list[tuple], seeded: set, expected_new: set
                      ) -> tuple[bool, str]:
    """``rows`` are (url, uh48) of the requests table after the last
    drain.  The accepted urls must be exactly the distinct new canonical
    urls the generator emitted."""
    accepted = {u for u, _ in rows} - seeded
    if accepted != expected_new:
        return False, (f"accepted {len(accepted)}, expected "
                       f"{len(expected_new)} "
                       f"({len(accepted - expected_new)} unexpected, "
                       f"{len(expected_new - accepted)} missing)")
    return True, f"{len(accepted)} new urls accepted"
