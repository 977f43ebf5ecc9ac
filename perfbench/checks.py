"""Output checks. Each returns ``None`` when the output is right and a short
reason when it is not; the caller counts a reason as a failed operation."""

from __future__ import annotations

import hashlib
from collections import Counter
from decimal import Decimal


def check_tallies(got: Counter, got_trust: Decimal, want: Counter,
                  want_trust: Decimal) -> "str | None":
    """Routed pipeline output against the generator's verdict tallies."""
    if got != want:
        return f"verdict tallies differ: got {dict(got)}, want {dict(want)}"
    if got_trust != want_trust:
        return f"trust-score sum differs: got {got_trust}, want {want_trust}"
    return None


def result_digest(cols: list[str], pdf) -> str:
    """Order-insensitive digest of a result frame, built on the oracle
    canonicalizer of the test suite (exact, type-faithful cell reprs)."""
    from tests.oracle import canonicalize

    classes, rows = canonicalize(cols, pdf)
    h = hashlib.sha256(repr(sorted(classes.items())).encode())
    h.update(repr(len(rows)).encode())
    for row in rows:
        h.update(repr(row).encode())
    return h.hexdigest()


def check_digest(name: str, got: str, want: str) -> "str | None":
    if got != want:
        return f"{name}: result digest {got[:12]} != oracle digest {want[:12]}"
    return None
