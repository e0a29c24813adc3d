"""Correctness gate: every url's extracted text is byte-identical to the
generator's expected text, and every url appears exactly once."""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable
from dataclasses import dataclass


@dataclass
class GateResult:
    checked: int  # distinct expected urls
    missing: int  # expected urls absent from the output
    duplicated: int  # urls that appear more than once
    extra: int  # output urls the corpus does not hold
    mismatched: int  # output rows whose text differs from the expected text

    @property
    def failures(self) -> int:
        return self.missing + self.duplicated + self.extra + self.mismatched

    @property
    def ok(self) -> bool:
        return self.failures == 0


def check_texts(
    rows: Iterable[tuple[str, str | None]], expected: dict[str, str]
) -> GateResult:
    """Compare (url, text) output rows with *expected* (url -> text)."""
    seen: Counter[str] = Counter()
    mismatched = 0
    for url, text in rows:
        seen[url] += 1
        if url in expected and (text or "") != expected[url]:
            mismatched += 1
    return GateResult(
        checked=len(expected),
        missing=sum(1 for url in expected if url not in seen),
        duplicated=sum(1 for n in seen.values() if n > 1),
        extra=sum(1 for url in seen if url not in expected),
        mismatched=mismatched,
    )
