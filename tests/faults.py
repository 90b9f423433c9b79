"""Crash injection for the table store. Every file-system step that makes
a store write visible is one call of the store's `_publish` attribute,
so failing its k-th call simulates the process dying at that step. The
wrapper is set on one store instance, never on the class, so nothing
shared by other stores or threads changes."""

from __future__ import annotations


class InjectedCrash(BaseException):
    """A simulated process death. A BaseException, so no `except
    Exception` fallback inside the store (the Arrow small-write path)
    can absorb it and carry on."""


def crash_at(store, k: int, dst_contains: str = "") -> None:
    """From now on, `store`'s k-th publish whose target path contains
    `dst_contains` raises InjectedCrash before renaming anything; every
    other publish runs normally."""
    real = store._publish
    seen = 0

    def failing(src: str, dst: str) -> None:
        nonlocal seen
        if dst_contains in dst:
            seen += 1
            if seen == k:
                raise InjectedCrash(f"crash at publish {k} ({dst})")
        real(src, dst)

    store._publish = failing


def record_publishes(store) -> list[tuple[str, str]]:
    """From now on, append (src, dst) of each of `store`'s publishes to
    the returned list; the publishes still run."""
    real = store._publish
    seen: list[tuple[str, str]] = []

    def recording(src: str, dst: str) -> None:
        seen.append((src, dst))
        real(src, dst)

    store._publish = recording
    return seen
