"""``KB_*`` environment knobs, integers and flags, parsed in one place."""

import os

from kinbaku_spark.exceptions import BadKnob


def env_int(name: str, default: int) -> int:
    """``int(os.environ[name])``, or ``default`` when unset."""
    raw = os.environ.get(name)
    try:
        return default if raw is None else int(raw)
    except ValueError:
        raise BadKnob(f"{name} must be an integer, got {raw!r}") from None


def env_flag(name: str) -> bool:
    """Whether flag ``name`` is on: unset, ``""`` and ``"0"`` are off, ``"1"`` is on."""
    raw = os.environ.get(name, "")
    if raw not in ("", "0", "1"):
        raise BadKnob(f"{name} must be 0 or 1, got {raw!r}")
    return raw == "1"
