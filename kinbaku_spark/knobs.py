"""Integer ``KB_*`` environment knobs, parsed in one place."""

import os

from kinbaku_spark.exceptions import BadKnob


def env_int(name: str, default: int) -> int:
    """``int(os.environ[name])``, or ``default`` when unset."""
    raw = os.environ.get(name)
    try:
        return default if raw is None else int(raw)
    except ValueError:
        raise BadKnob(f"{name} must be an integer, got {raw!r}") from None
