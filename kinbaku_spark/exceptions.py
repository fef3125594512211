"""Engine exceptions, API-parity with the reference's kinbaku/exception.py.

The reference raises NodeNotFound / EdgeNotFound on missing point lookups
(kinbaku/exception.py:1-31, graph.py:1032-1036, 1063-1067). KeyTooLong is
NOT raised by the Parquet-backed engine itself: the fixed-width key limit
(graph.py:1366-1367) is a storage artifact lifted by variable-length
strings (documented deviation, SURVEY.md §7.3). The ONE place the limit is
real is exporting INTO the reference's fixed-width binary format
(sources/kinbaku_file.py), where KeyTooLong is raised with the reference's
own semantics.
"""


class KinbakuSparkError(Exception):
    pass


class NodeNotFound(KinbakuSparkError, KeyError):
    pass


class EdgeNotFound(KinbakuSparkError, KeyError):
    pass


class BadArgument(KinbakuSparkError, TypeError):
    pass


class KeyTooLong(KinbakuSparkError, ValueError):
    """Raised only when exporting to the reference's fixed-width binary
    format (its constraint, kinbaku/graph.py:1366-1367); the Parquet
    engine itself has no key-length limit."""


class BadKnob(KinbakuSparkError, ValueError):
    """An integer ``KB_*`` environment knob holds a non-integer value."""
