"""Remote-source surface (SURVEY.md §2.1): the Arrow-IPC-over-HTTP scan
(`dd_read_arrow`), server-side aggregation (`dd_read_arrow_agg`: Spark
SQL aggregate expressions over the base relation filtered by a
server-dialect `where`, pushed to the server by the reader), split
introspection (`dd_splits`), the in-memory Arrow IPC buffer scan
(`dd_scan_arrow_ipc`), and a local wire-protocol server for tests.

Remote scans run in one reader, the JVM DSv2 source in
`scala/DdArrowShim.scala` (`jars/dd_arrow_shim.jar`, format
``dd_arrow_dsv2``). `register(spark)` (from `..jvm`) loads the jar into
the session; the builders call it themselves."""

from .arrow_http import (
    dd_read_arrow,
    dd_read_arrow_agg,
    dd_read_arrow_narrow,
    dd_splits,
)
from ..jvm import register
from .ipc import dd_scan_arrow_ipc, to_arrow_ipc

__all__ = [
    "dd_read_arrow",
    "dd_read_arrow_agg",
    "dd_read_arrow_narrow",
    "dd_scan_arrow_ipc",
    "dd_splits",
    "register",
    "to_arrow_ipc",
]
