"""Spans and counters for the traced run.

Nothing here is imported by ``pql_spark``.  ``Tracer.install`` wraps the
entry points of each layer from the outside (module attributes the layers
call each other through, ``SparkSession.sql`` and the py4j client's
``send_command``) and ``Tracer.uninstall`` puts the originals back, so an
untraced pass runs the unmodified program.  Spans are kept in memory and
written out by the caller at the end of the run.

A span's self time is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import py4j.java_gateway
from pyspark.sql import SparkSession

import pql_spark.engine
import pql_spark.parser
import pql_spark.sql_backend
from pql_spark.parser import QueryError


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
            "py4j": 0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    # -- wrapping the layers from outside ---------------------------------

    def _patch(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name) as rec:
                try:
                    out = orig(*args, **kwargs)
                except QueryError:
                    rec["refused"] = 1
                    raise
                if after is not None:
                    after(rec, out)
                return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        """Wrap lexer, parser, SQL emitter, DataFrame compiler, the
        ``spark.sql`` call and the py4j client for the next passes."""
        if self._saved:
            return

        def tokens(rec, out):
            rec["tokens"] = len(out)

        def sql_bytes(rec, out):
            texts = out.values() if isinstance(out, dict) else [out]
            rec["sql_bytes"] = sum(len(s.encode()) for s in texts)

        self._patch(pql_spark.parser, "scan", "lexer", tokens)
        self._patch(pql_spark.sql_backend, "parse", "parser")
        self._patch(pql_spark.engine, "parse", "parser")
        self._patch(pql_spark.sql_backend, "compile_to_sql", "sql_backend",
                    sql_bytes)
        self._patch(pql_spark.sql_backend, "compile_to_sql_multi",
                    "sql_backend", sql_bytes)
        self._patch(pql_spark.engine, "compile_pql", "compiler")
        self._patch(SparkSession, "sql", "spark.sql")
        # pyspark's JavaClient inherits send_command from GatewayClient
        client = py4j.java_gateway.GatewayClient
        orig = client.send_command
        self._saved.append((client, "send_command", orig))
        client.send_command = self._counting(orig)

    def _counting(self, orig):
        stack = self._stack

        def send_command(client, *args, **kwargs):
            if stack:
                stack[-1]["py4j"] += 1
            return orig(client, *args, **kwargs)

        return send_command

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> list[dict]:
    """Each span with ``ms`` (duration), ``self_ms`` (duration minus its
    children) and ``py4j_all`` (its py4j calls plus its descendants')."""
    out = {s["id"]: dict(s, ms=(s["t1"] - s["t0"]) * 1e3) for s in spans}
    for s in out.values():
        s["self_ms"] = s["ms"]
        s["py4j_all"] = s["py4j"]
    # children always have larger ids than their parents
    for s in sorted(out.values(), key=lambda r: -r["id"]):
        if s["parent"] is not None and s["parent"] in out:
            parent = out[s["parent"]]
            parent["self_ms"] -= s["ms"]
            parent["py4j_all"] += s["py4j_all"]
    return list(out.values())
