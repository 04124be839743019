"""Span tracer for the benchmark's traced run.

Every layer is timed from outside: :meth:`Tracer.install` wraps the
package's public entry points the workloads reach (``DBT``
construction, ``DBT.transform``, ``DBT.do_transport``, catalog reads,
writes and staged commits, ``operators.dedup.ngram_jaccard_pairs``,
``stream_dedup_gate`` and ``release_pins``) and the py4j gateway
client's ``send_command``, and
:meth:`Tracer.uninstall` puts the originals back.  No library code
changes.

A span has a name, start, end and parent.  Spans are kept in memory and
written out when the run ends.  Spans opened on the main thread also set
the Spark job group to the span id, so every job the span submits can be
found in the UI's REST ``/jobs`` listing.  Jobs in any other group (a
streaming query's micro-batches run under the query's run id) are
attributed by submission time to the innermost span open at that moment,
which for the ingest gate is the enclosing ``stream_dedup_gate`` span
(``gate.batch``).
"""

from __future__ import annotations

import datetime
import functools
import json
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "wall_start",
                 "wall_end", "py4j_calls", "py4j_s", "attrs")

    def __init__(self, sid: int, name: str, parent: "Span | None"):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = self.end = 0.0
        self.wall_start = self.wall_end = 0.0
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.attrs: dict = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def ancestors(self):
        s = self.parent
        while s is not None:
            yield s
            s = s.parent

    def to_json(self) -> dict:
        return {
            "id": self.id, "name": self.name,
            "parent": self.parent.id if self.parent else None,
            "start": self.start, "end": self.end,
            "py4j_calls": self.py4j_calls, "py4j_s": self.py4j_s,
            **self.attrs,
        }


class Tracer:
    """Spans of one traced run, and the patches that record them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # >0 while the tracer itself talks to the JVM (job groups): those
        # py4j commands are not the program's
        self._quiet = 0

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        on_main = threading.current_thread() is threading.main_thread()
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            s = Span(len(self.spans), name, parent)
            self.spans.append(s)
            self._stack.append(s)
        if on_main:
            self._set_group(s)
        s.wall_start = time.time()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            with self._lock:
                self._stack.remove(s)
            if on_main:
                self._set_group(parent)

    def _set_group(self, s: "Span | None") -> None:
        self._quiet += 1
        try:
            if s is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(str(s.id), s.name)
        finally:
            self._quiet -= 1

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, fn, name: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(s, out)
            return out

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def _patch_function(self, module, name: str, span_name: str,
                        on_result=None) -> None:
        """Replace ``module.name`` and every loaded package module's
        reference to the same function object (names imported with
        ``from ... import``)."""
        orig = getattr(module, name)
        new = self._wrap(orig, span_name, on_result)
        for m in list(sys.modules.values()):
            mod_name = getattr(m, "__name__", "") or ""
            if not (mod_name.startswith("database_transportor_spark")
                    or mod_name == "__spark_entry__"):
                continue
            if m.__dict__.get(name) is orig:
                self._patch(m, name, new)

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        import database_transportor_spark.operators.dedup as dedup
        import database_transportor_spark.operators.pins as pins
        import database_transportor_spark.streaming.dedup_gate as gate
        from database_transportor_spark import engine
        from database_transportor_spark.sources import catalog

        self._patch(engine.DBT, "__init__",
                    self._wrap(engine.DBT.__init__, "spec.parse"))
        self._patch(engine.DBT, "transform",
                    self._wrap(engine.DBT.transform, "engine.transform"))
        self._patch(engine.DBT, "do_transport",
                    self._wrap(engine.DBT.do_transport, "engine.do_transport"))
        for cls in (catalog.FileCatalog, catalog.MemoryCatalog):
            for attr, name in (("read", "catalog.read"),
                               ("write", "catalog.write"),
                               ("commit_staged", "catalog.commit")):
                self._patch(cls, attr, self._wrap(cls.__dict__[attr], name))
        self._patch_function(dedup, "ngram_jaccard_pairs",
                             "dedup.ngram_jaccard_pairs")
        self._patch_function(gate, "stream_dedup_gate", "gate.batch")

        def count_pins(s, n):
            s.attrs["pins"] = n

        self._patch_function(pins, "release_pins", "pins.release", count_pins)

        tracer = self
        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            orig = cls.__dict__["send_command"]

            def send_command(conn, *args, _orig=orig, **kwargs):
                with tracer._lock:
                    s = tracer._stack[-1] if tracer._stack else None
                if s is None or tracer._quiet:
                    return _orig(conn, *args, **kwargs)
                t0 = time.perf_counter()
                try:
                    return _orig(conn, *args, **kwargs)
                finally:
                    s.py4j_calls += 1
                    s.py4j_s += time.perf_counter() - t0

            self._patch(cls, "send_command", send_command)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark job attribution ---------------------------------------------
    def _rest(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = (f"http://127.0.0.1:{port}/api/v1/applications/"
               f"{self.sc.applicationId}/{path}")
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def collect_jobs(self) -> None:
        """Attach each finished Spark job's stage metrics, written rows and
        bytes included, to the span that submitted it (``attrs["jobs"]``,
        a list of per-job dicts)."""
        self._quiet += 1
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = self._rest("jobs")
            attempts = self._rest("stages?details=false")
        finally:
            self._quiet -= 1
        by_stage: dict[int, list[dict]] = {}
        for st in attempts:
            if st["status"] != "SKIPPED":
                by_stage.setdefault(st["stageId"], []).append(st)
        by_id = {s.id: s for s in self.spans}
        timed = sorted(self.spans, key=lambda s: s.wall_start)
        for j in jobs:
            owner = None
            group = j.get("jobGroup")
            if group is not None and group.isdigit():
                owner = by_id.get(int(group))
            if owner is None:
                owner = self._span_at(timed, _parse_time(j["submissionTime"]))
            if owner is None:
                continue
            rec = {"stages": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0,
                   "gc_s": 0.0, "input_bytes": 0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0, "spill_bytes": 0,
                   "rows_written": 0, "bytes_written": 0}
            for sid in j["stageIds"]:
                for st in by_stage.get(sid, []):
                    rec["stages"] += 1
                    rec["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    rec["failed_tasks"] += st["numFailedTasks"]
                    rec["task_s"] += st["executorRunTime"] / 1000.0
                    rec["gc_s"] += st["jvmGcTime"] / 1000.0
                    rec["input_bytes"] += st["inputBytes"]
                    rec["shuffle_read_bytes"] += st["shuffleReadBytes"]
                    rec["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                    rec["spill_bytes"] += (st["memoryBytesSpilled"]
                                           + st["diskBytesSpilled"])
                    rec["rows_written"] += st["outputRecords"]
                    rec["bytes_written"] += st["outputBytes"]
            owner.attrs.setdefault("jobs", []).append(rec)

    @staticmethod
    def _span_at(timed: list[Span], t: float) -> "Span | None":
        best = None
        for s in timed:
            if s.wall_start > t:
                break
            if s.wall_end >= t:
                best = s  # later start inside the window = more inner
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.to_json() for s in self.spans], f)


def _parse_time(s: str) -> float:
    """REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    s = s.removesuffix("GMT")
    fmt = "%Y-%m-%dT%H:%M:%S.%f" if "." in s else "%Y-%m-%dT%H:%M:%S"
    return datetime.datetime.strptime(s, fmt).replace(
        tzinfo=datetime.timezone.utc).timestamp()

