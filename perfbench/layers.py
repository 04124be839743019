"""Per-layer metrics of a traced run, derived from its spans.

Every value is per traced operation (a transport; an ingest batch or
audit) unless its name says otherwise, so a layer's figure does not grow
with how many operations fit in a run.  Layers a workload does not
exercise read 0.

Build and execution are split by span name.  Build: the spec callable
(``engine.build``), ``DBT`` construction (``spec.parse``),
``DBT.transform`` and a batch file landing.  Execution: the terminal
action (``engine.exec``), catalog writes and commits, ``release_pins``
and the ingest gate call.  Only the outermost such span counts, so a
catalog write inside a gate call is not counted twice.
"""

from __future__ import annotations

import re
import statistics

from .workloads import AUDIT_SPEC

BUILD = {"engine.build", "spec.parse", "engine.transform", "ingest.land"}
EXEC = {"engine.exec", "catalog.write", "catalog.commit", "pins.release",
        "gate.batch"}
#: an operation's build and execution spans must cover this share of it
MIN_COVERAGE = 0.95

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10

JOB_FIELDS = ("stages", "tasks", "failed_tasks", "task_s", "gc_s",
              "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes")


def tail_rank(n: int) -> int | None:
    """1-based rank of the highest nearest-rank percentile that leaves at
    least ``TAIL_BEYOND`` of ``n`` samples above it, or None when ``n``
    is too small to have one."""
    r = n - TAIL_BEYOND
    return r if r >= 1 else None


def tail(samples: list[float]) -> tuple[float, float] | None:
    """``(value, percentile)`` of the tail sample, or None."""
    r = tail_rank(len(samples))
    if r is None:
        return None
    return sorted(samples)[r - 1], 100.0 * r / len(samples)


def _subtree(root, children):
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.id, ()))
    return out


def _outermost(spans, names):
    """Spans named in ``names`` with no ancestor named in ``names``."""
    return [s for s in spans if s.name in names
            and not any(a.name in names for a in s.ancestors())]


def _in_build(s) -> bool:
    return s.name in BUILD or any(a.name in BUILD for a in s.ancestors())


def explain_mismatches(wl, ctx, tracer) -> int:
    """Plans of ``flagship`` and of the migrate lineitem map, built with
    tracing on and off, must print identically (migrate only: they need
    its TPC-H inputs)."""
    if wl.name != "migrate":
        return 0
    import __spark_entry__ as entry

    from database_transportor_spark import DBT, ParquetCatalog

    from .workloads import migrate_maps

    def plans():
        spark = ctx.spark
        flagship = entry.queries()["flagship"](spark, wl.input_dir)
        cat = ParquetCatalog(spark, wl.input_dir)
        li = DBT({"fact_lineitem": migrate_maps()["fact_lineitem"]},
                 target=cat, original=cat).transform()["fact_lineitem"]
        return [_explain(flagship), _explain(li)]

    tracer.install()
    try:
        on = plans()
    finally:
        tracer.uninstall()
    off = plans()
    return sum(a != b for a, b in zip(on, off))


def _explain(df) -> str:
    """The extended plan text with expression and plan ids blanked (two
    builds of one plan number them differently)."""
    jvm = df.sparkSession.sparkContext._jvm
    text = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(),
                                            "extended")
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", text))


def per_layer(wl, ctx, tracer, m):
    """Per-layer metrics of a traced ``run.Measurement``; returns
    ({metric: (value, unit)}, failed checks)."""
    ops = m.traced_ops
    children: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent.id, []).append(s)
    tot = {k: 0.0 for k in (
        "parse", "build", "exec", "read_calls", "read_s", "write_calls",
        "write_s", "commit_s", "rows_written", "bytes_written", "py4j_calls",
        "py4j_s", "jobs", "pins", "release_s", *JOB_FIELDS)}
    coverage = []
    for op in ops:
        sub = _subtree(op, children)
        outer = _outermost(sub, BUILD | EXEC)
        build = sum(s.seconds for s in outer if s.name in BUILD)
        exe = sum(s.seconds for s in outer if s.name in EXEC)
        coverage.append((build + exe) / op.seconds)
        tot["build"] += build
        tot["exec"] += exe
        tot["parse"] += sum(s.seconds for s in sub if s.name == "spec.parse")
        reads = _outermost(sub, {"catalog.read"})
        tot["read_calls"] += len(reads)
        tot["read_s"] += sum(s.seconds for s in reads)
        writes = _outermost(sub, {"catalog.write"})
        tot["write_calls"] += len(writes)
        tot["write_s"] += sum(s.seconds for s in writes)
        tot["commit_s"] += sum(
            s.seconds for s in _outermost(sub, {"catalog.commit"}))
        for s in sub:
            if _in_build(s):
                tot["py4j_calls"] += s.py4j_calls
                tot["py4j_s"] += s.py4j_s
            if s.name == "pins.release":
                tot["pins"] += s.attrs.get("pins", 0)
                tot["release_s"] += s.seconds
            for j in s.attrs.get("jobs", ()):
                tot["jobs"] += 1
                tot["rows_written"] += j["rows_written"]
                tot["bytes_written"] += j["bytes_written"]
                for k in JOB_FIELDS:
                    tot[k] += j[k]

    n = max(len(ops), 1)
    out: dict[str, tuple[float, str]] = {}
    for key, name, unit in (
            ("parse", "spec.parse_s", "s"),
            ("build", "engine.build_s", "s"),
            ("exec", "engine.exec_s", "s"),
            ("read_calls", "catalog.read_calls", "count"),
            ("read_s", "catalog.read_s", "s"),
            ("write_calls", "catalog.write_calls", "count"),
            ("write_s", "catalog.write_s", "s"),
            ("commit_s", "catalog.commit_s", "s"),
            ("rows_written", "catalog.rows_written", "count"),
            ("bytes_written", "catalog.bytes_written", "bytes"),
            ("py4j_calls", "spark.py4j_calls", "count"),
            ("py4j_s", "spark.py4j_s", "s"),
            ("jobs", "spark.jobs", "count"),
            *((k, f"spark.{k}", "s" if k.endswith("_s") else
               "bytes" if k.endswith("bytes") else "count")
              for k in JOB_FIELDS),
            ("pins", "pins.created", "count"),
            ("release_s", "pins.release_s", "s")):
        out[name] = (tot[key] / n, unit)
    out["engine.build_share"] = (
        tot["build"] / max(tot["build"] + tot["exec"], 1e-9), "share")

    for part in ("build", "exec"):
        xs = [c.seconds for op in ops if op.name == f"op.{AUDIT_SPEC}"
              for c in children.get(op.id, ()) if c.name == f"engine.{part}"]
        out[f"dedup.{AUDIT_SPEC}.{part}_s"] = (
            statistics.median(xs) if xs else 0.0, "s")
    out["dedup.pairs_out"] = (ctx.counts.get("dedup.pairs_out", 0), "count")

    gates = [s for op in ops for s in _subtree(op, children)
             if s.name == "gate.batch"]
    out["gate.batch_s"] = (
        statistics.median([g.seconds for g in gates]) if gates else 0.0, "s")
    out["gate.jobs_per_batch"] = (
        sum(len(s.attrs.get("jobs", ())) for g in gates
            for s in _subtree(g, children)) / max(len(gates), 1), "count")
    out["gate.index_rows"] = (ctx.counts.get("gate.index_rows", 0), "count")
    out["gate.accept_ratio"] = (
        ctx.counts.get("gate.accept_ratio", 0.0), "share")

    t = tail(m.latencies)
    out["op_tail_s"] = (t[0] if t else max(m.latencies), "s")
    out["op_tail_pct"] = (t[1] if t else 100.0, "%")
    out["op_samples"] = (len(m.latencies), "count")
    out["trace.overhead_share"] = (
        statistics.median(m.traced_lat) / statistics.median(m.plain_lat) - 1.0
        if m.traced_lat and m.plain_lat else 0.0, "share")
    cov = min(coverage) if coverage else 1.0
    out["trace.coverage_min"] = (cov, "share")
    mismatches = explain_mismatches(wl, ctx, tracer)
    out["trace.explain_mismatches"] = (mismatches, "count")
    return out, int(cov < MIN_COVERAGE) + mismatches
