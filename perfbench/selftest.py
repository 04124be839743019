"""Self-tests of the benchmark, on inputs small enough to finish in
seconds once Spark is up.  Run from the root of a checkout::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import inputs, layers, workloads  # noqa: E402

_SESSION: dict = {}


def _spark():
    """One local session shared by the tests that need Spark (UI on, so
    the tracer's REST job attribution is exercised too)."""
    if "spark" not in _SESSION:
        from perfbench import run

        work = tempfile.mkdtemp(prefix="selftest-", dir=_state())
        run.isolate(work)
        _SESSION["work"] = work
        _SESSION["spark"] = run.make_session(work, trace=True)
    return _SESSION["spark"]


def _state() -> str:
    d = os.path.join(ROOT, ".perfbench")
    os.makedirs(d, exist_ok=True)
    return d


def _ctx(work: str, seed: int):
    from perfbench.run import Context

    return Context(_spark(), work, seed)


def test_tail_rank():
    assert layers.tail_rank(10) is None
    assert layers.tail_rank(11) == 1
    assert layers.tail_rank(50) == 40
    value, pct = layers.tail([float(x) for x in range(50, 0, -1)])
    assert (value, pct) == (40.0, 80.0)


def test_gate_oracle_rules():
    base = "a b c d e f g h i j k l m n o p"
    near = base.replace("p", "q")
    other = "z y x w v u t s r"
    texts = {1: base, 2: near, 3: other, 4: near, 5: "a b"}
    # batch 1: doc 2 is rejected by its smaller-id mate 1;
    # batch 2: doc 4 is rejected by doc 1, accepted earlier
    after = workloads.gate_oracle(texts, [[1, 2, 3], [4, 5]])
    assert after == [{1, 3}, {1, 3, 5}]
    # a document whose only partner was rejected is accepted:
    # J(a, b) = J(b, c) = 10/18, J(a, c) = 6/22
    a = "a b c d e f g h i j k l m n o p"
    b = "a b X Y e f g h i j k l m n o p"
    c = "a b X Y e f g h i j k l Z W o p"
    after = workloads.gate_oracle({1: a, 2: b, 3: c}, [[1], [2], [3]])
    assert after == [{1}, {1}, {1, 3}]


def test_catalog_wrapper_keeps_results():
    from database_transportor_spark.sources.catalog import FileCatalog
    from perfbench.trace import Tracer

    work = tempfile.mkdtemp(dir=_state())
    try:
        inputs.write_tpch(work, seed=7, n_customers=150)
        ctx = _ctx(work, 7)
        expected = workloads.spec_oracles(
            work, ["flagship", "refers_group"],
            ["nation", "customer", "orders", "lineitem"])
        orig_read = FileCatalog.read
        tracer = Tracer(ctx.spark)
        got = {}
        for traced in (False, True):
            if traced:
                tracer.install()
                ctx.tracer = tracer
            try:
                for name in expected:
                    got[name, traced] = workloads.run_spec(
                        ctx, name, work, expected[name])[0].ok
            finally:
                tracer.uninstall()
                ctx.tracer = None
        assert all(got.values()), got
        assert FileCatalog.read is orig_read
        names = {s.name for s in tracer.spans}
        assert {"catalog.read", "spec.parse", "engine.transform"} <= names
        tracer.collect_jobs()
        assert any(s.attrs.get("jobs") for s in tracer.spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)


class _SmallIngest(workloads.Ingest):
    n_docs = 48
    n_batches = 4


def test_seed_changes_arrival_order_and_oracle_agrees():
    orders = []
    for seed in (1, 2):
        work = tempfile.mkdtemp(dir=_state())
        try:
            wl = _SmallIngest(_ctx(work, seed))
            wl.prepare()
            orders.append(wl.batches)
            ops = wl.run_pass()
            assert ops and all(o.ok for o in ops), [(o.name, o.ok) for o in ops]
        finally:
            shutil.rmtree(work, ignore_errors=True)
    assert orders[0] != orders[1]


def main() -> int:
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    failed = 0
    try:
        for t in tests:
            try:
                t()
                print(f"ok   {t.__name__}")
            except Exception as exc:  # report every test, then fail
                failed += 1
                print(f"FAIL {t.__name__}: {exc!r}")
    finally:
        if "spark" in _SESSION:
            from perfbench import run

            _SESSION["spark"].stop()
            run.stop_jvm()
            shutil.rmtree(_SESSION["work"], ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
