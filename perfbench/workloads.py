"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs passes of
operations through the package's public API, and compares every
operation's output with an oracle computed outside Spark:

- ``migrate``: a five-map staged ``do_transport`` into a fresh parquet
  target (lookup joins, grouped ``refers``, a CSV ``middle`` fan-out).
  Scan, shuffle, join and parquet writes do most of the work, and the
  driver-side build (spec parsing, catalog schema inference, py4j round
  trips) the rest.  Every transport's output is compared with SQL owned
  by this file, on DuckDB.
- ``ingest``: documents arrive as seeded micro-batches; each batch file
  lands in the source directory and ``stream_dedup_gate`` probes it
  against the growing index and appends the survivors.  After every batch
  the accepted set is compared with the arrival-order oracle.  Each pass
  ends with a batch audit of every document that arrived: the
  ``ngram_jaccard`` spec of ``__spark_entry__.queries()`` (the
  ``operators.dedup`` self-join and its pins), compared with its
  ``oracle_sql()`` on DuckDB.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from . import inputs

TPCH_TABLES = ["nation", "customer", "orders", "lineitem", "customer_csv"]

#: TPC-H scale 0.05: 75 000 orders, 300 000 lineitems
MIGRATE_CUSTOMERS = 7_500
#: the corpus audit that ends each ingest pass
AUDIT_SPEC = "ngram_jaccard"
GATE_THRESHOLD = 0.5
GATE_SHINGLE_N = 3


class OpResult:
    """One operation: its name, wall seconds (``Context.op``), the items it
    moved, and whether its output matched the oracle."""

    __slots__ = ("name", "seconds", "items", "ok")

    def __init__(self, name, timed, items, ok):
        self.name = name
        self.seconds = timed.seconds
        self.items, self.ok = items, ok


def duck_views(con, in_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{in_dir}/{t}.parquet')"
        )


def rows_hash(cols, rows) -> tuple[int, list[str], str]:
    from tools.check_oracle import df_hash

    return len(rows), sorted(cols), df_hash(list(cols), rows)


class Workload:
    name = ""
    #: what ``items_per_s`` counts
    item = ""
    #: seconds of a warm pass on 4 cores: a run times
    #: ``round(seconds / pass_s)`` passes
    pass_s = 1.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.input_dir = os.path.join(ctx.work, "inputs")

    def prepare(self) -> dict:
        raise NotImplementedError

    def run_pass(self) -> list[OpResult]:
        """One pass of operations, each compared with its oracle."""
        raise NotImplementedError

    def warm(self) -> list[OpResult]:
        """Unmeasured operations before timing: the JVM keeps compiling
        the hot paths for several seconds of repeated work."""
        return self.run_pass()

    def units(self, ops: list[OpResult]) -> list[OpResult]:
        """The operations of a pass whose latency the workload reports."""
        return ops


def spec_oracles(in_dir: str, names, tables) -> dict:
    """``rows_hash`` of each spec's ``oracle_sql()`` on DuckDB."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    duck_views(con, in_dir, tables)
    oracles = entry.oracle_sql()
    out = {}
    for n in names:
        cur = con.execute(oracles[n])
        out[n] = rows_hash([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out


def run_spec(ctx, name: str, in_dir: str, expected):
    """Build one ``queries()`` spec over ``in_dir``, collect it and compare
    it with its oracle's ``rows_hash``.  Returns the operation and the
    collected rows."""
    import __spark_entry__ as entry

    with ctx.op(name) as op:
        with ctx.span("engine.build"):
            df = entry.queries()[name](ctx.spark, in_dir)
        with ctx.span("engine.exec"):
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        ctx.release_pins()
    return OpResult(name, op, 0, rows_hash(cols, rows) == expected), rows


# --------------------------------------------------------------------------
# migrate
# --------------------------------------------------------------------------

def migrate_maps() -> dict:
    lookup = {"search_source": "original", "search_table": "lineitem",
              "search_column": "l_orderkey", "according_column": "orderkey"}
    return {
        "dim_nation": {
            "original_table": "nation",
            "columns": {"nationkey": "n_nationkey", "nation_name": "n_name",
                        "regionkey": "n_regionkey"},
        },
        "dim_customer": {
            "original_table": "customer",
            "transport_after": "dim_nation",
            "columns": {
                "custkey": "c_custkey",
                "name": "c_name",
                "segment": "c_mktsegment",
                "balance": {"original": "c_acctbal", "default": 0.0},
                "temp_nk": {"original": "c_nationkey",
                            "delete_after_transport": True},
                "nation": {
                    "refer": {"search_source": "target",
                              "search_table": "dim_nation",
                              "search_column": "nationkey",
                              "according_column": "temp_nk",
                              "wanted_column": "nation_name"},
                    "default": "unknown",
                },
                "n_orders": {
                    "refers": {"search_source": "original",
                               "search_table": "orders",
                               "search_column": "o_custkey",
                               "according_column": "custkey",
                               "processor": "count(*)"},
                    "default": 0,
                },
            },
        },
        "fact_orders": {
            "original_table": "orders",
            "transport_after": "dim_customer",
            "columns": {
                "orderkey": "o_orderkey",
                "custkey": "o_custkey",
                "status": "o_orderstatus",
                "orderdate": "o_orderdate",
                "customer_name": {
                    "refer": {"search_source": "target",
                              "search_table": "dim_customer",
                              "search_column": "custkey",
                              "according_column": "custkey",
                              "wanted_column": "name"},
                    "default": "unknown",
                },
                "total_qty": {"refers": {**lookup,
                                         "processor": "sum(l_quantity)"},
                              "default": 0.0},
                "n_items": {"refers": {**lookup, "processor": "count(*)"},
                            "default": 0},
            },
        },
        "fact_lineitem": {
            "original_table": "lineitem",
            "extra_conditions": [["l_returnflag", "in", ["A", "R"]],
                                 "l_discount > 0.02"],
            "columns": {"orderkey": "l_orderkey", "linenumber": "l_linenumber",
                        "qty": "l_quantity", "price": "l_extendedprice",
                        "flag": "l_returnflag", "shipdate": "l_shipdate"},
        },
        "cust_nations": {
            "original_table": None,
            "columns": {"cust_id": None, "nation_id": None},
            "middle": {
                "one": {"refer_table": "customer_csv",
                        "refer_source": "original",
                        "wanted_column": "c_custkey",
                        "fill_column": "cust_id",
                        "according_column": "nk_csv"},
                "many": {"refer_table": "nation", "refer_source": "original",
                         "wanted_column": "n_name",
                         "fill_column": "nation_name",
                         "search_column": "n_nationkey",
                         "search_method": "in"},
            },
        },
    }


#: the expected content of every migrated table, over the input tables
MIGRATE_ORACLE = {
    "dim_nation": """
        SELECT n_nationkey AS nationkey, n_name AS nation_name,
               n_regionkey AS regionkey
        FROM nation""",
    "dim_customer": """
        SELECT c.c_custkey AS custkey, c.c_name AS name,
               c.c_mktsegment AS segment,
               COALESCE(c.c_acctbal, 0.0) AS balance,
               COALESCE(n.n_name, 'unknown') AS nation,
               COALESCE(o.n, 0) AS n_orders
        FROM customer c
        LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
        LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders
                   GROUP BY o_custkey) o ON o.o_custkey = c.c_custkey""",
    "fact_orders": """
        SELECT o.o_orderkey AS orderkey, o.o_custkey AS custkey,
               o.o_orderstatus AS status, o.o_orderdate AS orderdate,
               COALESCE(c.c_name, 'unknown') AS customer_name,
               COALESCE(l.q, 0.0) AS total_qty, COALESCE(l.n, 0) AS n_items
        FROM orders o
        LEFT JOIN customer c ON c.c_custkey = o.o_custkey
        LEFT JOIN (SELECT l_orderkey, SUM(l_quantity) AS q, COUNT(*) AS n
                   FROM lineitem GROUP BY l_orderkey) l
               ON l.l_orderkey = o.o_orderkey""",
    "fact_lineitem": """
        SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
               l_quantity AS qty, l_extendedprice AS price,
               l_returnflag AS flag, l_shipdate AS shipdate
        FROM lineitem
        WHERE l_returnflag IN ('A', 'R') AND l_discount > 0.02""",
    "cust_nations": """
        SELECT cc.c_custkey AS cust_id, n.n_name AS nation_name
        FROM customer_csv cc,
             UNNEST(string_split(cc.nk_csv, ',')) AS u(nk)
        JOIN nation n ON n.n_nationkey = CAST(u.nk AS INTEGER)""",
}


class Migrate(Workload):
    name = "migrate"
    item = "rows written"
    pass_s = 2.5

    def prepare(self) -> dict:
        import duckdb

        stats = inputs.write_tpch(self.input_dir, self.ctx.seed,
                                  MIGRATE_CUSTOMERS)
        self.con = duckdb.connect()
        duck_views(self.con, self.input_dir, TPCH_TABLES)
        for t, sql in MIGRATE_ORACLE.items():
            self.con.execute(f"CREATE TABLE expected_{t} AS {sql}")
        self.columns = {
            t: [d[0] for d in self.con.execute(
                f"SELECT * FROM expected_{t} LIMIT 0").description]
            for t in MIGRATE_ORACLE
        }
        self.n_transports = 0
        return stats

    def run_pass(self) -> list[OpResult]:
        from database_transportor_spark import DBT, ParquetCatalog

        ctx = self.ctx
        out_dir = os.path.join(ctx.work, "migrate", f"t{self.n_transports}")
        self.n_transports += 1
        with ctx.op("transport") as op:
            eng = DBT(migrate_maps(),
                      target=ParquetCatalog(ctx.spark, out_dir),
                      original=ParquetCatalog(ctx.spark, self.input_dir))
            eng.do_transport(mode="overwrite", staged=True, parallelism=1)
        ok, rows = self.check(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        return [OpResult("transport", op, rows, ok)]

    def warm(self) -> list[OpResult]:
        # CPU per transport falls for about four transports while the
        # JVM compiles (23 s, 12 s, 8 s, 7 s, then about 6 s on 4 cores)
        return [o for _ in range(4) for o in self.run_pass()]

    def check(self, out_dir: str) -> tuple[bool, int]:
        """Multiset equality of every written table with its oracle, by
        column name; returns (ok, rows written)."""
        ok, total = True, 0
        for t, cols in self.columns.items():
            path = os.path.join(out_dir, f"{t}.parquet")
            if not os.path.isdir(path):
                return False, total
            got = self.con.execute(
                f"SELECT * FROM read_parquet('{path}/*.parquet') LIMIT 0"
            ).description
            if sorted(d[0] for d in got) != sorted(cols):
                return False, total
            sel = ", ".join(cols)
            w = f"(SELECT {sel} FROM read_parquet('{path}/*.parquet'))"
            e = f"(SELECT {sel} FROM expected_{t})"
            n_w, n_e, extra, missing = self.con.execute(
                f"SELECT (SELECT count(*) FROM {w}), (SELECT count(*) FROM {e}),"
                f" (SELECT count(*) FROM ({w} EXCEPT ALL {e})),"
                f" (SELECT count(*) FROM ({e} EXCEPT ALL {w}))"
            ).fetchone()
            total += n_w
            ok = ok and n_w == n_e and extra == 0 and missing == 0
        return ok, total


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------

def shingles(text: str, n: int = GATE_SHINGLE_N) -> frozenset:
    """Distinct word n-grams of the lowercased whitespace tokens; empty
    when the text has fewer than ``n`` tokens (as the gate hashes them)."""
    toks = text.lower().split()
    return frozenset(tuple(toks[i:i + n]) for i in range(len(toks) - n + 1))


def gate_oracle(texts: dict[int, str], batches: list[list[int]],
                threshold: float = GATE_THRESHOLD) -> list[set[int]]:
    """Accepted ids after each batch under the gate's arrival-order rule:
    a document is rejected iff its shingle Jaccard is >= ``threshold``
    against a document accepted in an earlier batch, or against a
    batch-mate with a smaller id (whether or not that mate survives)."""
    sets = {i: shingles(t) for i, t in texts.items()}
    postings: dict[tuple, list[int]] = {}
    accepted: set[int] = set()
    after = []

    def matches(a: int, cands) -> bool:
        sa = sets[a]
        for c in cands:
            inter = len(sa & sets[c])
            if inter and inter / (len(sa) + len(sets[c]) - inter) >= threshold:
                return True
        return False

    for batch in batches:
        keep = []
        for d in batch:
            prior = {c for g in sets[d] for c in postings.get(g, ())}
            mates = [m for m in batch if m < d]
            if not matches(d, prior) and not matches(d, mates):
                keep.append(d)
        for d in keep:
            accepted.add(d)
            for g in sets[d]:
                postings.setdefault(g, []).append(d)
        after.append(set(accepted))
    return after


class Ingest(Workload):
    name = "ingest"
    item = "documents"
    #: a batch costs about 2.5 s on 4 cores whatever its size (a
    #: streaming query start and about 19 jobs), so a pass is kept to 3
    n_docs = 300
    n_batches = 3
    pass_s = 9.0

    def warm(self) -> list[OpResult]:
        # batches keep getting faster for several passes while the JVM
        # compiles the driver-side path; after two the curve is flatter
        return [o for _ in range(2) for o in self.run_pass()]

    def prepare(self) -> dict:
        import duckdb

        docs = inputs.make_documents(self.ctx.seed, self.n_docs)
        rng = np.random.Generator(np.random.PCG64(self.ctx.seed + 1))
        order = rng.permutation(self.n_docs)
        self.batches = [sorted(int(i) for i in b)
                        for b in np.array_split(order, self.n_batches)]
        self.batch_tables = [docs.take(b) for b in self.batches]
        texts = dict(zip(docs.column("doc_id").to_pylist(),
                         docs.column("text").to_pylist()))
        self.expected = gate_oracle(texts, self.batches)
        os.makedirs(self.input_dir)
        path = os.path.join(self.input_dir, "documents.parquet")
        pq.write_table(docs, path)
        self.audit_expected = spec_oracles(
            self.input_dir, [AUDIT_SPEC], ["documents"])[AUDIT_SPEC]
        self.schema = self.ctx.spark.read.parquet(path).schema
        self.con = duckdb.connect()
        self.n_passes = 0
        return {"documents": {"rows": docs.num_rows,
                              "bytes": os.path.getsize(path)}}

    def run_pass(self) -> list[OpResult]:
        from database_transportor_spark import ParquetCatalog
        from database_transportor_spark.streaming import dedup_gate

        ctx = self.ctx
        root = os.path.join(ctx.work, "ingest", f"p{self.n_passes}")
        self.n_passes += 1
        src = os.path.join(root, "src")
        os.makedirs(src)
        cat_dir = os.path.join(root, "cat")
        cat = ParquetCatalog(ctx.spark, cat_dir)
        clean = os.path.join(cat_dir, "clean.parquet")
        out = []
        got: set = set()
        for k, table in enumerate(self.batch_tables):
            staged = os.path.join(src, f".b{k:02d}.parquet")
            with ctx.op("batch") as op:
                # a batch lands whole: written under a hidden name, then
                # renamed into the watched directory
                with ctx.span("ingest.land"):
                    pq.write_table(table, staged)
                    os.replace(staged, os.path.join(src, f"b{k:02d}.parquet"))
                dedup_gate.stream_dedup_gate(
                    ctx.spark, src, cat, "clean", "idx", "doc_id", "text",
                    shingle_n=GATE_SHINGLE_N, threshold=GATE_THRESHOLD,
                    schema=self.schema,
                    checkpoint=os.path.join(root, "ckpt"),
                )
            got = {r[0] for r in self.con.execute(
                f"SELECT doc_id FROM read_parquet('{clean}/*.parquet')"
            ).fetchall()} if os.path.isdir(clean) else set()
            out.append(OpResult("batch", op, table.num_rows,
                                got == self.expected[k]))
        idx = os.path.join(cat_dir, "idx.parquet")
        ctx.counts["gate.index_rows"] = self.con.execute(
            f"SELECT count(*) FROM read_parquet('{idx}/*.parquet')"
        ).fetchone()[0]
        ctx.counts["gate.accept_ratio"] = len(got) / sum(o.items for o in out)
        audit, rows = run_spec(ctx, AUDIT_SPEC, self.input_dir,
                               self.audit_expected)
        ctx.counts["dedup.pairs_out"] = len(rows)
        shutil.rmtree(root, ignore_errors=True)
        return out + [audit]

    def units(self, ops: list[OpResult]) -> list[OpResult]:
        return [o for o in ops if o.name == "batch"]


WORKLOADS = {w.name: w for w in (Migrate, Ingest)}
