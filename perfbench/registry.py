"""The ``registry_sf0.1`` workload: cold registry queries at sf0.1.

One operation is one query: ``queries()[name](spark, dir)`` (the build
layer, where eager barriers run) and then a noop write (the exec layer).
The benchmark attaches a ``DataFrame.observe`` row count to the final
plan, so the count needs no extra job, and compares it with the count of
the query's DuckDB ``oracle_sql()``.  Oracle counts are computed once per
data directory and cached.  Once per invocation one query's full result is
compared with its oracle the way ``tools/check_correctness.py`` does.

Every run executes the same queries in the same order, so each query's
cold start costs the same on every run; the input is the fixed testdata.
The seed picks the query whose full result is checked.  (Permuting the
order by seed moved first-use costs between queries and made the pass wall
swing by a sixth.)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time

#: A fixed subset of ``bench.HEADLINE`` whose cold pass takes ~16 s on a
#: 4-core host, chosen to cover the build-heavy queries (eager barriers in
#: the build phase: cast inference, PageRank, IVF semantic dedup), a
#: Python-worker codec, and plain scan/window/aggregate shapes.
QUERIES = [
    "c3_ambivalent_cast",
    "graph_pagerank_similarity",
    "dedup_semantic_canonical",
    "multimodal_image_roundtrip",
    "tpch_q1_pricing_summary",
    "events_sessionize",
    "dedup_exact",
    "events_tumbling_hour",
    "text_quality",
]
#: Per-invocation full-value check candidates: every query above but
#: PageRank, whose DuckDB oracle alone takes ~16 s at sf0.1.  Its row count
#: is still checked on every run.
VALUE_CHECK = [q for q in QUERIES if q != "graph_pagerank_similarity"]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def testdata_dir(sf: str) -> str:
    """The repository's testdata directory for scale factor ``sf``, as
    its correctness tool locates it."""
    from tools import check_correctness

    return os.path.join(os.path.dirname(check_correctness.SF_DIR.rstrip("/")),
                        f"sf{sf}")


class RegistryWorkload:
    def __init__(self, work: str, seed: int, data_dir: str,
                 queries: list[str] | None = None):
        self.work, self.seed, self.data_dir = work, seed, data_dir
        self.queries = list(queries or QUERIES)
        self.inject = None
        self.oracle: dict[str, dict] = {}
        self.table_rows: dict[str, int] = {}

    # -- untimed preparation -------------------------------------------
    def prepare(self):
        """Oracle row counts and table sizes, cached per data directory."""
        import __spark_entry__ as ent
        import pyarrow.parquet as pq

        key = hashlib.sha1(os.path.abspath(self.data_dir).encode()).hexdigest()[:12]
        path = os.path.join(self.work, "oracle", f"{key}.json")
        cache = {"data_dir": self.data_dir, "queries": {}, "table_rows": {}}
        if os.path.exists(path):
            with open(path) as f:
                cache = json.load(f)
        sqls = ent.oracle_sql()
        con = None
        for q in self.queries:
            sql_hash = hashlib.sha1(sqls[q].encode()).hexdigest()
            hit = cache["queries"].get(q)
            if hit is None or hit["sql_sha1"] != sql_hash:
                if con is None:
                    from tools.check_correctness import duck_connect

                    con = duck_connect(self.data_dir)
                rows = con.execute(f"SELECT count(*) FROM ({sqls[q]})").fetchone()[0]
                cache["queries"][q] = {"sql_sha1": sql_hash, "rows": int(rows),
                                       "tables": sorted(_tables_of(sqls[q]))}
        for t in TABLES:
            p = os.path.join(self.data_dir, f"{t}.parquet")
            if t not in cache["table_rows"] and os.path.exists(p):
                cache["table_rows"][t] = pq.ParquetFile(p).metadata.num_rows
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(cache, f, indent=1)
        self.oracle = cache["queries"]
        self.table_rows = cache["table_rows"]

    # -- timed ---------------------------------------------------------
    def run_pass(self, spark, tracer, record) -> None:
        """One pass = every query once.  ``record(latency_s, ok)`` per
        query."""
        import __spark_entry__ as ent
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        qs = ent.queries()
        for name in self.queries:
            module = qs[name].__module__.rsplit(".", 1)[-1]
            want = self.oracle[name]["rows"] + (1 if self.inject == "wrong-count" else 0)
            ok = True
            t0 = time.perf_counter()
            try:
                with tracer.span("op.query") as op:
                    if op is not None:
                        op["query"], op["module"] = name, module
                    with tracer.span("registry.build"):
                        df = qs[name](spark, self.data_dir)
                    with tracer.span("registry.exec"):
                        obs = Observation()
                        (df.observe(obs, F.count(F.lit(1)).alias("rows"))
                         .write.format("noop").mode("overwrite").save())
                        got = obs.get["rows"]
            except Exception as exc:  # a failed query is counted, not fatal
                print(f"{name}: raised {type(exc).__name__}: {exc}"[:500])
                ok = False
            latency = time.perf_counter() - t0
            if ok and got != want:
                print(f"{name}: {got} rows, oracle has {want}")
                ok = False
            record(latency, ok)

    def input_rows(self, op: dict) -> float:
        """Rows of the tables the operation's query reads, as named in its
        oracle SQL."""
        return sum(self.table_rows.get(t, 0)
                   for t in self.oracle[op["query"]]["tables"])

    # -- untimed, once per invocation ------------------------------------
    def final_checks(self, spark) -> int:
        """Full-value comparison of one seed-chosen query with its oracle;
        returns the number of failed checks."""
        import __spark_entry__ as ent
        from tools.check_correctness import compare, duck_connect

        candidates = [q for q in self.queries if q in VALUE_CHECK] or self.queries
        name = candidates[self.seed % len(candidates)]
        try:
            spark_pdf = ent.queries()[name](spark, self.data_dir).toPandas()
            duck_pdf = duck_connect(self.data_dir).execute(
                ent.oracle_sql()[name]).fetchdf()
            problems = compare(name, spark_pdf, duck_pdf)
        except Exception as exc:  # a crash is a failed check, not a crash
            problems = [f"raised {type(exc).__name__}: {exc}"[:500]]
        for p in problems:
            print(f"{name} value check: {p}")
        return 1 if problems else 0


def _tables_of(sql: str) -> set[str]:
    words = set(re.findall(r"[A-Za-z_]+", sql.lower()))
    return {t for t in TABLES if t in words}
