"""The three benchmark workloads.

Each workload is driven as a closed loop with one client: the next op is
sent only after the previous one has returned.  A workload provides

- ``setup(spark, i)``: prepare the program's state for set-up number
  ``i`` on a fresh Spark session (timed; repeated, the median is
  ``setup_s``);
- ``block``: the op kinds of one block.  The stream is a sequence of
  blocks, each a seed-shuffled permutation of ``block``, so every
  stretch of whole blocks has the same mix.  The first block is the cold
  one; the next ``warmup_blocks`` are untimed, so that
  timing starts once the JVM's JIT has settled (sized from repeated
  runs, see README.md);
- ``op(kind)``: a new op of that kind, as ``(run, check)``.  ``run()``
  is the timed call; ``check(result)`` runs untimed and says whether
  the result was right;
- ``final_check()``: correctness checks made once, after timing;
  returns the number of failed checks;
- ``data_dirs()``: the directories the program wrote, for ``disk_mb``;
- ``snapshot()``: the lake's current snapshot id, or None without a lake.
"""

from __future__ import annotations

import os
import random
import shutil

# A fixed subset of bench.HEADLINE.  The full 28 queries cost about 40 s
# of cold-pass planning and codegen per process on 4 cores, which does not
# fit the benchmark's per-run budget next to the two lake workloads.  These
# ten cover the operator families of the headline set (scan aggregates,
# joins, rollup, windows, percentiles, text scoring, vector top-k) and have
# the smallest first-execution cost; left out are the queries that build a
# per-session index on first use (dedup_*, sim_ivf_topk, sim_lsh_buckets)
# or whose first execution takes about a second or more.
REGISTRY_QUERIES = [
    "q01_pricing_summary",
    "q06_forecast_revenue",
    "q18_large_orders",
    "join_inner_agg",
    "agg_rollup",
    "window_topk_per_group",
    "window_running_sum",
    "percentile_histogram",
    "text_quality_score",
    "sim_bruteforce_topk",
]

INLINE_ROW_LIMIT = 1000
WRITE_TABLE_ROWS = 200


def _collect(tracer, df):
    if df is None:
        return None
    with tracer.span("spark.collect"):
        return df.collect()


def _duck_views(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(sf_dir, name)}')"
            )
    return con


def _canon_rows(rows):
    from tests.compare import _sort_key, canon_value

    out = [tuple(canon_value(v) for v in r) for r in rows]
    out.sort(key=_sort_key)
    return out


class Registry:
    """Registry queries through ``queries.QUERIES``, order shuffled by the
    seed on every pass.  No lake, no catalog, no workbook."""

    name = "registry"
    block = REGISTRY_QUERIES
    # per-pass time keeps falling for about 20 passes before the JIT
    # settles
    warmup_blocks = 20

    def __init__(self, ctx, rng: random.Random, tracer):
        import bench
        from ducklakexl_spark import queries as qmod

        missing = [q for q in REGISTRY_QUERIES if q not in bench.HEADLINE]
        if missing:
            raise RuntimeError(f"not in bench.HEADLINE: {missing}")
        qmod.load_all()
        self.qmod = qmod
        self.ctx = ctx
        self.rng = rng
        self.tracer = tracer
        self.spark = None
        self.rows: dict[str, int] = {}
        if tracer.enabled:
            for q in REGISTRY_QUERIES:
                tracer.wrap(qmod.QUERIES, q, "queries.build")

    def setup(self, spark, i: int) -> None:
        self.spark = spark
        for t in self.qmod.TABLES:
            self.qmod.load(spark, self.ctx.sf_dir, t)

    def op(self, q: str):
        fn = self.qmod.QUERIES[q]

        def run():
            return _collect(self.tracer, fn(self.spark, self.ctx.sf_dir))

        def check(rows):
            n = self.rows.setdefault(q, len(rows))
            return n == len(rows)

        return run, check

    def final_check(self) -> int:
        from tests.compare import compare

        con = _duck_views(self.ctx.sf_dir)
        failed = 0
        for q in REGISTRY_QUERIES:
            df = self.qmod.QUERIES[q](self.spark, self.ctx.sf_dir)
            try:
                compare(df, con, self.qmod.ORACLES[q], name=q)
                ok = df.count() == self.rows[q]
            except AssertionError as exc:
                print(f"registry check failed: {str(exc)[:500]}", flush=True)
                ok = False
            failed += not ok
        con.close()
        return failed

    def data_dirs(self):
        return [self.ctx.spark_local]

    def snapshot(self):
        return None


class _Lake:
    """A lake mirrored to a CsvWorkbook, rebuilt on every set-up."""

    def __init__(self, ctx, rng: random.Random, tracer):
        self.ctx = ctx
        self.rng = rng
        self.tracer = tracer
        self.lake = None
        self.lake_dir = None
        if tracer.enabled:
            self._install_wrappers()

    def _install_wrappers(self) -> None:
        from pyspark.sql import SparkSession

        from ducklakexl_spark.catalog.store import CatalogStore
        from ducklakexl_spark.engine import DuckLakeSpark
        from ducklakexl_spark.sync.excel import CsvWorkbook
        from ducklakexl_spark.sync.sync import WorkbookSync

        def store_written(tr, _result, args):
            store = args[0]
            tr.count("catalog.saves")
            tr.count("catalog.bytes_written", sum(
                e.stat().st_size for e in os.scandir(store.path) if e.is_file()
            ))

        def sheet_written(tr, _result, args):
            tr.count("sync.bytes_written", os.path.getsize(args[0]._file(args[1])))

        t = self.tracer
        t.wrap(DuckLakeSpark, "sql", "engine.sql")
        t.wrap(DuckLakeSpark, "table_df", "engine.table_df")
        t.wrap(SparkSession, "sql", "spark.sql")
        t.wrap(CatalogStore, "save", "catalog.save", store_written)
        t.wrap(CatalogStore, "load", "catalog.load")
        t.wrap(WorkbookSync, "pull", "sync.pull")
        t.wrap(WorkbookSync, "push", "sync.push",
               lambda tr, n, _a: tr.count("sync.sheets_written", n))
        t.wrap(CsvWorkbook, "read_sheet", "sync.read_sheet",
               lambda tr, _r, _a: tr.count("sync.sheets_read"))
        t.wrap(CsvWorkbook, "write_sheet", "sync.write_sheet", sheet_written)

    def _new_lake(self, spark, i: int):
        from ducklakexl_spark.engine import DuckLakeSpark
        from ducklakexl_spark.sync.excel import CsvWorkbook

        if self.lake_dir is not None:
            shutil.rmtree(self.lake_dir, ignore_errors=True)
        self.lake_dir = os.path.join(self.ctx.run_dir, f"lake{i}")
        self.lake = DuckLakeSpark(
            spark=spark,
            data_path=os.path.join(self.lake_dir, "data"),
            local_catalog=os.path.join(self.lake_dir, "catalog"),
            workbook=CsvWorkbook(os.path.join(self.lake_dir, "workbook")),
        )
        return self.lake

    def _parquet(self, table: str) -> str:
        return os.path.join(self.ctx.sf_dir, f"{table}.parquet")

    def data_dirs(self):
        return [self.lake_dir, self.ctx.spark_local]

    def snapshot(self):
        return self.lake.catalog.current_snapshot


class LakeRead(_Lake):
    """SELECTs through ``DuckLakeSpark.sql()`` with keys drawn from the
    seed: point lookups, key-range aggregates and key-range joins over a
    clustered lineitem and orders.  No statement text repeats."""

    name = "lake_read"
    block = ["point", "range_agg", "range_join"]
    warmup_blocks = 4

    def __init__(self, ctx, rng, tracer):
        super().__init__(ctx, rng, tracer)
        import pyarrow.parquet as pq

        self.n_orders = pq.read_metadata(self._parquet("orders")).num_rows
        self.seen: set[str] = set()
        self.results: list[tuple[str, list]] = []

    def setup(self, spark, i: int) -> None:
        lake = self._new_lake(spark, i)
        lake.sql(
            "CREATE TABLE lineitem AS SELECT * FROM "
            f"read_parquet('{self._parquet('lineitem')}')"
        )
        lake.compact("lineitem", sort_by=["l_orderkey"],
                     target_file_bytes=256 * 1024)
        lake.sql(
            "CREATE TABLE orders AS SELECT * FROM "
            f"read_parquet('{self._parquet('orders')}')"
        )

    def _statement(self, shape: str) -> str:
        while True:
            k = self.rng.randrange(self.n_orders)
            if shape == "point":
                sql = (
                    "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
                    f"l_extendedprice FROM lineitem WHERE l_orderkey = {k}"
                )
            # aggregates stay exact in both engines: sums of whole
            # quantities, and sums of cents rounded back to cents (a
            # product like price * (1 - discount) can land on a rounding
            # tie that summation order decides)
            elif shape == "range_agg":
                sql = (
                    "SELECT l_returnflag, count(*) AS n, "
                    "sum(l_quantity) AS qty, "
                    "round(sum(l_extendedprice), 2) AS revenue FROM lineitem "
                    f"WHERE l_orderkey BETWEEN {k} AND {k + 200} "
                    "GROUP BY l_returnflag"
                )
            else:
                sql = (
                    "SELECT o.o_orderpriority, count(*) AS n, "
                    "sum(l.l_quantity) AS qty, "
                    "round(sum(l.l_extendedprice), 2) AS revenue "
                    "FROM lineitem l JOIN orders o "
                    "ON l.l_orderkey = o.o_orderkey "
                    f"WHERE l.l_orderkey BETWEEN {k} AND {k + 100} "
                    "GROUP BY o.o_orderpriority"
                )
            if sql not in self.seen:
                self.seen.add(sql)
                return sql

    def op(self, shape: str):
        sql = self._statement(shape)

        def run():
            return _collect(self.tracer, self.lake.sql(sql))

        def check(rows):
            self.results.append((sql, rows))
            return True

        return run, check

    def final_check(self) -> int:
        con = _duck_views(self.ctx.sf_dir)
        failed = 0
        for sql, rows in self.results:
            want = _canon_rows(con.sql(sql).fetchall())
            if _canon_rows(rows) != want:
                print(f"lake_read mismatch: {sql}", flush=True)
                failed += 1
        con.close()
        return failed


class LakeWrite(_Lake):
    """1-row INSERT and DELETE by key, one of each per block, on an
    inlined table of a mirrored lake.  The benchmark keeps a model of the
    table and checks that each statement made exactly one snapshot.

    UPDATE is not in the mix: ``DuckLakeSpark._update`` commits the
    delete of the old row and the insert of the new one as two
    snapshots, so every UPDATE would fail the one-snapshot check (see
    README.md)."""

    name = "lake_write"
    block = ["insert", "delete"]
    warmup_blocks = 1

    def __init__(self, ctx, rng, tracer):
        super().__init__(ctx, rng, tracer)
        self.model: dict[int, tuple[int, str]] = {}
        self.next_key = 0

    def setup(self, spark, i: int) -> None:
        lake = self._new_lake(spark, i)
        lake.sql(
            "CREATE TABLE orders AS SELECT * FROM "
            f"read_parquet('{self._parquet('orders')}')"
        )
        lake.sql(f"SET ducklake.data_inlining_row_limit = {INLINE_ROW_LIMIT}")
        lake.sql("CREATE TABLE kv (k BIGINT, v BIGINT, s VARCHAR)")
        self.model = {k: (k * 7, f"s{k}") for k in range(WRITE_TABLE_ROWS)}
        self.next_key = WRITE_TABLE_ROWS
        lake.sql("INSERT INTO kv VALUES " + ", ".join(
            f"({k}, {v}, '{s}')" for k, (v, s) in self.model.items()
        ))

    def op(self, kind: str):
        lake = self.lake
        if kind == "insert":
            k, v = self.next_key, self.rng.randrange(10**6)
            self.next_key += 1
            sql = f"INSERT INTO kv VALUES ({k}, {v}, 's{k}')"
        else:
            k = self.rng.choice(sorted(self.model))
            sql = f"DELETE FROM kv WHERE k = {k}"
        before = lake.catalog.current_snapshot

        def run():
            return _collect(self.tracer, lake.sql(sql))

        def check(_rows):
            if kind == "insert":
                self.model[k] = (v, f"s{k}")
            else:
                del self.model[k]
            made = lake.catalog.current_snapshot - before
            if made != 1:
                print(f"lake_write: {kind} made {made} snapshots, not 1",
                      flush=True)
            return made == 1

        return run, check

    def final_check(self) -> int:
        got = self.lake.sql("SELECT k, v, s FROM kv").collect()
        want = sorted((k, v, s) for k, (v, s) in self.model.items())
        if sorted(tuple(r) for r in got) != want:
            print("lake_write: table differs from the model", flush=True)
            return 1
        return 0


WORKLOADS = {w.name: w for w in (Registry, LakeRead, LakeWrite)}
