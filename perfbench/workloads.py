"""The benchmark's workloads: inputs, one operation, and output checks.

Each workload exposes

* ``setup(spark, work_dir)``: generate its inputs from the seed (repeated
  several times per run; only the last copy is used);
* ``ops(pass_no)``: the operations of one pass, in seeded order; each is a
  ``(name, callable)`` whose callable returns the collected output;
* ``check(results)``: outside the timed region, returns the operation
  indices whose output is wrong, with a reason;
* ``WARM_UP_PASSES``: the untimed passes run before timing starts.
"""

from __future__ import annotations

import glob
import math
import os
import random
import shutil

import datagen

SCALE = 0.01  # engine tables at 1/100 of sf1: 15k orders, 60k lineitem rows
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def norm_rows(cols, rows):
    """Sort columns by name, then rows, NaN made comparable: the same
    normalization as the engine's oracle gate (``tools/check_oracle.py``)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def duck_rows(sql: str, sf_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def _file_mb(path: str) -> float:
    files = [path]
    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, "**", "*"), recursive=True)
    return sum(os.path.getsize(f) for f in files if os.path.isfile(f)) / (1024.0 * 1024.0)


class QueryWorkload:
    """Declared queries from the engine's ``queries()`` registry, each
    collected to the driver; checked against its DuckDB oracle when it has
    one, else for identical rows across passes."""

    queries: list[str] = []
    WARM_UP_PASSES = 1

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.sf_dir = None
        self.incoming_mb = 0.0

    def info(self) -> dict:
        return {"tables": self.table_rows, "input_mb": round(_file_mb(self.sf_dir), 2)}

    def setup(self, spark, work_dir: str) -> None:
        # the engine tables are fixed inputs; the seed drives the query order
        self.sf_dir = os.path.join(work_dir, "sf")
        self.table_rows = datagen.write_tables(self.sf_dir, SCALE, seed=42)

    def ops(self, pass_no: int):
        import __spark_entry__ as entry

        registry = entry.queries()
        names = list(self.queries)
        random.Random(self.seed * 1009 + pass_no).shuffle(names)
        return [(n, self._op(n, registry[n])) for n in names]

    def _op(self, name: str, fn):
        def op(spark, tracer):
            with tracer.span(name, "plans"):
                df = fn(spark, self.sf_dir)
            return _rows(df)
        return op

    def check(self, results) -> dict[int, str]:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        bad: dict[int, str] = {}
        first: dict[str, tuple] = {}
        for i, (name, out) in enumerate(results):
            got = norm_rows(*out)
            if name in oracles and name not in first:
                want = norm_rows(*duck_rows(oracles[name], self.sf_dir))
                if got != want:
                    bad[i] = f"{name}: differs from its DuckDB oracle"
            if name in first and got != first[name]:
                bad[i] = f"{name}: rows differ from its first pass"
            first.setdefault(name, got)
        return bad


class CorpusStream(QueryWorkload):
    """LLM-data queries (near-dup clusters, cosine top-k, token statistics)
    and streaming drains from the ``queries()`` registry, interleaved with
    seeded change batches committed with ``merge_upsert`` plus
    ``write_version``."""

    queries = ["neardup_clusters", "cosine_topk", "token_stats",
               "streaming_tumbling", "streaming_stateful_totals"]
    # commits are over half of every pass, so the median operation is a
    # commit rather than whichever query happens to sit at the middle rank
    UPSERTS_PER_PASS = 6

    def setup(self, spark, work_dir: str) -> None:
        super().setup(spark, work_dir)
        import pyarrow.parquet as pq

        self.work_dir = work_dir
        self.target = os.path.join(work_dir, "orders_target")
        self.versions = os.path.join(work_dir, "orders_changes")
        os.makedirs(self.target)
        shutil.copy(os.path.join(self.sf_dir, "orders.parquet"),
                    os.path.join(self.target, "part-0.parquet"))
        self.n_orders = self.table_rows["orders"]
        self.n_cust = pq.read_metadata(os.path.join(self.sf_dir, "customer.parquet")).num_rows
        self.batches_done = 0
        self.batch_mb = 0.0

    def _next_batch(self) -> str:
        """Write the next change batch, outside the timed pass."""
        import pyarrow.parquet as pq

        d = os.path.join(self.work_dir, "batches", f"b{self.batches_done}")
        os.makedirs(d)
        path = os.path.join(d, "orders.parquet")
        pq.write_table(datagen.change_batch(self.seed, self.batches_done, self.n_orders,
                                            self.n_cust), path)
        self.batches_done += 1
        self.batch_mb = _file_mb(path)
        return d

    def ops(self, pass_no: int):
        ops = super().ops(pass_no)
        for _ in range(self.UPSERTS_PER_PASS):
            ops.append(("upsert_commit", self._upsert(self._next_batch())))
        random.Random(self.seed * 7919 + pass_no).shuffle(ops)
        self.incoming_mb = self.UPSERTS_PER_PASS * self.batch_mb
        return ops

    def _upsert(self, batch_dir: str):
        def op(spark, tracer):
            from pyspark_weather_forecasting_gsod_spark.sources import io, merge, versioned

            batch = io.load_table(spark, batch_dir, "orders")
            merge.merge_upsert(spark, self.target, batch, keys=["o_orderkey"])
            v = versioned.write_version(batch, self.versions)
            return batch_dir, v
        return op

    def check(self, results) -> dict[int, str]:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        reads = [(i, r) for i, r in enumerate(results) if r[0] != "upsert_commit"]
        bad = {reads[j][0]: msg for j, msg in
               super().check([r for _, r in reads]).items()}
        commits = [(i, r[1]) for i, r in enumerate(results) if r[0] == "upsert_commit"]
        # last writer wins, applied to the batches in commit order
        want = {}
        for tbl in [pq.read_table(os.path.join(self.sf_dir, "orders.parquet"))] + [
                pq.read_table(os.path.join(d, "orders.parquet")) for _, (d, _) in commits]:
            for row in tbl.to_pylist():
                want[row["o_orderkey"]] = row
        got = ds.dataset(self.target, format="parquet").to_table().to_pylist()
        got_map = {r["o_orderkey"]: r for r in got}
        versions = [v for _, (_, v) in commits]
        if len(got) != len(got_map) or got_map != want:
            bad[commits[-1][0]] = "upsert target differs from last-writer-wins"
        if versions != list(range(1, len(commits) + 1)):
            bad[commits[-1][0]] = f"version numbers {versions}"
        return bad


class GsodEtl:
    """The paper's pipeline: CSV -> sentinel cleanup -> impute -> next-day
    label -> features -> LR + GBT fit/eval -> imputed table to parquet."""

    STATIONS = 50
    DAYS = 365
    # the pass after the cold one still ran 10-25% slower than later ones
    WARM_UP_PASSES = 2
    AUC_TOL = 1e-3

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.incoming_mb = 0.0

    def info(self) -> dict:
        return {"rows": self.n_rows, "input_mb": round(self.incoming_mb, 2)}

    def setup(self, spark, work_dir: str) -> None:
        from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import weather_fixture

        self.csv = os.path.join(work_dir, "gsod_csv")
        self.out = os.path.join(work_dir, "gsod_imputed")
        fx = weather_fixture(spark, self.STATIONS, self.DAYS, seed=self.seed)
        fx.write.option("header", "true").csv(self.csv)
        self.n_rows = 0
        for part in glob.glob(os.path.join(self.csv, "part-*")):
            with open(part) as fh:
                self.n_rows += sum(1 for _ in fh) - 1  # minus the header line
        self.incoming_mb = _file_mb(self.csv)

    def ops(self, pass_no: int):
        return [("gsod_pipeline", self._op)]

    def _op(self, spark, tracer):
        from pyspark_weather_forecasting_gsod_spark.pipelines.gsod import (
            gsod_csv_schema, run_gsod_pipeline)
        from pyspark_weather_forecasting_gsod_spark.sources import io

        df = io.read_csv(spark, self.csv, schema=gsod_csv_schema())
        res = run_gsod_pipeline(df, fast=True, with_classifier=True)
        io.write_parquet(res["imputed"], self.out)
        return {k: res[k] for k in ("census", "regression", "classification")}

    def check(self, results) -> dict[int, str]:
        import pyarrow.dataset as ds

        bad: dict[int, str] = {}
        first = results[0][1]
        for i, (_, out) in enumerate(results):
            census = out["census"]
            nulls = {k: v for k, v in census.items() if k.startswith("null_") and v}
            if nulls or census["n_rows"] != self.n_rows:
                bad[i] = f"census {census} vs {self.n_rows} rows"
            elif out["regression"] != first["regression"]:
                bad[i] = "regression metrics differ across passes"
            elif out["classification"]["accuracy"] != first["classification"]["accuracy"]:
                bad[i] = "classifier accuracy differs across passes"
            elif any(abs(out["classification"][k] - first["classification"][k]) > self.AUC_TOL
                     for k in ("areaUnderROC", "areaUnderPR")):
                bad[i] = "classifier AUC drifted beyond tolerance"
        written = ds.dataset(self.out, format="parquet").count_rows()
        if written != self.n_rows:
            bad[len(results) - 1] = f"wrote {written} rows, expected {self.n_rows}"
        return bad

    def auc_drift(self, results) -> float:
        roc = [out["classification"]["areaUnderROC"] for _, out in results]
        return max(roc) - min(roc)


WORKLOADS = {"gsod_etl": GsodEtl, "corpus_stream": CorpusStream}
