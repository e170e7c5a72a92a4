"""The benchmark's workloads: what one operation is, how it is traced,
and how its output is checked against DuckDB.

- ``queries``: registered queries, each built and run to the noop sink.
- ``pipeline_lake``: the YAML stream in pipeline.yaml run by
  ``StreamRunner`` to lake, fileshare and SMTP sinks, then an upsert of a
  changed slice into the lake table.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os
import pickle
import random
import shutil
import sys
import traceback
from dataclasses import dataclass, field
from typing import Any

from measure import Tracer

import fixture

HERE = os.path.dirname(os.path.abspath(__file__))
# untimed passes after the cold one: the first warm passes still run
# 20-50% slower while the JIT compiles (README, "What a run does"). On
# ``queries`` the last of them collects every result for the check.
WARMUP_PASSES = 2


def _selfcheck():
    """The oracle comparisons of tools/selfcheck.py."""
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    import selfcheck

    return selfcheck


@dataclass
class Context:
    spark: Any
    registry: dict
    data_dir: str
    out_dir: str
    seed: int
    tracer: Tracer
    inject: bool = False  # make one operation return a wrong result
    op_id: str = ""
    counters: dict[str, float] = field(default_factory=dict)
    _duck: Any = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def tag(self, phase: str) -> None:
        """Traced runs only: tag the next jobs with ``<phase>:<op id>``."""
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"{phase}:{self.op_id}", self.op_id)

    def untag(self) -> None:
        sc = self.spark.sparkContext
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)

    def count(self, name: str, value: float = 1) -> None:
        """Traced runs only: add ``value`` to the op's counter ``name``."""
        if not self.traced:
            return
        key = f"{self.op_id}|{name}"
        self.counters[key] = self.counters.get(key, 0) + value

    def duck(self):
        """DuckDB over the fixture's tables, bounded and spilling inside
        the run's output directory."""
        if self._duck is None:
            import duckdb

            from data_bridge_spark.catalog import TABLE_NAMES

            con = duckdb.connect()
            spill = os.path.join(self.out_dir, "duck-spill")
            os.makedirs(spill, exist_ok=True)
            con.execute("SET memory_limit='1GB'")
            con.execute(f"SET temp_directory='{spill}'")
            for t in TABLE_NAMES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            self._duck = con
        return self._duck


def install_probes(ctx: Context):
    """Wrap the package's layer entry points that the benchmark reaches
    only through other package code, so their calls get spans and
    counts. Returns a function that restores the originals."""
    from pyspark.sql.readwriter import DataFrameReader

    from data_bridge_spark import catalog
    from data_bridge_spark.functions import templating
    from data_bridge_spark.plans import runner
    from data_bridge_spark.sinks import writers

    saved = []
    in_table = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def table(orig):
        def wrapped(self, name):
            ctx.count("catalog.table_calls")
            in_table.append(name)
            try:
                with ctx.tracer.span("catalog.table"):
                    return orig(self, name)
            finally:
                in_table.pop()

        return wrapped

    def parquet(orig):
        def wrapped(self, *args, **kwargs):
            if in_table:  # a raw read the catalog's cache did not serve
                ctx.count("catalog.raw_reads")
            return orig(self, *args, **kwargs)

        return wrapped

    def spanned(span, counter=None):
        def make(orig):
            def wrapped(*args, **kwargs):
                if counter:
                    ctx.count(counter)
                with ctx.tracer.span(span):
                    return orig(*args, **kwargs)

            return wrapped

        return make

    patch(catalog.Tables, "table", table)
    patch(DataFrameReader, "parquet", parquet)
    patch(runner, "read_file_source", spanned("sources.read", "sources.read_calls"))
    patch(templating, "spark_sql_with_params", spanned("functions.render", "functions.render_calls"))
    for sink in ("lake", "fileshare", "smtp"):
        patch(writers, f"write_{sink}", spanned(f"sinks.{sink}"))

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return undo


def _drop_one_row(df):
    """The injected fault: the same result less one row."""
    return df.exceptAll(df.limit(1))


# ------------------------------------------------------------- queries


class Queries:
    """Registered queries built and written to the noop sink: a
    multi-join report; an audit that reads seven catalog tables, fences
    with lineage_cut and starts jobs while it builds; asof_merge_pandas
    for the Python (applyInPandas) edge, which no headline query has;
    and a plain two-table join. Four queries, an even count, so the
    median over queries in ``op_p50_s`` averages the two middle ones
    instead of following whichever single query lands in the middle."""

    name = "queries"
    QUERIES = (
        "flagship_report",
        "fk_integrity_audit",
        "asof_merge_pandas",
        "join_inner",
    )

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self._digest: str | None = None
        self._collect = False  # this pass collects results for the check
        self._result = None
        self._check_dir = os.path.join(ctx.out_dir, "check")

    def setup(self) -> None:
        pass

    def ops(self, p: int) -> list[str]:
        """Pass ``p``'s order. The cold pass keeps one fixed order: the
        first query pays most of the session's first-use costs, so a drawn
        order would make ``cold_pass_s`` depend on the seed. Later passes
        draw theirs from the seed: each query follows different neighbours
        from pass to pass, so a run's medians do not hang on one order."""
        self._collect = p == WARMUP_PASSES
        order = list(self.QUERIES)
        if p:
            random.Random(f"{self.ctx.seed}/{p}").shuffle(order)
        return order

    def _df(self, name: str):
        df = self.ctx.registry[name].fn(self.ctx.spark, self.ctx.data_dir)
        if self.ctx.inject and name == self.QUERIES[0]:
            df = _drop_one_row(df)
        return df

    def before_op(self, name: str) -> None:
        # every sample recomputes from the inputs: drop the previous
        # op's fenced blocks (untimed, as bench.py does)
        from data_bridge_spark.session import drop_dead_blocks

        drop_dead_blocks(self.ctx.spark)

    def run_op(self, name: str) -> None:
        ctx, span = self.ctx, self.ctx.tracer.span
        ctx.tag("build")
        with span("operators.build"):
            df = self._df(name)
        ctx.tag("exec")
        if ctx.traced:
            with span("operators.plan"):
                df._jdf.queryExecution().executedPlan()
        with span("operators.exec"):
            if self._collect:
                self._result = (df.columns, dict(df.dtypes), [tuple(r) for r in df.collect()])
            else:
                df.write.format("noop").mode("overwrite").save()

    def after_op(self, name: str) -> list[str]:
        """Park a collected result on disk until the check, so that it is
        not counted in the process's memory (untimed)."""
        if self._result is not None:
            os.makedirs(self._check_dir, exist_ok=True)
            with open(os.path.join(self._check_dir, f"{name}.pkl"), "wb") as f:
                pickle.dump(self._result, f)
            self._result = None
        return []

    def final_check(self, op_ids: list[str]) -> dict[str, list[str]]:
        """Every query's result, as the last warm-up pass collected it,
        against its DuckDB oracle. A wrong result fails every op of that
        query."""
        sc = _selfcheck()
        problems: dict[str, list[str]] = {}
        for name in self.QUERIES:
            try:
                ocols, otypes, oset = self._oracle(name)
                with open(os.path.join(self._check_dir, f"{name}.pkl"), "rb") as f:
                    scols, stypes, srows = pickle.load(f)
                p = []
                if sorted(scols) != sorted(ocols):
                    p.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
                else:
                    for c in scols:
                        if sc.canon_spark_type(stypes[c]) != sc.canon_duck_type(otypes[c]):
                            p.append(f"dtype {c}: spark={stypes[c]} oracle={otypes[c]}")
                    sset = sc.rowset(scols, srows)
                    n_s, n_o = sum(sset.values()), sum(oset.values())
                    if n_s != n_o:
                        p.append(f"rowcount spark={n_s} oracle={n_o}")
                    elif sset != oset:
                        p.append(f"values differ: spark-only {list((sset - oset))[:2]}")
            except Exception:
                p = [traceback.format_exc()]
            if p:
                problems[name] = p
        return {o: problems[o.rsplit("/", 1)[1]] for o in op_ids
                if o.rsplit("/", 1)[1] in problems}

    def _oracle(self, name: str):
        """(columns, types, canonical multiset) of the DuckDB oracle,
        cached on disk by oracle SQL and the fixture's input bytes."""
        sql = self.ctx.registry[name].oracle
        if self._digest is None:
            self._digest = fixture.verify(self.ctx.data_dir)
        key = hashlib.sha256((sql + self._digest).encode()).hexdigest()
        cache_dir = os.path.join(os.path.dirname(self.ctx.out_dir), "oracle-cache")
        path = os.path.join(cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        con = self.ctx.duck()
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = _selfcheck().rowset(cols, res.fetchall())
        types = {r[0]: r[1] for r in con.execute(f"DESCRIBE SELECT * FROM ({sql})").fetchall()}
        out = (cols, types, rows)
        os.makedirs(cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out, f)
        os.replace(path + ".tmp", path)
        return out


# ------------------------------------------------------------ pipeline


def enrich(inputs):
    from pyspark.sql import functions as F

    lines, orders = inputs["window_lines"], inputs["orders"]
    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    out = lines.join(orders, lines.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "l_quantity",
        "l_shipdate",
        "o_custkey",
        "o_orderpriority",
        revenue.cast("decimal(18,4)").alias("revenue"),
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
    )
    return {"enriched": out}


def summarize(inputs):
    from pyspark.sql import functions as F

    out = inputs["enriched"].groupBy("ship_month", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("l_quantity").alias("qty"),
        F.sum("revenue").alias("revenue"),
    )
    return {"summary": out}


def pick_urgent(inputs):
    from pyspark.sql import functions as F

    out = (
        inputs["enriched"]
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("l_orderkey")
        .distinct()
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    return {"urgent_orders": out}


def mail_summary(inputs):
    from pyspark.sql import functions as F

    revenue = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    out = inputs["urgent_lines"].groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("l_quantity").alias("qty"),
        F.sum(revenue.cast("decimal(18,4)")).alias("revenue"),
    )
    return {"mail_rows": out}


TRANSFORMS = {
    "enrich": enrich,
    "summarize": summarize,
    "pick_urgent": pick_urgent,
    "mail_summary": mail_summary,
}

# DuckDB forms of the stream's steps, for the expected outputs
_ENRICHED_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_shipdate,
       o_custkey, o_orderpriority,
       CAST(CAST(l_extendedprice AS DECIMAL(12,2))
            * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS revenue,
       strftime(l_shipdate, '%Y-%m') AS ship_month
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '{start}' AND l_shipdate < DATE '{end}'
"""
_SUMMARY_SQL = """
SELECT ship_month, o_orderpriority, COUNT(*) AS n_lines, SUM(l_quantity) AS qty,
       SUM(revenue) AS revenue
FROM enriched GROUP BY ALL
"""
_MAIL_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines, SUM(l_quantity) AS qty,
       SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT l_orderkey FROM enriched
                     WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
GROUP BY ALL
"""
_LAKE_COLS = (
    "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_shipdate, "
    "o_custkey, o_orderpriority, CAST(revenue AS DECIMAL(18,4)) AS revenue, ship_month"
)


class MemoryTransport:
    """SMTP transport that keeps the messages it is given."""

    def __init__(self):
        self.messages: list = []

    def send_message(self, msg) -> None:
        self.messages.append(msg)


@dataclass
class RunParams:
    start: dt.date
    end: dt.date
    month: str  # upserted partition
    residue: int  # l_orderkey % 5 of the changed rows; +1 is the inserted slice


class Pipeline:
    """One op is a full StreamRunner run plus the upsert that follows."""

    name = "pipeline_lake"
    WINDOW_MONTHS = 12

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.transport = MemoryTransport()
        self.lake_table = os.path.join(ctx.out_dir, "lake", "lines_by_month")
        self.last: dict[str, Any] = {}
        self.snapshots: list[dict] = []
        self._starts = list(range(60))  # every window lies inside the data
        random.Random(ctx.seed).shuffle(self._starts)

    def setup(self) -> None:
        from data_bridge_spark.plans.config import load_stream_config

        with self.ctx.tracer.span("plans.config"):
            self.stream = load_stream_config(
                "lake_pipeline",
                os.path.join(HERE, "pipeline.yaml"),
                functions=TRANSFORMS,
                env={"DATA_DIR": self.ctx.data_dir, "OUT_DIR": self.ctx.out_dir},
            )
        self.steps = {s.name: s for s in self.stream.steps}
        if self.ctx.inject:
            self.steps["summarize"].function = lambda i: {
                "summary": _drop_one_row(summarize(i)["summary"])
            }

    def ops(self, p: int) -> list[str]:
        return ["run"]

    def params(self, op_id: str) -> RunParams:
        """Pass ``p``'s run parameters, drawn from the seed. Each pass of a
        run gets a window that no earlier pass had: the window's dates are
        literals in the generated code, so a repeated window could reuse
        code compiled for an earlier pass and run faster than the others."""
        p = int(op_id.split("/")[1])
        rng = random.Random(f"{self.ctx.seed}/{p}")
        first = self._starts[p % len(self._starts)]  # months after 1995-01
        y, m = divmod(first, 12)
        start = dt.date(1995 + y, m + 1, 1)
        y2, m2 = divmod(first + self.WINDOW_MONTHS, 12)
        upsert = first + rng.randrange(self.WINDOW_MONTHS)
        return RunParams(
            start,
            dt.date(1995 + y2, m2 + 1, 1),
            f"{1995 + upsert // 12}-{upsert % 12 + 1:02d}",
            rng.randrange(5),
        )

    def before_op(self, name: str) -> None:
        self.transport.messages.clear()

    def run_op(self, name: str) -> None:
        from pyspark.sql import functions as F

        from data_bridge_spark.plans.runner import StreamRunner
        from data_bridge_spark.sinks.writers import upsert_partitioned_table

        ctx, span = self.ctx, self.ctx.tracer.span
        p = self.params(ctx.op_id)
        self.steps["extract_window"].params = {"start": p.start, "end": p.end}
        ctx.tag("exec")
        runner = StreamRunner(ctx.spark, self.stream, {"mailer": self.transport})
        with span("plans.run"):
            result = runner.run()
        enriched = runner.step_outputs["enriched"]
        in_month = F.col("ship_month") == p.month
        changed = enriched.filter(in_month & (F.col("l_orderkey") % 5 == p.residue))
        added = enriched.filter(in_month & (F.col("l_orderkey") % 5 == (p.residue + 1) % 5))
        updates = changed.withColumn("l_quantity", F.col("l_quantity") + 1).unionByName(
            added.withColumn("l_linenumber", F.col("l_linenumber") + 100)
        )
        with span("sinks.upsert"):
            upserted = upsert_partitioned_table(
                ctx.spark,
                updates,
                self.lake_table,
                partition_cols=["ship_month"],
                key_cols=["l_orderkey", "l_linenumber"],
                sort_cols=["l_orderkey", "l_linenumber"],
            )
        self.last = {"params": p, "result": result, "upserted": upserted}
        ctx.count("plans.cached_outputs", len(runner.cached))
        ctx.count("plans.collect_rows", len(runner.step_outputs["urgent_ids"]))

    def after_op(self, name: str) -> list[str]:
        """Keep this run's deliveries for the check (untimed); DuckDB
        stays out of the process until memory has been read."""
        snap = dict(self.last, op_id=self.ctx.op_id, traced=self.ctx.traced)
        self.last = {}
        d = snap["dir"] = os.path.join(self.ctx.out_dir, "check", self.ctx.op_id.replace("/", "_"))
        shutil.copytree(self.lake_table, os.path.join(d, "lake"))
        shutil.copy(os.path.join(self.ctx.out_dir, "share", "summary.csv"), d)
        snap["mails"] = len(self.transport.messages)
        for m in self.transport.messages[:1]:
            with open(os.path.join(d, "attachment.csv"), "wb") as f:
                f.write(next(m.iter_attachments()).get_content())
        if self.ctx.traced:
            self._count_sinks(snap)
        self.snapshots.append(snap)
        return []

    def _count_sinks(self, snap: dict) -> None:
        """Traced runs: rows, files and bytes the run's sinks wrote."""
        receipts = snap["result"].dest_responses
        files = [f for f in glob.glob(os.path.join(snap["dir"], "**"), recursive=True)
                 if f.endswith((".parquet", ".csv"))]
        self.ctx.count("sinks.rows_written",
                       sum(r.records_processed for r in receipts) + snap["upserted"])
        self.ctx.count("sinks.files_written", len(files))
        self.ctx.count("sinks.bytes_written", sum(os.path.getsize(f) for f in files))
        self.ctx.count("sinks.failed", sum(r.status != "success" for r in receipts))
        self.ctx.count("sinks.upsert_rows", snap["upserted"])

    def final_check(self, op_ids: list[str]) -> dict[str, list[str]]:
        """Every run's deliveries against DuckDB expectations."""
        out = {}
        for snap in self.snapshots:
            try:
                problems = self._check(snap)
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                out[snap["op_id"]] = problems
        return out

    def _check(self, snap: dict) -> list[str]:
        p, result, d = snap["params"], snap["result"], snap["dir"]
        con = self.ctx.duck()
        con.execute(
            "CREATE OR REPLACE TEMP TABLE enriched AS "
            + _ENRICHED_SQL.format(start=p.start, end=p.end)
        )
        problems = []
        expect = {
            "lake": con.execute("SELECT COUNT(*) FROM enriched").fetchone()[0],
            "share": con.execute(f"SELECT COUNT(*) FROM ({_SUMMARY_SQL})").fetchone()[0],
            "mailer": con.execute(f"SELECT COUNT(*) FROM ({_MAIL_SQL})").fetchone()[0],
        }
        if result.status != "success":
            problems.append(f"run status {result.status}")
        for r in result.dest_responses:
            if r.status != "success":
                problems.append(f"{r.destination_name}: {r.status} {r.message}")
            elif r.records_processed != expect.get(r.destination_name):
                problems.append(
                    f"{r.destination_name}: records_processed {r.records_processed} "
                    f"!= {expect.get(r.destination_name)}"
                )
        csv = (
            "SELECT * FROM read_csv('{}', header=true, nullstr='\\N', "
            "types={{'n_lines': 'BIGINT', 'qty': 'DOUBLE', 'revenue': 'DECIMAL(38,4)'}})"
        )
        problems += _diff(con, csv.format(os.path.join(d, "summary.csv")), _SUMMARY_SQL,
                          "fileshare csv")
        if snap["mails"] != 1:
            problems.append(f"smtp: {snap['mails']} messages sent")
        else:
            problems += _diff(con, csv.format(os.path.join(d, "attachment.csv")), _MAIL_SQL,
                              "smtp attachment")
        where = f"ship_month = '{p.month}' AND l_orderkey % 5 = "
        upserted_sql = f"""
            SELECT * FROM enriched WHERE NOT ({where}{p.residue})
            UNION ALL SELECT * REPLACE (l_quantity + 1 AS l_quantity)
                FROM enriched WHERE {where}{p.residue}
            UNION ALL SELECT * REPLACE (l_linenumber + 100 AS l_linenumber)
                FROM enriched WHERE {where}{(p.residue + 1) % 5}"""
        lake = (
            f"SELECT {_LAKE_COLS} FROM read_parquet('{d}/lake/*/*.parquet', "
            "hive_partitioning=true, hive_types={'ship_month': VARCHAR})"
        )
        problems += _diff(con, lake, upserted_sql, "upserted lake table")
        n_month = con.execute(
            f"SELECT COUNT(*) FROM ({upserted_sql}) WHERE ship_month = '{p.month}'"
        ).fetchone()[0]
        if snap["upserted"] != n_month:
            problems.append(f"upsert wrote {snap['upserted']} rows, want {n_month}")
        if snap["traced"]:
            updates = con.execute(
                f"SELECT COUNT(*) FROM enriched WHERE ship_month = '{p.month}' "
                f"AND l_orderkey % 5 IN ({p.residue}, {(p.residue + 1) % 5})"
            ).fetchone()[0]
            self.ctx.counters[f"{snap['op_id']}|sinks.update_rows"] = updates
        return problems


def _diff(con, got_sql: str, want_sql: str, what: str) -> list[str]:
    """Multiset difference of two DuckDB queries, both ways."""
    extra = con.execute(
        f"SELECT COUNT(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))"
    ).fetchone()[0]
    missing = con.execute(
        f"SELECT COUNT(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}))"
    ).fetchone()[0]
    if extra or missing:
        return [f"{what}: {extra} unexpected rows, {missing} missing rows"]
    return []


WORKLOADS = {w.name: w for w in (Queries, Pipeline)}
