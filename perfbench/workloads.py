"""The benchmark's workloads: the operations one pass runs, and the
checks that prove their outputs correct.

A workload builds a list of ``Op`` per pass. The runner times each
``Op.run`` from outside; ``Op.verify``, when set, runs after the timed
region and outside every span, and returns a list of mismatch messages.

- ``QueryWorkload`` (``sql_analytics``, ``corpus_curation``): one op per
  registered query, timed from the call ``QUERIES[name](spark, dir)``
  to the return of a noop-sink write of its result. Every output is
  compared once per run against the query's DuckDB oracle.
- ``LifecycleWorkload`` (``lake_lifecycle``): the write path on a fresh
  lake root per pass: a partitioned dump, hourly capture windows with
  seeded fetch failures, recapture, incremental materializations and
  checks, each step one op.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import random
from dataclasses import dataclass, field
from typing import Callable

from gen import TABLES


@dataclass
class Op:
    """One timed call into the engine."""

    name: str
    kind: str
    run: Callable[["Op"], None]
    verify: Callable[["Op"], list[str]] | None = None
    #: what ``run`` hands to ``verify``, e.g. the built DataFrame
    state: dict = field(default_factory=dict)


def duck_inputs(inputs: str):
    """A DuckDB connection with one view per input table of the run."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    return con


# -- result canonicalisation (as in tests/test_oracle_parity.py) ----------


def _canon(value):
    if isinstance(value, float):
        return "NaN" if math.isnan(value) else repr(value + 0.0)
    if isinstance(value, (dt.datetime, dt.date)):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    if isinstance(value, decimal.Decimal):
        return repr(float(value))
    return value


def canon_rows(columns, rows) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


# -- query workloads ------------------------------------------------------


class QueryWorkload:
    def __init__(self, queries: list[str]):
        self.queries = queries

    def prepare(self, spark, inputs: str, work: str, seed: int) -> None:
        from pipelines_spark.oracles import ORACLES
        from pipelines_spark.queries import QUERIES

        self.spark, self.inputs, self.seed = spark, inputs, seed
        self.fns = {q: QUERIES[q] for q in self.queries}
        con = duck_inputs(inputs)
        self.expected = {}
        self.output_rows: dict[str, int] = {}
        for q in self.queries:
            cur = con.execute(ORACLES[q])
            cols = [d[0] for d in cur.description]
            self.expected[q] = canon_rows(cols, cur.fetchall())
        con.close()

    def ops(self, pass_no: int) -> list[Op]:
        """Every query once, in an order the seed fixes for the run."""
        order = list(self.queries)
        random.Random(self.seed).shuffle(order)
        return [Op(q, "query", self._run, self._verify) for q in order]

    def _run(self, op: Op) -> None:
        fn = self.fns[op.name]
        tracer = op.state.get("tracer")
        if tracer is None:
            df = fn(self.spark, self.inputs)
            df.write.format("noop").mode("overwrite").save()
        else:
            with tracer.span("build"):
                df = fn(self.spark, self.inputs)
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
        op.state["df"] = df

    def _verify(self, op: Op) -> list[str]:
        df = op.state.pop("df")
        got = canon_rows(df.columns, df.collect())
        want = self.expected[op.name]
        self.output_rows[op.name] = len(got)
        if got == want:
            return []
        return [f"{op.name}: {len(got)} rows differ from the {len(want)}-row oracle"]

    def pass_facts(self, pass_no: int) -> dict:
        return {}

    def verify_pass(self, pass_no: int) -> list[str]:
        return []

    def context(self) -> dict:
        """Row counts of each checked output and of its oracle, so an
        empty result shows in the run context."""
        return {
            "output_rows": self.output_rows,
            "oracle_rows": {q: len(rows) for q, rows in self.expected.items()},
        }


# -- lake lifecycle ---------------------------------------------------------

CAPTURE_DAY = dt.datetime(2024, 1, 1)
CAPTURE_WINDOWS = 2
FAILED_WINDOWS = 1
#: materialization cut-offs: year ends, so each incremental run
#: replaces whole ``ano_particao`` partitions; the last covers every
#: ship date in the tables
MATERIALIZE_AT = (dt.datetime(1998, 12, 31), dt.datetime(2001, 12, 31))
MATERIALIZE_FROM = dt.datetime(1990, 1, 1)
MART = "lineitem_monthly"
MART_SQL = """
    SELECT ano_particao, mes_particao,
           count(*) AS n_rows,
           CAST(sum(price) AS DOUBLE) AS revenue,
           CAST(sum(qty) AS DOUBLE) AS quantity
    FROM (
        SELECT ano_particao, mes_particao,
               try_cast(l_extendedprice AS DECIMAL(18,2)) AS price,
               try_cast(l_quantity AS DECIMAL(18,2)) AS qty,
               try_cast(l_shipdate AS TIMESTAMP) AS ship_ts
        FROM lineitem_staging
    )
    WHERE ship_ts > timestamp '{date_range_start}'
      AND ship_ts <= timestamp '{date_range_end}'
    GROUP BY ano_particao, mes_particao
"""
LINEITEM_COLS = (
    "l_orderkey l_partkey l_suppkey l_linenumber l_quantity l_extendedprice "
    "l_discount l_tax l_returnflag l_linestatus l_shipdate"
).split()


def _tree_stats(root: str) -> tuple[int, int, int]:
    """(data files, bytes, leaf partition dirs) under ``root``."""
    files = size = 0
    leaves = set()
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
            leaves.add(dirpath)
    return files, size, len(leaves)


class LifecycleWorkload:
    def prepare(self, spark, inputs: str, work: str, seed: int) -> None:
        from pipelines_spark.plans.checks import Check
        from pipelines_spark.plans.models import SqlModel

        self.spark, self.inputs, self.work, self.seed = spark, inputs, work, seed
        self.windows = [CAPTURE_DAY + dt.timedelta(hours=h + 1) for h in range(CAPTURE_WINDOWS)]
        con = duck_inputs(inputs)
        self.source_bytes = os.path.getsize(f"{inputs}/lineitem.parquet")
        self.expected_parts = {
            (y, m) for y, m in con.execute(
                "SELECT DISTINCT strftime(l_shipdate, '%Y'), strftime(l_shipdate, '%m') FROM lineitem"
            ).fetchall()
        }
        self.expected_mart = canon_rows(
            ["ano_particao", "mes_particao", "n_rows", "revenue", "quantity"],
            con.execute(
                "SELECT strftime(l_shipdate, '%Y'), strftime(l_shipdate, '%m'), count(*), "
                "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), "
                "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) "
                f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{MATERIALIZE_AT[-1]}' GROUP BY 1, 2"
            ).fetchall(),
        )
        lo, hi = CAPTURE_DAY, self.windows[-1]
        self.expected_captured = con.execute(
            f"SELECT count(*) FROM events WHERE ts > TIMESTAMP '{lo}' AND ts <= TIMESTAMP '{hi}'"
        ).fetchone()[0]
        con.close()
        self.model = lambda root: SqlModel(
            name=MART, sql=MART_SQL, materialization="incremental",
            path=f"{root}/mart", partition_cols=["ano_particao"],
        )
        self.checks = [
            Check("staging_keys_cast", "SELECT * FROM lineitem_staging "
                  "WHERE try_cast(l_orderkey AS BIGINT) IS NULL"),
            Check("mart_covers_staging",
                  f"SELECT (SELECT sum(n_rows) FROM {MART}) = "
                  "(SELECT count(*) FROM lineitem_staging)", kind="expect_true"),
        ]
        self.facts: dict[int, dict] = {}

    def ops(self, pass_no: int) -> list[Op]:
        """One pass on a fresh lake root (created here, untimed)."""
        from pipelines_spark import flows
        from pipelines_spark.plans.checks import run_checks
        from pipelines_spark.plans.models import ModelRunner
        from pipelines_spark.state.watermark import WatermarkStore

        spark, inputs = self.spark, self.inputs
        root = os.path.join(self.work, f"lake-{pass_no}")
        os.makedirs(root)
        rng = random.Random(f"{self.seed}:{pass_no}")
        failing = set(rng.sample(range(CAPTURE_WINDOWS), FAILED_WINDOWS))
        fetched: set = set()
        facts = self.facts[pass_no] = {"root": root, "injected": len(failing)}
        staging, logs = f"{root}/events_staging", f"{root}/capture_logs"
        runner = ModelRunner(spark, [self.model(root)])
        store = WatermarkStore(spark, f"{root}/watermarks")

        def fetch(start, end):
            first = end not in fetched
            fetched.add(end)
            if first and self.windows.index(end) in failing:
                raise ConnectionError(f"injected fetch failure for window {end}")
            return spark.read.parquet(f"{inputs}/events.parquet").where(
                f"ts > timestamp '{start}' AND ts <= timestamp '{end}'"
            )

        def traced_fetch(op):
            tracer = op.state.get("tracer")
            if tracer is None:
                return fetch

            def wrapped(start, end):
                with tracer.span("capture.fetch"):
                    return fetch(start, end)

            return wrapped

        def dump(op):
            flows.run_dump_flow(
                spark, spark.read.parquet(f"{inputs}/lineitem.parquet"),
                lake_path=f"{root}/lineitem", staging_table="lineitem_staging",
                date_col="l_shipdate", partition_cols=("ano_particao", "mes_particao"),
            )

        def capture(i):
            def run(op):
                op.state["ok"] = flows.run_capture_window(
                    spark, traced_fetch(op),
                    window_start=self.windows[i] - dt.timedelta(hours=1),
                    window_end=self.windows[i], keys=["event_id"],
                    staging_path=staging, logs_path=logs, fetch_attempts=1,
                )

            def verify(op):
                want = i not in failing
                return [] if op.state["ok"] == want else [
                    f"window {self.windows[i]}: success={op.state['ok']}, expected {want}"
                ]

            return Op(f"capture_window_{i:02d}", "capture_window", run, verify)

        def recapture(op):
            facts["healed"] = flows.recapture_missing(
                spark, traced_fetch(op),
                spine_start=str(self.windows[0]), spine_end=str(self.windows[-1]),
                interval="1 hour", keys=["event_id"], staging_path=staging, logs_path=logs,
            )

        def materialize(k):
            now = MATERIALIZE_AT[k]
            # each run must start where the previous one left the watermark
            want = (MATERIALIZE_AT[k - 1] if k else MATERIALIZE_FROM, now)

            def run(op):
                op.state["range"] = flows.run_materialization(
                    spark, runner, store, model_name=MART, now=now,
                    fallback_start=MATERIALIZE_FROM,
                )

            def verify(op):
                got = op.state["range"]
                return [] if got == want else [f"materialized range {got}, expected {want}"]

            return Op(f"materialize_{now:%Y}", "materialize", run, verify)

        def checks(op):
            op.state["results"] = run_checks(spark, self.checks)

        def verify_checks(op):
            return [f"check {r.name} failed: {r.detail}" for r in op.state["results"] if not r.passed]

        return [
            Op("dump", "dump", dump),
            *(capture(i) for i in range(CAPTURE_WINDOWS)),
            Op("recapture", "recapture", recapture,
               lambda op: [] if facts["healed"] == len(failing) else [
                   f"recaptured {facts['healed']} windows, {len(failing)} failed"]),
            *(materialize(k) for k in range(len(MATERIALIZE_AT))),
            Op("checks", "checks", checks, verify_checks),
        ]

    def pass_facts(self, pass_no: int) -> dict:
        """Counts read from the pass's lake after it ran (untimed)."""
        facts = self.facts[pass_no]
        root = facts["root"]
        files, size, dirs = _tree_stats(f"{root}/lineitem")
        facts.update(
            lake_files=files, lake_bytes=size, lake_partition_dirs=dirs,
            bytes_per_input_byte=size / self.source_bytes,
            log_files=_tree_stats(f"{root}/capture_logs")[0],
            watermark_files=_tree_stats(f"{root}/watermarks")[0],
        )
        return facts

    def verify_pass(self, pass_no: int) -> list[str]:
        """End-state checks of one pass's lake, against DuckDB over the
        run's inputs."""
        from pipelines_spark.state.watermark import WatermarkStore

        root = self.facts[pass_no]["root"]
        errors = []
        staged = self.spark.table("lineitem_staging")
        typed = [f.name for f in staged.schema.fields if f.dataType.typeName() != "string"]
        if typed:
            errors.append(f"staged columns not string: {typed}")
        con = duck_inputs(self.inputs)
        lake = f"read_parquet('{root}/lineitem/**/*.parquet', hive_partitioning = true)"
        casts = ", ".join(
            f"CAST({c} AS {t})" for c, t in zip(
                LINEITEM_COLS,
                "BIGINT BIGINT BIGINT INTEGER DOUBLE DOUBLE DOUBLE DOUBLE VARCHAR VARCHAR TIMESTAMP".split(),
            )
        )
        cols = ", ".join(LINEITEM_COLS)
        diff = con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {casts} FROM {lake} EXCEPT ALL SELECT {cols} FROM lineitem)),"
            f" (SELECT count(*) FROM (SELECT {cols} FROM lineitem EXCEPT ALL SELECT {casts} FROM {lake}))"
        ).fetchone()
        if diff != (0, 0):
            errors.append(f"lake rows differ from source rows: {diff[0]} extra, {diff[1]} missing")
        parts = {
            tuple(p.split("=", 1)[1] for p in os.path.relpath(d, f"{root}/lineitem").split(os.sep))
            for d, _, names in os.walk(f"{root}/lineitem")
            if any(n.endswith(".parquet") for n in names)
        }
        if parts != self.expected_parts:
            errors.append(f"{len(parts)} partition dirs, expected {len(self.expected_parts)}")
        ok = {
            r[0] for r in con.execute(
                f"SELECT DISTINCT timestamp_captura FROM read_parquet('{root}/capture_logs/**/*.parquet') "
                "WHERE sucesso"
            ).fetchall()
        }
        missing = [w for w in self.windows if w not in ok]
        if missing:
            errors.append(f"windows without a success log row after recapture: {missing}")
        captured = con.execute(
            f"SELECT count(*) FROM read_parquet('{root}/events_staging/**/*.parquet')"
        ).fetchone()[0]
        if captured != self.expected_captured:
            errors.append(f"captured {captured} event rows, source has {self.expected_captured}")
        mart = con.execute(
            "SELECT ano_particao, mes_particao, n_rows, revenue, quantity "
            f"FROM read_parquet('{root}/mart/**/*.parquet', hive_partitioning = true, "
            "hive_types_autocast = false)"
        )
        got = canon_rows([d[0] for d in mart.description], mart.fetchall())
        if got != self.expected_mart:
            errors.append(f"mart has {len(got)} rows unequal to the {len(self.expected_mart)}-row source aggregate")
        con.close()
        mark, _ = WatermarkStore(self.spark, f"{root}/watermarks").get_table_watermark(MART)
        if mark != MATERIALIZE_AT[-1]:
            errors.append(f"final watermark {mark}, expected {MATERIALIZE_AT[-1]}")
        return errors

    def context(self) -> dict:
        return {"expected_captured_rows": self.expected_captured}


#: workload name -> (factory, nominal warm-pass seconds on 4 cores).
#: The nominal time fixes how many warm passes a run makes for a given
#: ``--seconds``; it is a constant, not a measurement, so that a faster
#: engine shortens the passes without changing their number.
WORKLOADS = {
    "sql_analytics": (lambda: QueryWorkload([
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q8_market_share", "j11_asof_enrichment",
    ]), 2.0),
    "corpus_curation": (lambda: QueryWorkload([
        "dedup_minhash_lsh", "embed_pq_adc", "graph_pagerank",
    ]), 3.0),
    "lake_lifecycle": (LifecycleWorkload, 5.0),
}
