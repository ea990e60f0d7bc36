"""The benchmark's workloads. Each is one closed-loop client: the next
operation starts only after the previous one returned.

A workload object runs passes (``run_pass``), then checks the outputs
outside every timed interval (``check``), and in a traced run reports its
layer counters (``layer_metrics``). Every call into a package layer sits
inside a span named after that layer.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.spans import Tracer

HEADLINE_COUNT = 14
# Basket data size: 0.01 × sf1 row counts (60k lineitem rows). The basket
# is bound by per-job, per-stage and per-task fixed cost at this size.
BASKET_SCALE = 0.01
MONTHS = 4


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class PassResult:
    wall_s: float
    ops: list[tuple[str, float]] = field(default_factory=list)  # (kind, seconds)
    failed: int = 0


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of the DataFrame's last
    action, from its QueryExecution tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it, total = phases.iterator(), 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000


def median(xs: list[float]) -> float | None:
    return statistics.median(xs) if xs else None


def tail(xs: list[float]) -> tuple[float | None, int]:
    """The highest percentile with at least ten samples beyond it (never
    below the median), and that percentile."""
    n = len(xs)
    if not n:
        return None, 50
    pct = max(50, int(100 * (n - 10) / n))
    return sorted(xs)[min(n - 1, int(pct / 100 * n))], pct


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


# ------------------------------------------------------------------ basket


class Basket:
    """The headline registry queries; the seed permutes each warm pass's order."""

    name = "basket"
    nominal_pass_s = 10.0  # one warm pass on a 4-vCPU VM; sizes a run's pass count

    def __init__(self, spark, tracer: Tracer, specs: dict, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.specs = {n: s for n, s in specs.items() if s.headline}
        self.data = self.prepare(work, seed)
        self.rng = random.Random(seed)
        self.rows: dict[str, list] = {}          # last pass's collected rows
        self.columns: dict[str, list[str]] = {}
        self.counts: dict[str, set[int]] = {}    # row counts over every pass

    @staticmethod
    def prepare(work: str, seed: int) -> str:
        data = os.path.join(work, "data", f"basket-{BASKET_SCALE}")
        if not os.path.exists(os.path.join(data, "_DONE")):
            shutil.rmtree(data, ignore_errors=True)
            gen.write_basket_tables(data, BASKET_SCALE)
            open(os.path.join(data, "_DONE"), "w").close()
        return data

    def run_pass(self, read_plans: bool) -> PassResult:
        # The cold pass runs in name order, so every run's JIT warm-up
        # takes the same path; the seed permutes each warm pass.
        order = sorted(self.specs)
        if self.counts:
            order = self.rng.sample(order, len(order))
        res = PassResult(0.0)
        with self.tracer.span("pass", workload=self.name) as p:
            for name in order:
                with self.tracer.span("query", query=name) as q:
                    try:
                        with self.tracer.span("queries.build"):
                            df = self.specs[name].builder(self.spark, self.data)
                        with self.tracer.span("spark.action"):
                            rows = df.collect()
                    except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                        print(f"query {name} failed: {type(e).__name__}: {e}")
                        res.failed += 1
                        continue
                self.rows[name], self.columns[name] = rows, df.columns
                self.counts.setdefault(name, set()).add(len(rows))
                res.ops.append(("query", q.duration))
                if read_plans:
                    with self.tracer.span("spark.plan_read") as pr:
                        pr.attrs["plan_s"] = plan_seconds(df)
        res.wall_s = p.duration
        return res

    def check(self) -> list[Check]:
        import duckdb
        import pyarrow.parquet as pq

        from tools.verify_oracle import TABLES

        out = [Check("basket.headline_count", len(self.specs) == HEADLINE_COUNT,
                     f"{len(self.specs)} headline queries")]
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name, spec in sorted(self.specs.items()):
                if name not in self.rows:
                    out.append(Check(f"basket.{name}", False, "no result"))
                elif len(self.counts[name]) != 1:
                    out.append(Check(f"basket.{name}", False, f"row counts {sorted(self.counts[name])}"))
                elif spec.oracle is not None:
                    out.append(check_oracle(name, self.rows[name], self.columns[name],
                                            con.execute(spec.oracle).df()))
        finally:
            con.close()
        docs = pq.read_table(f"{self.data}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
        lsh = "doc_minhash_lsh_pairs"
        out.append(check_lsh(self.rows.get(lsh, []), dict(zip(docs["doc_id"], docs["text"]))))
        return out

    def layer_probe(self) -> dict[str, float]:
        """Traced run only: the text layer's LSH candidates over the
        basket corpus, and the graph layer's components over the
        verified pairs the LSH query returned."""
        from pyspark.sql import functions as F

        from financial_data_warehouse_automation_spark.operators.graph import (
            connected_components_two_phase,
        )
        from financial_data_warehouse_automation_spark.operators.text import (
            lsh_candidate_pairs,
            minhash_signatures,
            tokens,
            word_shingles,
        )

        spark = self.spark
        docs = spark.read.parquet(f"{self.data}/documents.parquet")
        with self.tracer.span("operators.text"):
            sh = docs.select("doc_id", word_shingles(tokens("text"), 3).alias("sh"))
            sigs = minhash_signatures(sh, "doc_id", F.col("sh"), k=64)
            n_cand = lsh_candidate_pairs(sigs, "doc_id", bands=16, rows=4).count()
        pairs = self.rows.get("doc_minhash_lsh_pairs", [])
        edges = spark.createDataFrame([(r.id_a, r.id_b) for r in pairs], "id_a long, id_b long")
        nodes = edges.select(F.col("id_a").alias("doc_id")).union(
            edges.select(F.col("id_b").alias("doc_id"))).distinct()
        with self.tracer.span("operators.graph") as g:
            connected_components_two_phase(nodes, edges, id_col="doc_id",
                                           src_col="id_a", dst_col="id_b").collect()
        return {
            "operators.text.candidate_pairs": n_cand,
            "operators.text.verified_pairs": len(pairs),
            "operators.text.pair_precision": len(pairs) / n_cand if n_cand else 0.0,
            "operators.graph.cc_s": g.duration,
        }

    def summary(self, warm: list[PassResult]) -> list[tuple]:
        """The workload's own named metrics: (name, value, unit, n, note)."""
        passes = [p.wall_s for p in warm]
        queries = [s for p in warm for _k, s in p.ops]
        t, pct = tail(queries)
        return [
            ("basket_pass_s", median(passes), "s", len(passes), ""),
            ("query_p50_s", median(queries), "s", len(queries), ""),
            ("query_tail_s", t, "s", len(queries), f", p{pct}"),
        ]


# ----------------------------------------------------------- monthly close

WH_SCHEMA = ("gl_code string, category string, year int, month int, "
             "department string, amount decimal(18,2)")
LED_SCHEMA = "gl_code string, status string, last_seen date"


class MonthlyClose:
    """The paper's monthly DAG on generated drops: per month, parse →
    GL misses → keep-last upsert on the last committed snapshot → QA
    ledger → write → one atomic commit, then the analyst's report (head
    statement totals plus one time-travel read)."""

    name = "monthly_close"
    nominal_pass_s = 5.0

    def __init__(self, spark, tracer: Tracer, specs: dict, work: str, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.dir = self.input_dir(work, seed)
        self.plan = gen.monthly_plan(seed, MONTHS)
        self.inputs = gen.monthly_inputs(os.path.join(self.dir, "in"), self.plan)
        self.model = gen.CloseModel(self.plan)
        self.passes = 0
        self.table = ""
        self.reports: list[tuple[int, int, dict]] = []  # (version asked, version read, totals)
        self.conflicts = 0
        self.superseded: list[int] = []
        self.delivered_bytes = gen.delivered_fact_bytes(os.path.join(self.dir, "facts"), self.plan)

    @staticmethod
    def input_dir(work: str, seed: int) -> str:
        return os.path.join(work, "monthly", f"seed-{seed}")

    @classmethod
    def prepare(cls, work: str, seed: int) -> str:
        """Write this seed's drops and GL dimension (a fresh directory)."""
        d = cls.input_dir(work, seed)
        shutil.rmtree(d, ignore_errors=True)
        gen.write_monthly_inputs(os.path.join(d, "in"), gen.monthly_plan(seed, MONTHS), seed)
        return d

    def _read(self, path: str, schema: str):
        return self.spark.read.schema(schema).parquet(path)

    def _totals(self, version: int) -> dict:
        from pyspark.sql import functions as F

        from financial_data_warehouse_automation_spark.operators.snapshots import read_manifest

        with self.tracer.span("operators.snapshots.read"):
            path = read_manifest(self.table, version)["warehouse"]
        cents = F.round(F.col("amount") * 100, 0).cast("bigint")
        rows = (
            self._read(path, WH_SCHEMA).groupBy("department", "month").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("category") == "Revenue", cents).otherwise(0)).alias("rev"),
                F.sum(cents).alias("profit"),
            ).collect()
        )
        return {(r.department, r.month): (r.n, r.rev, r.profit) for r in rows}

    def run_pass(self, read_plans: bool) -> PassResult:
        from pyspark.sql import functions as F

        from financial_data_warehouse_automation_spark.ingest.excel import LINE_SCHEMA
        from financial_data_warehouse_automation_spark.operators.ingest import parse_income_statement
        from financial_data_warehouse_automation_spark.operators.snapshots import (
            SnapshotConflict,
            as_of_version,
            read_manifest,
            try_commit,
        )
        from financial_data_warehouse_automation_spark.operators.warehouse import (
            qa_ledger_merge,
            upsert_keep_last,
        )

        spark = self.spark
        self.passes += 1
        self.table = os.path.join(self.dir, f"pass-{self.passes}", "table")
        os.makedirs(self.table)
        self.reports = []
        key = list(gen.KEY)
        cols = ["gl_code", "category", "year", "month", "department", "amount"]
        res = PassResult(0.0)
        with self.tracer.span("pass", workload=self.name) as p:
            dim_keys = spark.read.schema("gl_code string, description string").json(
                self.inputs["dim"]).select("gl_code")
            for version, drop in enumerate(self.inputs["drops"], start=1):
                month = self.plan[version - 1].month
                seen = F.lit(gen.seen_date(month)).cast("date")
                try:
                    with self.tracer.span("close", month=month) as c:
                        with self.tracer.span("operators.ingest"):
                            batch = parse_income_statement(spark.read.schema(LINE_SCHEMA).json(drop))
                        facts = batch.select(*cols[:-1], F.col("amount").cast("decimal(18,2)").alias("amount"))
                        misses = batch.select("gl_code").distinct().join(dim_keys, "gl_code", "left_anti")
                        with self.tracer.span("operators.warehouse"):
                            if version == 1:
                                wh = facts
                                ledger = misses.select("gl_code", F.lit("Open").alias("status"),
                                                       seen.alias("last_seen"))
                            else:
                                with self.tracer.span("operators.snapshots.read"):
                                    prev = read_manifest(self.table, version - 1)
                                wh = upsert_keep_last(self._read(prev["warehouse"], WH_SCHEMA),
                                                      facts, key).select(*cols)
                                ledger = qa_ledger_merge(self._read(prev["ledger"], LED_SCHEMA),
                                                         misses, ["gl_code"], seen_col=seen
                                                         ).select("gl_code", "status", "last_seen")
                        wh_d = os.path.join(self.table, f"wh-g{version}")
                        led_d = os.path.join(self.table, f"led-g{version}")
                        with self.tracer.span("operators.warehouse.write"):
                            wh.write.parquet(wh_d)
                            ledger.write.parquet(led_d)
                        with self.tracer.span("operators.snapshots.commit"):
                            try:
                                try_commit(self.table, version - 1, {"warehouse": wh_d, "ledger": led_d},
                                           meta={"_committed_at": gen.committed_at(version)})
                            except SnapshotConflict:
                                self.conflicts += 1
                                raise
                    res.ops.append(("close", c.duration))
                    with self.tracer.span("report", month=month) as r:
                        head = self._totals(version)
                        asked = gen.asof_target(self.seed, version)
                        with self.tracer.span("operators.snapshots.read"):
                            got = as_of_version(self.table, gen.committed_at(asked) + 500.0)
                        self.reports.append((version, version, head))
                        self.reports.append((asked, got, self._totals(got)))
                    res.ops.append(("report", r.duration))
                except Exception as e:  # noqa: BLE001 - the chain is broken; count and stop the pass
                    print(f"month {month} failed: {type(e).__name__}: {e}")
                    res.failed += 1
                    break
        res.wall_s = p.duration
        return res

    def check(self) -> list[Check]:
        from pyspark.sql import functions as F

        from financial_data_warehouse_automation_spark.ingest.excel import LINE_SCHEMA
        from financial_data_warehouse_automation_spark.operators.ingest import parse_income_statement
        from financial_data_warehouse_automation_spark.operators.snapshots import read_manifest

        out = check_reports(self.model, self.reports)
        n_ver = len(self.plan)
        if len(self.reports) != 2 * n_ver:
            return out  # the pass broke off; check_reports has failed it
        spark = self.spark
        led = sup = None
        for v in range(1, n_ver + 1):
            part = self._read(read_manifest(self.table, v)["ledger"], LED_SCHEMA).withColumn("v", F.lit(v))
            led = part if led is None else led.unionByName(part)
        ledgers: list[dict] = [{} for _ in range(n_ver)]
        for r in led.collect():
            ledgers[r.v - 1][r.gl_code] = (r.status, str(r.last_seen))
        out.append(check_ledgers(self.model, ledgers))
        # rows of snapshot v-1 whose key drop v re-delivers
        for v in range(2, n_ver + 1):
            keys = parse_income_statement(
                spark.read.schema(LINE_SCHEMA).json(self.inputs["drops"][v - 1])
            ).select(*gen.KEY)
            prev = self._read(read_manifest(self.table, v - 1)["warehouse"], WH_SCHEMA)
            part = prev.join(keys, list(gen.KEY), "left_semi").groupBy().count().withColumn("v", F.lit(v))
            sup = part if sup is None else sup.unionByName(part)
        self.superseded = [0] + [r["count"] for r in sorted(sup.collect(), key=lambda r: r.v)] if sup else [0]
        out.append(check_superseded(self.model, self.superseded))
        return out

    def layer_probe(self) -> dict[str, float]:
        """Traced run only: rows read and facts parsed over all drops,
        and the last pass's bytes and files under the table."""
        from financial_data_warehouse_automation_spark.ingest.excel import LINE_SCHEMA
        from financial_data_warehouse_automation_spark.operators.ingest import parse_income_statement

        lines = facts = 0
        for drop in self.inputs["drops"]:
            raw = self.spark.read.schema(LINE_SCHEMA).json(drop)
            lines += raw.count()
            facts += parse_income_statement(raw).count()
        size, files = tree_bytes(self.table)
        final = self.model.ledgers[-1].values()
        return {
            "operators.ingest.lines_in": lines,
            "operators.ingest.facts_out": facts,
            "operators.warehouse.rows_superseded": sum(self.superseded),
            "operators.warehouse.ledger_open": sum(1 for s, _ in final if s == "Open"),
            "operators.warehouse.ledger_resolved": sum(1 for s, _ in final if s == "Resolved"),
            "operators.snapshots.conflicts": self.conflicts,
            "operators.snapshots.bytes_written": size,
            "operators.snapshots.files_written": files,
            "operators.snapshots.write_amp": size / self.delivered_bytes,
        }

    def summary(self, warm: list[PassResult]) -> list[tuple]:
        """The workload's own named metrics: (name, value, unit, n, note)."""
        closes = [s for p in warm for k, s in p.ops if k == "close"]
        reports = [s for p in warm for k, s in p.ops if k == "report"]
        facts = sum(self.model.facts_per_month) * len(warm)
        t, pct = tail(closes)
        size, _ = tree_bytes(self.table)
        return [
            ("close_p50_s", median(closes), "s", len(closes), ""),
            ("close_tail_s", t, "s", len(closes), f", p{pct}"),
            ("report_p50_s", median(reports), "s", len(reports), ""),
            ("facts_per_s", facts / sum(closes) if closes else None, "facts/s", len(closes), ""),
            ("write_amp", size / self.delivered_bytes, "ratio", 1, ""),
        ]

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (Basket, MonthlyClose)}


# ------------------------------------------------------ output comparisons
# Pure functions over collected results, so the tests can feed them
# corrupted outputs.


def check_oracle(name: str, rows: list, columns: list[str], oracle_pdf) -> Check:
    """Order-insensitive value hash of a query's rows against its DuckDB
    oracle, with the registry's own hash (tools/verify_oracle.py)."""
    import pandas as pd

    from tools.verify_oracle import table_hash

    spark_pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    sh, oh = table_hash(spark_pdf), table_hash(oracle_pdf)
    return Check(f"basket.{name}", sh == oh and len(spark_pdf) == len(oracle_pdf),
                 f"rows {len(spark_pdf)}/{len(oracle_pdf)} hash {sh}/{oh}")


def shingles(text: str) -> set[str]:
    toks = text.split()
    return {" ".join(toks[j:j + 3]) for j in range(max(1, len(toks) - 2))}


def check_lsh(rows: list, texts: dict[int, str]) -> Check:
    """The rows-only LSH query: at least one pair, and every pair it
    returns is a true 3-gram-shingle Jaccard pair (≥ 0.5, value exact)."""
    bad = 0
    for id_a, id_b, jac in rows:
        a, b = shingles(texts[id_a]), shingles(texts[id_b])
        true = len(a & b) / len(a | b)
        bad += true < 0.5 or abs(true - jac) > 1e-9
    return Check("basket.doc_minhash_lsh_pairs", bool(rows) and not bad,
                 f"{len(rows)} pairs, {bad} wrong")


def check_reports(model: gen.CloseModel, reports: list[tuple[int, int, dict]]) -> list[Check]:
    """Every head report (rows, revenue and profit cents per department
    and month) and every time-travel read against the model."""
    n_ver = len(model.snapshots)
    heads, asofs = reports[0::2], reports[1::2]
    bad_head = [v for v, _g, t in heads if t != model.version_totals(v)]
    bad_asof = [(a, g) for a, g, t in asofs if a != g or t != model.version_totals(g)]
    return [
        Check("monthly.head_totals", len(heads) == n_ver and not bad_head,
              f"{len(heads)} of {n_ver} head reports, mismatched versions {bad_head}"),
        Check("monthly.asof_totals", len(asofs) == n_ver and not bad_asof,
              f"{len(asofs)} of {n_ver} as-of reads, mismatched (asked, read) {bad_asof}"),
    ]


def check_ledgers(model: gen.CloseModel, ledgers: list[dict]) -> Check:
    """Open/Resolved sets with their last_seen dates, every version."""
    bad = [v for v, got in enumerate(ledgers, start=1) if got != model.ledgers[v - 1]]
    return Check("monthly.ledger", len(ledgers) == len(model.ledgers) and not bad,
                 f"versions differing {bad}")


def check_superseded(model: gen.CloseModel, superseded: list[int]) -> Check:
    return Check("monthly.rows_superseded", superseded == model.superseded,
                 f"spark {superseded} model {model.superseded}")
