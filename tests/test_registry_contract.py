"""Driver-contract invariants over the whole registry.

The correctness harness compares collected rows by sorting pandas
columns — cells holding lists/maps/structs crash its canonicalizer
(round-2 `events_map_breadth` failure), and a builder that raises kills
the gate row outright. These sweeps pin both properties for every
registered query at sf0.001, plus DuckDB parseability of every oracle,
so a new query can't silently break the gate.
"""

from __future__ import annotations

import duckdb
import pytest

from financial_data_warehouse_automation_spark.registry import load_all

SMOKE_DIR = "/root/testdata/sf0.001"
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def test_every_builder_runs_and_emits_simple_types(spark):
    offenders: dict[str, str] = {}
    for name, spec in load_all().items():
        try:
            df = spec.builder(spark, SMOKE_DIR)
        except Exception as e:  # noqa: BLE001
            offenders[name] = f"builder raised {type(e).__name__}: {e}"[:120]
            continue
        bad_cols = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if any(k in f.dataType.simpleString()
                   for k in ("array", "map", "struct", "decimal"))
        ]
        if bad_cols:
            offenders[name] = f"non-canonical output cols {bad_cols}"
    assert not offenders, f"driver-gate hazards: {offenders}"


def test_every_oracle_parses_in_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SMOKE_DIR}/{t}.parquet'"
        )
    bad: dict[str, str] = {}
    for name, spec in load_all().items():
        if spec.oracle is None:
            continue
        try:
            con.execute(f"EXPLAIN {spec.oracle}")
        except Exception as e:  # noqa: BLE001
            bad[name] = f"{type(e).__name__}: {e}"[:160]
    assert not bad, f"unparseable oracles: {bad}"


def test_every_oracle_emits_pandas_safe_types():
    """No HUGEINT / DECIMAL in any oracle's output schema.

    The driver canonicalizes through pandas, where DuckDB HUGEINT (an
    uncast SUM(int)) and DECIMAL both coerce to float64 while Spark's
    long stays int64 and Spark's decimal becomes a Decimal object — a
    guaranteed hash mismatch even on equal values. This class burned
    the gate in rounds 2 AND 3 (events_sessionization_30min twice);
    DESCRIBE binds types without executing, so the sweep is cheap.
    """
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SMOKE_DIR}/{t}.parquet'"
        )
    bad: dict[str, list[str]] = {}
    for name, spec in load_all().items():
        if spec.oracle is None:
            continue
        rows = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        hot = [
            f"{col}:{typ}" for col, typ, *_ in rows
            if "HUGEINT" in typ.upper() or "DECIMAL" in typ.upper()
        ]
        if hot:
            bad[name] = hot
    assert not bad, f"oracles emitting pandas-fragile types: {bad}"


@pytest.mark.parametrize("fn_name", ["entry", "queries", "oracle_sql"])
def test_spark_entry_exports(fn_name):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, fn_name))
    if fn_name != "entry":
        d = getattr(mod, fn_name)()
        assert isinstance(d, dict) and len(d) > 0


def test_headline_flags_match_bench_basket():
    import bench

    headline = {n for n, s in load_all().items() if s.headline}
    assert headline == set(bench.BASKET)
