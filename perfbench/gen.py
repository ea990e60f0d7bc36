"""Seeded input generators for the benchmark, plus the pure-Python model
of the ``monthly_close`` result.

Nothing here imports Spark: the program under test only ever sees the
files these functions write.

* ``write_basket_tables`` writes the ten star-schema tables the headline
  queries read (one single-row-group parquet file per table, the shape
  of the test data TESTDATA.md describes), at a fixed content seed.
* ``monthly_plan`` draws N monthly income-statement deliveries from a
  seed; ``write_monthly_inputs`` renders them as ``LINE_SCHEMA`` JSON
  lines (header rows, REVENUES/EXPENSES sentinels, subtotals, currency
  quirks, skipped sheets) plus the GL dimension.
* ``CloseModel`` replays the same deliveries in plain Python and gives
  the expected warehouse, ledger, supersession counts and report totals.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- basket

BASKET_CONTENT_SEED = 20240101
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
P_ADJ = ("small", "red", "blue", "hot", "large", "green", "cold", "old")
P_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
P_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, (b - a).astype(int) + 1, n)).astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def basket_tables(scale: float) -> dict[str, pa.Table]:
    """The headline queries' tables at ``scale`` (1.0 = sf1 row counts)."""
    rng = np.random.default_rng(BASKET_CONTENT_SEED)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_users, n_docs = max(10, int(15_000 * scale)), max(50, int(50_000 * scale))
    n_vec = max(50, int(50_000 * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("O", "F", "P"), n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(40.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    emb = rng.normal(size=(n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random-vocabulary docs with planted near-duplicates (a copy with
    one token appended, ~5%) and exact duplicates (~0.2%)."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def write_basket_tables(out_dir: str, scale: float) -> None:
    """Write every basket table under ``out_dir`` (one row group each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in basket_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


# --------------------------------------------------------- monthly close

YEAR = 2024
DEPTS = tuple(range(123, 131))
REV_CODES = tuple(f"{c}" for c in range(1100, 1130))
EXP_CODES = tuple(f"{c}" for c in range(2100, 2160)) + ("123", "456")
UNMAPPED_CODES = tuple(f"{c}" for c in range(2990, 2999))
KEY = ("gl_code", "year", "month", "department", "category")


def pad_gl(code: str) -> str:
    return code.zfill(4)


@dataclass(frozen=True)
class Fact:
    gl_code: str   # as rendered in the sheet (may need zero-padding)
    dept: int
    category: str  # Revenue | Expenses
    cents: int


@dataclass
class Delivery:
    """One monthly drop: the month's own facts plus restated rows of
    the previous month (delivered under that month's file name)."""
    month: int
    facts: list[Fact]
    restated: list[Fact] = field(default_factory=list)


def monthly_plan(seed: int, months: int) -> list[Delivery]:
    """Draw ``months`` deliveries. The seed picks GL codes, amounts, the
    share of prior-month rows restated and the share of unmapped codes."""
    if not 1 <= months <= 12:
        raise ValueError(f"months must be in 1..12, got {months}")
    rng = random.Random(seed)
    restate_share = rng.uniform(0.1, 0.3)
    unmapped_share = rng.uniform(0.04, 0.1)
    live_unmapped = rng.sample(UNMAPPED_CODES, 3)
    plan: list[Delivery] = []
    for m in range(1, months + 1):
        if m > 1 and rng.random() < 0.5:  # an unmapped code is fixed, another appears
            live_unmapped[rng.randrange(3)] = rng.choice(UNMAPPED_CODES)
        facts = []
        for d in DEPTS:
            for code in rng.sample(REV_CODES, rng.randint(6, 12)):
                facts.append(Fact(code, d, "Revenue", rng.randint(1_000, 5_000_000)))
            for code in rng.sample(EXP_CODES, rng.randint(10, 20)):
                if rng.random() < unmapped_share:
                    code = rng.choice(live_unmapped)
                facts.append(Fact(code, d, "Expenses", -rng.randint(100, 2_000_000)))
        facts = _unique_keys(facts)
        restated = []
        if plan:
            for f in plan[-1].facts:
                if rng.random() < restate_share:
                    restated.append(Fact(f.gl_code, f.dept, f.category,
                                         f.cents + rng.randint(-50_000, 50_000) or 1))
        plan.append(Delivery(m, facts, restated))
    return plan


def _unique_keys(facts: list[Fact]) -> list[Fact]:
    seen, out = set(), []
    for f in facts:
        k = (pad_gl(f.gl_code), f.dept, f.category)
        if k not in seen:
            seen.add(k)
            out.append(f)
    return out


def file_name(month: int) -> str:
    return f"{month:02d}.{YEAR} Depts Income Statement.xlsx"


def _amount(rng: random.Random, cents: int) -> str:
    v = abs(cents) / 100
    if cents >= 0:
        return rng.choice(("${:,.2f}", "{:.2f}", "{:,.2f}")).format(v)
    return rng.choice(("({:,.2f})", "(${:,.2f})", "-{:.2f}")).format(v)


def _gl_cell(rng: random.Random, code: str) -> str:
    return f"{code}.0" if rng.random() < 0.05 else code


def _sheet_rows(rng: random.Random, fname: str, dept: int, facts: list[Fact]) -> list[dict]:
    dash = "–" if rng.random() < 0.2 else "-"
    sheet = f"DEPARTMENT {dept}{dash}F"
    rows = [("Company Inc", None, None)]
    rows += [("For the period ending", None, None)] * rng.randint(0, 2)
    rows.append(("NUMBER", "DESCRIPTION", "ACTUAL"))
    for cat, sentinel in (("Revenue", "REVENUES"), ("Expenses", "EXPENSES")):
        rows.append((sentinel, None, None))
        total = 0
        for f in (f for f in facts if f.category == cat):
            rows.append((_gl_cell(rng, f.gl_code), f"GL {f.gl_code}", _amount(rng, f.cents)))
            total += f.cents
            if rng.random() < 0.04:  # a junk amount the parse must drop
                rows.append(("2199", "Blank line", rng.choice(("n/a", "", None))))
        rows.append((None, f"TOTAL {sentinel}", _amount(rng, total)))
    rows.append((None, "OPERATING PROFIT/LOSS", "0.00"))
    return [
        {"file_name": fname, "sheet_name": sheet, "row_idx": i + 1,
         "col_a": a, "col_b": b, "col_c": c, "col_d": None, "col_e": None}
        for i, (a, b, c) in enumerate(rows)
    ]


def delivery_lines(rng: random.Random, delivery: Delivery) -> list[dict]:
    """Render one drop as line rows, including a SUMMARY sheet the
    parse must skip."""
    out: list[dict] = []
    parts = [(delivery.month, delivery.facts)]
    if delivery.restated:
        parts.append((delivery.month - 1, delivery.restated))
    for month, facts in parts:
        fname = file_name(month)
        for d in DEPTS:
            dept_facts = [f for f in facts if f.dept == d]
            if dept_facts:
                out += _sheet_rows(rng, fname, d, dept_facts)
        out.append({"file_name": fname, "sheet_name": "SUMMARY", "row_idx": 1,
                    "col_a": "1100", "col_b": "Would double-count", "col_c": "999.99",
                    "col_d": None, "col_e": None})
    return out


def dim_codes() -> list[str]:
    """Mapped GL codes (the dimension); UNMAPPED_CODES are never in it."""
    return sorted(pad_gl(c) for c in REV_CODES + EXP_CODES + ("2199",))


def monthly_inputs(out_dir: str, plan: list[Delivery]) -> dict:
    """Paths of the drop files and the GL dimension for ``plan``."""
    return {
        "drops": [os.path.join(out_dir, f"drop-{d.month:02d}.json") for d in plan],
        "dim": os.path.join(out_dir, "gl_dim.json"),
    }


def write_monthly_inputs(out_dir: str, plan: list[Delivery], seed: int) -> dict:
    """Write ``drop-MM.json`` per delivery and ``gl_dim.json``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed ^ 0x5EED)
    paths = monthly_inputs(out_dir, plan)
    for d, path in zip(plan, paths["drops"]):
        with open(path, "w") as f:
            for row in delivery_lines(rng, d):
                f.write(json.dumps(row) + "\n")
    with open(paths["dim"], "w") as f:
        for code in dim_codes():
            f.write(json.dumps({"gl_code": code, "description": f"GL {code}"}) + "\n")
    return paths


def seen_date(month: int) -> str:
    return f"{YEAR}-{month:02d}-15"


def committed_at(version: int) -> float:
    """Commit instant stamped on version ``version`` (1-based)."""
    return version * 1000.0


class CloseModel:
    """Expected state after each monthly close, replayed in Python."""

    def __init__(self, plan: list[Delivery]):
        dim = set(dim_codes())
        self.snapshots: list[dict[tuple, int]] = []  # version-1 -> warehouse
        self.ledgers: list[dict[str, tuple[str, str]]] = []
        self.superseded: list[int] = []
        self.facts_per_month: list[int] = []
        wh: dict[tuple, int] = {}
        ledger: dict[str, tuple[str, str]] = {}
        for d in plan:
            batch = {}
            for month, facts in ((d.month, d.facts), (d.month - 1, d.restated)):
                for f in facts:
                    batch[(pad_gl(f.gl_code), YEAR, month, str(f.dept), f.category)] = f.cents
            self.superseded.append(sum(1 for k in batch if k in wh))
            self.facts_per_month.append(len(batch))
            wh = {**wh, **batch}
            misses = {k[0] for k in batch} - dim
            seen = seen_date(d.month)
            if not self.ledgers:
                ledger = {c: ("Open", seen) for c in misses}
            else:
                ledger = {c: ("Resolved", s[1]) for c, s in ledger.items()}
                ledger.update({c: ("Open", seen) for c in misses})
            self.snapshots.append(wh)
            self.ledgers.append(ledger)

    @staticmethod
    def totals(wh: dict[tuple, int]) -> dict[tuple[str, int], tuple[int, int, int]]:
        """(department, month) -> (rows, revenue cents, profit cents)."""
        out: dict[tuple[str, int], list[int]] = {}
        for (_gl, _y, month, dept, cat), cents in wh.items():
            acc = out.setdefault((dept, month), [0, 0, 0])
            acc[0] += 1
            acc[1] += cents if cat == "Revenue" else 0
            acc[2] += cents
        return {k: tuple(v) for k, v in out.items()}

    def version_totals(self, version: int) -> dict[tuple[str, int], tuple[int, int, int]]:
        return self.totals(self.snapshots[version - 1])


def asof_target(seed: int, version: int) -> int:
    """The earlier version the analyst's time-travel read asks for after
    closing ``version`` (1 when there is no earlier one)."""
    return 1 if version == 1 else random.Random(seed * 131 + version).randint(1, version - 1)


def delivered_fact_bytes(out_dir: str, plan: list[Delivery]) -> int:
    """Parquet bytes of the delivered facts (one file per drop): the
    denominator of the write amplification."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    schema = pa.schema([("gl_code", pa.string()), ("category", pa.string()),
                        ("year", pa.int32()), ("month", pa.int32()),
                        ("department", pa.string()), ("amount", pa.decimal128(18, 2))])
    import decimal

    for d in plan:
        rows = [(pad_gl(f.gl_code), f.category, YEAR, m, str(f.dept),
                 decimal.Decimal(f.cents).scaleb(-2))
                for m, facts in ((d.month, d.facts), (d.month - 1, d.restated))
                for f in facts]
        cols = list(zip(*rows))
        table = pa.table([pa.array(c, t) for c, t in zip(cols, schema.types)], schema=schema)
        path = os.path.join(out_dir, f"facts-{d.month:02d}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
