"""Statement-parsing operators: the reference's order-dependent ingest
windows (SURVEY §2.6 W1–W3, §2.2 P2/P5/P7, §2.5 F1–F4) as pure
DataFrame transforms.

Row order inside a sheet is data here, carried by an explicit
``row_idx`` column (the Excel adapter emits it; fixtures ship it).
Every window partitions by (file_name, sheet_name) — thousands of
independent small partitions at scale, no global sort anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SHEET_PART = ("file_name", "sheet_name")


def _sheet_window() -> Window:
    return Window.partitionBy(*_SHEET_PART)


def discover_header_rows(
    df: DataFrame, col_a: str = "col_a", col_b: str = "col_b"
) -> DataFrame:
    """W2/P7 (Code.gs:175-186): find the first row per sheet where
    A=NUMBER ∧ B=DESCRIPTION; keep only later rows. Sheets with no
    header row drop out entirely (the GS loop never starts)."""
    is_header = (F.upper(F.trim(col_a)) == "NUMBER") & (
        F.upper(F.trim(col_b)) == "DESCRIPTION"
    )
    hdr_idx = F.min(F.when(is_header, F.col("row_idx"))).over(_sheet_window())
    return (
        df.withColumn("_hdr_idx", hdr_idx)
        .where(F.col("_hdr_idx").isNotNull() & (F.col("row_idx") > F.col("_hdr_idx")))
        .drop("_hdr_idx")
    )


# SQL-string equivalents of the F1-F4 scalar helpers, for the hot parse
# pipelines below. Construction cost finding (r15): the Column-composed
# parsers were ~600 py4j round trips per build (~0.3s under load, paid
# per bench rep); chained selectExpr/where strings emit the identical
# expression trees in ~10 calls. The Column helpers in
# functions/scalars.py remain the library API (property-tested); these
# templates are pinned to them by the ingest fixtures and the two-SF
# DuckDB oracle gate, which hash-check every branch (currency quirks,
# zero-pad, en-dash, header depth, sentinels).
_SQL_TRIMS = "trim(cast({c} as string))"
_SQL_GL = (
    "CASE WHEN regexp_extract(" + _SQL_TRIMS + r", '^(\\d{{1,4}})(?:\\.0+)?$', 1) != '' "
    "THEN lpad(regexp_extract(" + _SQL_TRIMS + r", '^(\\d{{1,4}})(?:\\.0+)?$', 1), 4, '0') END"
)
_SQL_AMT = (
    "CASE WHEN trim(regexp_replace(" + _SQL_TRIMS + r", '[$,]', '')) RLIKE '^\\(.*\\)$' "
    "THEN -try_cast(trim(regexp_replace(trim(regexp_replace(" + _SQL_TRIMS
    + r", '[$,]', '')), '^\\((.*)\\)$', '$1')) AS DECIMAL(18,2)) "
    "ELSE try_cast(trim(regexp_replace(" + _SQL_TRIMS
    + r", '[$,]', '')) AS DECIMAL(18,2)) END"
)
_SQL_MONTH = (
    r"CASE WHEN try_cast(regexp_extract(file_name, '(\\d{2})\\.(\\d{4})', 1) AS INT) "
    r"BETWEEN 1 AND 12 "
    r"THEN try_cast(regexp_extract(file_name, '(\\d{2})\\.(\\d{4})', 1) AS INT) END"
)
_SQL_YEAR = (
    "CASE WHEN " + _SQL_MONTH + " IS NOT NULL "
    r"THEN try_cast(regexp_extract(file_name, '(\\d{2})\\.(\\d{4})', 2) AS INT) END"
)
_SQL_DEPT = (
    "CASE WHEN regexp_extract(" + _SQL_TRIMS.format(c="sheet_name")
    + r", '(?i)^DEPARTMENT\\s+(\\d+)[-–—]F$', 1) != '' "
    "THEN regexp_extract(" + _SQL_TRIMS.format(c="sheet_name")
    + r", '(?i)^DEPARTMENT\\s+(\\d+)[-–—]F$', 1) END"
)
_SQL_SHEET_W = "PARTITION BY file_name, sheet_name"
_SQL_RUN_W = (
    _SQL_SHEET_W + " ORDER BY row_idx ROWS BETWEEN UNBOUNDED PRECEDING"
    " AND CURRENT ROW"
)


def parse_income_statement(lines: DataFrame) -> DataFrame:
    """Full income-statement parse (build_warehouse.py:86-105 +
    Code.gs:168-204): header discovery → category forward-fill → GL-row
    filter (zero-padded, Code.gs:251-256) → amount parse → null-amount
    drop → period/department stamping.

    Output grain: (gl_code, year, month, department, category) facts.
    The W1 category forward-fill is the running ``last(..., true)``
    window below; W2 emits the same expression tree as
    ``discover_header_rows`` and F1-F4 the same as scalars.py, via
    parsed SQL — see the construction-cost note above.
    """
    return (
        lines.selectExpr(
            "*",
            "min(CASE WHEN upper(trim(col_a)) = 'NUMBER'"
            " AND upper(trim(col_b)) = 'DESCRIPTION' THEN row_idx END)"
            f" OVER ({_SQL_SHEET_W}) AS _hdr_idx",
        )
        .where("_hdr_idx IS NOT NULL AND row_idx > _hdr_idx")
        .selectExpr(
            "*",
            "last(CASE WHEN upper(trim(col_a)) = 'REVENUES' THEN 'Revenue'"
            " WHEN upper(trim(col_a)) = 'EXPENSES' THEN 'Expenses' END, true)"
            f" OVER ({_SQL_RUN_W}) AS category",
        )
        .selectExpr(
            _SQL_GL.format(c="col_a") + " AS gl_code",
            "trim(col_b) AS description_raw",
            "category",
            _SQL_YEAR + " AS year",
            _SQL_MONTH + " AS month",
            _SQL_DEPT + " AS department",
            _SQL_AMT.format(c="col_c") + " AS amount",
        )
        .where(
            "department IS NOT NULL AND gl_code IS NOT NULL"
            " AND amount IS NOT NULL"
        )
    )


def parse_balance_sheet(lines: DataFrame) -> DataFrame:
    """Balance-sheet parse (Code.gs:211-235): section state machine →
    subtotal/blank-description skip (P5, Code.gs:224) → GL/amount parse.
    Department is the empty string (Code.gs:231). The W3 state machine
    is a running count of TOTAL ASSETS / TOTAL LIABILITIES rows; F1/F2
    emit the same expression trees as scalars.py, via parsed SQL (see
    the construction-cost note above)."""
    return (
        lines.selectExpr(
            "*",
            "sum(CASE WHEN upper(trim(col_c)) IN"
            " ('TOTAL ASSETS', 'TOTAL LIABILITIES') THEN 1 ELSE 0 END)"
            f" OVER ({_SQL_RUN_W}) AS _n_bounds",
        )
        .where(
            "trim(col_c) IS NOT NULL AND trim(col_c) != ''"
            " AND NOT startswith(upper(trim(col_c)), 'TOTAL ')"
        )
        .selectExpr(
            _SQL_GL.format(c="col_b") + " AS gl_code",
            "trim(col_c) AS description_raw",
            "CASE WHEN _n_bounds = 0 THEN 'Assets'"
            " WHEN _n_bounds = 1 THEN 'Liability'"
            " ELSE 'Equity' END AS category",
            _SQL_YEAR + " AS year",
            _SQL_MONTH + " AS month",
            "'' AS department",
            _SQL_AMT.format(c="col_e") + " AS amount",
        )
        .where("gl_code IS NOT NULL AND amount IS NOT NULL")
    )
