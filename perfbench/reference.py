"""Independent output checks.

The ETL reference is plain DuckDB SQL over the same generated envelope
lines: ``json_extract_string`` extraction, ``TRY_CAST``, ``ROW_NUMBER``
latest-by-key, an inner join with ``sha256`` masking and an anti-join.
It shares no code with the package.  The registry reference runs each
row's DuckDB oracle SQL (the registry's ``ORACLES``) over the same
parquet tables the package reads.  Spark's outputs are read back with
DuckDB and compared as multisets.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

SINKS = ("XREF_ACCT", "XREF_ADDR", "FGAC_ADDR", "QUARANTINE_ADDR")

_REFERENCE_SQL = """
CREATE TEMP TABLE env AS
  SELECT CASE WHEN json_valid(val) THEN val END AS val FROM env_lines;
CREATE TEMP VIEW acct_v AS
  SELECT TRY_CAST(NULLIF(TRIM(json_extract_string(val, '$.ACCT_ID')), '') AS BIGINT) AS ACCT_ID,
         TRIM(json_extract_string(val, '$.ACCT_NM')) AS ACCT_NM,
         TRY_CAST(NULLIF(TRIM(json_extract_string(val, '$.OPEN_DT')), '') AS DATE) AS OPEN_DT,
         TRY_CAST(NULLIF(TRIM(json_extract_string(val, '$.BAL')), '') AS DECIMAL(12,2)) AS BAL,
         TRY_CAST(NULLIF(TRIM(json_extract_string(val, '$.SEQ')), '') AS INTEGER) AS SEQ
  FROM env WHERE json_extract_string(val, '$.INFA_TABLE_NAME') LIKE '%_ACCT';
CREATE TEMP VIEW addr_v AS
  SELECT TRY_CAST(NULLIF(TRIM(json_extract_string(val, '$.ADDR_ID')), '') AS BIGINT) AS ADDR_ID,
         TRY_CAST(NULLIF(TRIM(json_extract_string(val, '$.ACCT_ID')), '') AS BIGINT) AS ACCT_ID,
         TRIM(json_extract_string(val, '$.CITY')) AS CITY,
         TRY_CAST(NULLIF(TRIM(json_extract_string(val, '$.UPD_DT')), '') AS DATE) AS UPD_DT,
         TRY_CAST(NULLIF(TRIM(json_extract_string(val, '$.SEQ')), '') AS INTEGER) AS SEQ
  FROM env WHERE json_extract_string(val, '$.INFA_TABLE_NAME') LIKE '%_ADDR';
CREATE TEMP TABLE XREF_ACCT AS
  SELECT ACCT_ID, ACCT_NM, OPEN_DT, BAL FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ACCT_ID ORDER BY SEQ DESC NULLS LAST) AS rn
    FROM acct_v) WHERE rn = 1;
CREATE TEMP TABLE XREF_ADDR AS
  SELECT ADDR_ID, ACCT_ID, CITY, UPD_DT FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY ADDR_ID ORDER BY SEQ DESC NULLS LAST) AS rn
    FROM addr_v) WHERE rn = 1;
CREATE TEMP TABLE FGAC_ADDR AS
  SELECT d.ADDR_ID, d.ACCT_ID, d.CITY, sha256(CAST(a.ACCT_NM AS VARCHAR)) AS ACCT_NM_MASK,
         a.OPEN_DT, a.BAL
  FROM XREF_ADDR d JOIN XREF_ACCT a ON d.ACCT_ID = a.ACCT_ID;
CREATE TEMP TABLE QUARANTINE_ADDR AS
  SELECT d.ADDR_ID, d.ACCT_ID, d.CITY FROM XREF_ADDR d
  WHERE NOT EXISTS (SELECT 1 FROM XREF_ACCT a WHERE a.ACCT_ID = d.ACCT_ID);
"""


class Reference:
    """Reference tables held in an in-memory DuckDB, one per output."""

    def __init__(self):
        self.con = duckdb.connect()

    def count(self, table: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]

    def diff(self, table: str, parquet_dir: str) -> str:
        """Empty when the Spark sink equals the reference table as a multiset
        (same column names and types, same rows), else a one-line reason."""
        cols = [r[0] for r in self.con.execute(f"DESCRIBE {table}").fetchall()]
        out = f"read_parquet('{parquet_dir}/*.parquet')"
        try:
            got = [r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {out}").fetchall()]
        except duckdb.Error as e:
            return f"{table}: sink unreadable ({str(e).splitlines()[0][:120]})"
        if sorted(got) != sorted(cols):
            return f"{table}: columns {sorted(got)} != {sorted(cols)}"
        sel = ", ".join(cols)
        ref_types = self.con.execute(f"SELECT {sel} FROM {table} LIMIT 0").description
        got_types = self.con.execute(f"SELECT {sel} FROM {out} LIMIT 0").description
        if [d[1] for d in ref_types] != [d[1] for d in got_types]:
            return f"{table}: types {[d[1] for d in got_types]} != {[d[1] for d in ref_types]}"
        missing, extra = self.con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM {table} EXCEPT ALL SELECT {sel} FROM {out})),"
            f"       (SELECT count(*) FROM (SELECT {sel} FROM {out} EXCEPT ALL SELECT {sel} FROM {table}))"
        ).fetchone()
        if missing or extra:
            return f"{table}: {missing} reference rows missing, {extra} extra rows"
        return ""

    def close(self) -> None:
        self.con.close()


class EtlReference(Reference):
    """The ETL pipeline's four sinks for one envelope."""

    def __init__(self, lines: list[str]):
        super().__init__()
        self.con.register("env_lines", pa.table({"val": lines}))
        self.con.execute(_REFERENCE_SQL)
        self.con.unregister("env_lines")


class QueryReference(Reference):
    """Each registry row's oracle result over ``<sf_dir>/<table>.parquet``,
    stored under the row's name."""

    def __init__(self, sf_dir: str, tables, oracles: dict[str, str]):
        super().__init__()
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS "
                             f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, sql in oracles.items():
            self.con.execute(f"CREATE TEMP TABLE {name} AS {sql}")
