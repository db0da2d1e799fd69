"""Expected outcome of a CDC stream, computed in DuckDB straight from the
staged envelope files, independently of the engine's own operators."""

from __future__ import annotations

import duckdb

_READ = """
SELECT value FROM read_json('{glob}',
    columns = {{'topic': 'VARCHAR', 'value': 'VARCHAR'}},
    format = 'newline_delimited')
"""

_LATEST = """
WITH raw AS ({read}),
valid AS (
    SELECT CASE WHEN json_valid(value) THEN value END AS value FROM raw
),
ev AS (
    SELECT json_extract_string(value, '$.op') AS op,
           CAST(json_extract_string(value, '$.ts_ms') AS BIGINT) AS ts_ms,
           CASE WHEN json_extract_string(value, '$.op') = 'd'
                THEN json_extract(value, '$.before')
                ELSE json_extract(value, '$.after') END AS r
    FROM valid
    WHERE value IS NOT NULL
      AND json_extract_string(value, '$.source.schema') = 'public'
      AND json_extract_string(value, '$.source.table') = 'orders'
),
ranked AS (
    SELECT op,
           CAST(json_extract_string(r, '$.id') AS BIGINT) AS id,
           CAST(json_extract_string(r, '$.customer_id') AS BIGINT) AS customer_id,
           json_extract_string(r, '$.status') AS status,
           CAST(json_extract_string(r, '$.amount') AS DOUBLE) AS amount,
           row_number() OVER (
               PARTITION BY CAST(json_extract_string(r, '$.id') AS BIGINT)
               ORDER BY ts_ms DESC) AS rn
    FROM ev
)
SELECT id, customer_id, status, amount FROM ranked WHERE rn = 1 AND op <> 'd'
"""

_MALFORMED = """
WITH raw AS ({read})
SELECT count(*) FROM raw WHERE value IS NOT NULL AND NOT json_valid(value)
"""


def expected(chunk_glob: str) -> tuple[list[tuple], int]:
    """(live rows sorted, malformed payload count) of the files matching
    ``chunk_glob``: the newest event per key by ``ts_ms``, deletes
    removed; malformed payloads are values that are not JSON."""
    read = _READ.format(glob=chunk_glob)
    con = duckdb.connect()
    try:
        rows = sorted(con.sql(_LATEST.format(read=read)).fetchall())
        malformed = con.sql(_MALFORMED.format(read=read)).fetchone()[0]
    finally:
        con.close()
    return rows, int(malformed)
