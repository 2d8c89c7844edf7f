"""Output checks, run after the timed window, entirely in DuckDB.

The change-log oracle is the last-writer-wins rule of the engine's test
oracle: bootstrap rows act as op_sequence -1 INSERTs, the highest
op_sequence per key decides, and a DELETE winner removes the key. The
corpus oracle is the engine's own ``__spark_entry__.oracle_sql()`` text
run over the same replica file.
"""

from __future__ import annotations

import duckdb

COLS = "doc_id, tokens, n_tok, source"


class _Expected:
    """A DuckDB table ``want`` and the symmetric difference against an
    engine output directory of parquet files."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET enable_progress_bar = false")

    def mismatches(self, got_dir: str) -> int:
        got = f"read_parquet('{got_dir}/*.parquet')"
        cols = ", ".join(c for c, *_ in self.con.sql("DESCRIBE want").fetchall())
        return self.con.sql(
            f"""SELECT (SELECT count(*) FROM (SELECT {cols} FROM want
                                              EXCEPT ALL SELECT {cols} FROM {got}))
                     + (SELECT count(*) FROM (SELECT {cols} FROM {got}
                                              EXCEPT ALL SELECT {cols} FROM want))"""
        ).fetchone()[0]


class Oracle(_Expected):
    """Final state of a base table plus the chunk files applied to it."""

    def __init__(self, base_path: str, chunk_paths: list[str]):
        super().__init__()
        chunks = "[" + ", ".join(f"'{p}'" for p in chunk_paths) + "]"
        self.con.execute(
            f"""
            CREATE TABLE want AS
            SELECT {COLS} FROM (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY op_sequence DESC) AS rn
              FROM (
                SELECT -1::BIGINT AS op_sequence, 'INSERT' AS op, {COLS}
                FROM read_parquet('{base_path}')
                UNION ALL
                SELECT op_sequence, op, {COLS} FROM read_parquet({chunks})))
            WHERE rn = 1 AND op <> 'DELETE'
            """
        )


class Corpus(_Expected):
    """One corpus query's oracle SQL over the ``documents`` file."""

    def __init__(self, documents: str, oracle_sql: str):
        super().__init__()
        self.con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}')")
        self.con.execute(f"CREATE TABLE want AS {oracle_sql}")
