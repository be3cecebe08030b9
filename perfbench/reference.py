"""Independent DuckDB references for the benchmark's output checks.

Each check reads the program's output from parquet (or a pandas frame
for registry queries) and compares it with a result DuckDB computes from
the same staged input, without going through Spark. A check returns a
list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd

FEATURE_COLS = [
    "tool", "ts", "text_len", "n_tokens", "is_user", "is_assistant", "is_tool",
    "has_tool", "session_id", "text_len_lag1", "text_len_lag2", "n_tokens_lag1",
    "n_tokens_lag2", "text_len_sum_last5", "text_len_avg_last5",
    "n_tokens_sum_last5", "is_tool_sum_last10", "is_user_sum_last10",
    "tool_ffill",
]

# materialize_features (plans/materialize.py) restated in SQL: one
# conversation-ordered window, trailing frames that exclude the current row
FEATURES_SQL = """
WITH t AS (
  SELECT conv_id, turn_idx, role, tool, ts,
         length(text) AS text_len,
         length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
         CAST(role = 'user' AS INT) AS is_user,
         CAST(role = 'assistant' AS INT) AS is_assistant,
         CAST(role = 'tool' AS INT) AS is_tool,
         CAST(tool IS NOT NULL AS INT) AS has_tool
  FROM read_parquet('{src}')
), s AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > {gap}
                 THEN 1 ELSE 0 END AS is_new
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
)
SELECT conv_id, turn_idx, tool, ts, text_len, n_tokens,
       is_user, is_assistant, is_tool, has_tool,
       sum(is_new) OVER (w ROWS UNBOUNDED PRECEDING) - 1 AS session_id,
       lag(text_len, 1) OVER w AS text_len_lag1,
       lag(text_len, 2) OVER w AS text_len_lag2,
       lag(n_tokens, 1) OVER w AS n_tokens_lag1,
       lag(n_tokens, 2) OVER w AS n_tokens_lag2,
       sum(text_len) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS text_len_sum_last5,
       avg(text_len) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS text_len_avg_last5,
       sum(n_tokens) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS n_tokens_sum_last5,
       sum(is_tool) OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS is_tool_sum_last10,
       sum(is_user) OVER (w ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS is_user_sum_last10,
       last_value(tool IGNORE NULLS) OVER (w ROWS UNBOUNDED PRECEDING) AS tool_ffill
FROM s WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx)
"""

# the training set the benchmark builds: user-turn anchors, the latest
# tool turn at or before each anchor, and the longest assistant turn
# strictly before it
TRAINING_SQL = """
WITH src AS (SELECT * FROM read_parquet('{src}')),
a AS (SELECT conv_id, turn_idx, ts FROM src WHERE role = 'user'),
tl AS (SELECT conv_id, ts, max(turn_idx) AS tool_turn FROM src
       WHERE tool IS NOT NULL GROUP BY conv_id, ts),
al AS (SELECT conv_id, ts, max(length(text)) AS alen FROM src
       WHERE role = 'assistant' GROUP BY conv_id, ts),
j AS (SELECT a.*, tl.tool_turn AS tl_tool_turn FROM a
      ASOF LEFT JOIN tl ON a.conv_id = tl.conv_id AND a.ts >= tl.ts)
SELECT j.conv_id, j.turn_idx, j.ts, j.tl_tool_turn, al.alen AS al_alen FROM j
ASOF LEFT JOIN al ON j.conv_id = al.conv_id AND j.ts > al.ts
"""


def _diff(con: duckdb.DuckDBPyConnection, ref_sql: str, got: str,
          cols: list[str], label: str) -> list[str]:
    """Compare ``got`` (a parquet glob) with ``ref_sql`` row by row on
    (conv_id, turn_idx); doubles may differ by 1e-9."""
    def differs(c: str) -> str:
        if c.endswith("_avg_last5"):
            return (f"(r.{c} IS NULL) <> (g.{c} IS NULL) "
                    f"OR abs(r.{c} - g.{c}) > 1e-9")
        return f"r.{c} IS DISTINCT FROM g.{c}"

    cond = " OR ".join(
        ["r.conv_id IS NULL", "g.conv_id IS NULL"] + [differs(c) for c in cols]
    )
    bad, n_ref, n_got = con.sql(f"""
        WITH r AS ({ref_sql}), g AS (SELECT * FROM read_parquet('{got}'))
        SELECT (SELECT count(*) FROM r FULL OUTER JOIN g
                  ON r.conv_id = g.conv_id AND r.turn_idx = g.turn_idx
                WHERE {cond}),
               (SELECT count(*) FROM r), (SELECT count(*) FROM g)
    """).fetchone()
    problems = []
    if n_ref != n_got:
        problems.append(f"{label}: {n_got} rows, reference has {n_ref}")
    if bad:
        problems.append(f"{label}: {bad} rows differ from the reference")
    return problems


def connect(work_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(f"SET temp_directory='{os.path.join(work_dir, 'duckdb_tmp')}'")
    return con


def check_features(con, staged: str, got: str, n_turns: int, gap: int,
                   label: str) -> list[str]:
    """``got`` must hold one feature row per input turn, equal to the SQL
    restatement of materialize_features over the staged input."""
    problems = _diff(con, FEATURES_SQL.format(src=staged, gap=gap), got,
                     FEATURE_COLS, label)
    n_got = con.sql(f"SELECT count(*) FROM read_parquet('{got}')").fetchone()[0]
    if n_got != n_turns:
        problems.append(f"{label}: {n_got} rows for {n_turns} input turns")
    return problems


def check_training_set(con, staged: str, got: str) -> list[str]:
    return _diff(con, TRAINING_SQL.format(src=staged), got,
                 ["ts", "tl_tool_turn", "al_alen"], "training set")


def _oracle_checker(repo_root: str):
    """scripts/check_oracle.py's ``normalize`` — the repo's default compare."""
    path = os.path.join(repo_root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleCompare:
    """Registry outputs against their ``oracle_sql()`` over one table dir,
    compared the way ``scripts/check_oracle.py`` does by default: sorted
    columns, floats rounded to 6 places, atol/rtol 1e-6."""

    def __init__(self, con, repo_root: str, sf_dir: str, oracles: dict[str, str]):
        self.con, self.oracles = con, oracles
        self.mod = _oracle_checker(repo_root)
        for t in self.mod.TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

    def check(self, name: str, got: pd.DataFrame) -> list[str]:
        exp = self.con.sql(self.oracles[name]).df()
        g, e = self.mod.normalize(got), self.mod.normalize(exp)
        if len(g) != len(e):
            return [f"{name}: {len(g)} rows, oracle has {len(e)}"]
        if list(g.columns) != list(e.columns):
            return [f"{name}: columns {list(g.columns)} vs {list(e.columns)}"]
        try:
            pd.testing.assert_frame_equal(
                g, e, check_dtype=False, check_exact=False, atol=1e-6, rtol=1e-6
            )
        except AssertionError as err:
            return [f"{name}: values differ: {str(err)[:300]}"]
        return []
