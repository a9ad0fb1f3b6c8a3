"""DuckDB oracle for the benchmark's correctness gate.

Every expectation is recomputed by DuckDB from the same parquet files
the engine read, with SQL written independently of the compiler (the
count-parity idea of tests/test_engine_transcripts.py). Checks run
outside every timed region.
"""

from __future__ import annotations

import hashlib
import math

import duckdb

from xpshacl_spark.datagen import ROLES, TOOLS

# -- per-(shape, component) expected counts for the flagship suite ----------

_LAG = "(PARTITION BY conv_id ORDER BY turn_idx)"

FLAGSHIP_SQL = {
    ("TurnRowShape", "MinInclusiveConstraintComponent"): "SELECT count(*) FROM t WHERE turn_idx < 0",
    ("TurnRowShape", "DatatypeConstraintComponent"): "SELECT count(*) FROM t WHERE ts IS NULL",
    ("TurnRowShape", "PatternConstraintComponent"): (
        "SELECT count(*) FROM t WHERE role IS NOT NULL AND NOT regexp_matches(role, '^[a-z]+$')"
    ),
    ("TurnRowShape", "MaxLengthConstraintComponent"): "SELECT count(*) FROM t WHERE length(text) > 4000",
    ("TurnRowShape", "MinCountConstraintComponent"): "SELECT count(*) FROM t WHERE text IS NULL",
    ("ToolRefShape", "ClassConstraintComponent"): (
        "SELECT count(*) FROM t WHERE tool IS NOT NULL AND tool NOT IN ({tools})"
    ),
    ("RoleRefShape", "ClassConstraintComponent"): (
        "SELECT count(*) FROM t WHERE role IS NOT NULL AND role NOT IN ({roles})"
    ),
    ("TurnKeyShape", "UniquenessConstraintComponent"): (
        "SELECT count(*) FROM (SELECT conv_id, turn_idx FROM t GROUP BY 1, 2 HAVING count(*) > 1)"
    ),
    ("TsOrderShape", "LessThanOrEqualsConstraintComponent"): (
        f"SELECT count(*) FROM (SELECT ts, lag(ts) OVER {_LAG} AS p FROM t) "
        "WHERE p IS NOT NULL AND ts IS NOT NULL AND ts < p"
    ),
    ("TurnSeqShape", "DenseIndexConstraintComponent"): (
        f"SELECT count(*) FROM (SELECT turn_idx, lag(turn_idx) OVER {_LAG} AS p FROM t) "
        "WHERE (p IS NULL AND turn_idx <> 0) OR (p IS NOT NULL AND turn_idx <> p + 1)"
    ),
    ("TurnSeqShape", "TransitionConstraintComponent"): (
        f"SELECT count(*) FROM (SELECT role, lag(role) OVER {_LAG} AS p FROM t) "
        "WHERE (p IS NOT NULL AND role = 'assistant' AND p NOT IN ('user', 'system', 'tool')) "
        "OR (p IS NULL AND role IS NOT NULL AND role NOT IN ('user', 'system', 'tool'))"
    ),
    ("AssistantCardShape", "MinCountConstraintComponent"): (
        "SELECT count(*) FROM (SELECT conv_id FROM t GROUP BY conv_id "
        "HAVING count(*) FILTER (WHERE role = 'assistant') = 0)"
    ),
}


def sql_list(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


class Oracle:
    """One in-memory DuckDB connection with the input table as view `t`."""

    def __init__(self, input_dir: str, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        self.con.execute("SET threads = 2")
        self.con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{input_dir}/*.parquet')")

    def close(self) -> None:
        self.con.close()

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def n_rows(self) -> int:
        return self.scalar("SELECT count(*) FROM t")

    def flagship(self) -> dict:
        fmt = {"tools": sql_list(TOOLS), "roles": sql_list(ROLES)}
        return {k: self.scalar(sql.format(**fmt)) for k, sql in FLAGSHIP_SQL.items()}

    def max_gap(self, seconds: float) -> int:
        return self.scalar(
            f"SELECT count(*) FROM (SELECT ts, lag(ts) OVER {_LAG} AS p FROM t) "
            f"WHERE p IS NOT NULL AND ts IS NOT NULL "
            f"AND (epoch_us(ts) - epoch_us(p)) / 1000000.0 > {float(seconds)}"
        )

    def fk_missing_conv(self, n_dim: int) -> int:
        """Turns whose conv_id is outside conversations(n_dim)'s ids."""
        return self.scalar(
            "SELECT count(*) FROM t WHERE conv_id IS NOT NULL AND conv_id NOT IN "
            f"(SELECT printf('conv-%08d', i) FROM range({int(n_dim)}) r(i))"
        )

    def length_histogram(self, path_glob: str, lo: float, hi: float, bins: int) -> list[int]:
        """Bin counts of length(text) laid out as the Drift check bins
        them: [< lo, bins equi-width bins, >= hi]; NULL lengths skipped."""
        width = (hi - lo) / bins
        rows = self.con.execute(
            f"SELECT CASE WHEN e < {lo} THEN -1 WHEN e >= {hi} THEN {bins} "
            f"ELSE CAST(floor((e - {lo}) / {width}) AS INTEGER) END AS b, count(*) "
            f"FROM (SELECT length(text) AS e FROM read_parquet('{path_glob}')) "
            "WHERE e IS NOT NULL GROUP BY b"
        ).fetchall()
        out = [0] * (bins + 2)
        for b, n in rows:
            out[b + 1] = n
        return out

    def profile(self, columns) -> dict:
        """{column: (n_rows, n_nulls, min, max, n_distinct)} with
        timestamps as epoch seconds, as the profiler casts them."""
        types = dict(self.con.execute("SELECT column_name, column_type FROM (DESCRIBE t)").fetchall())
        out = {}
        for c in columns:
            as_num = f"epoch({c})" if types[c].startswith("TIMESTAMP") else f"CAST({c} AS DOUBLE)"
            out[c] = self.con.execute(
                f"SELECT count(*), count(*) - count({c}), min({as_num}), max({as_num}), "
                f"count(DISTINCT {c}) FROM t"
            ).fetchone()
        return out

    # -- engine outputs ----------------------------------------------------

    def counts(self, glob: str) -> dict:
        """{(shape local name, component): n} of a violations relation."""
        rows = self.con.execute(
            "SELECT shape_id, constraint_component, count(*) FROM "
            f"read_parquet('{glob}', hive_partitioning = false) GROUP BY 1, 2"
        ).fetchall()
        return {(s.split("#")[-1], c): n for s, c, n in rows}

    def digest(self, glob: str) -> tuple[int, str]:
        """(rows, sha256) of a relation as a multiset of rows: row order
        and file layout do not matter, duplicate rows do."""
        rows = self.con.execute(
            f"SELECT * FROM read_parquet('{glob}', hive_partitioning = false)"
        ).fetchall()
        h = hashlib.sha256()
        for r in sorted(repr(x) for x in rows):
            h.update(r.encode())
            h.update(b"\n")
        return len(rows), h.hexdigest()


def psi(baseline, current, eps: float = 1e-6) -> float:
    """Population stability index with per-bin proportions floored at
    eps, written from the textbook definition."""

    def props(counts):
        total = float(sum(counts))
        return [max(c / total, eps) for c in counts] if total > 0 else [eps] * len(counts)

    p, q = props(current), props(baseline)
    return float(sum((a - b) * math.log(a / b) for a, b in zip(p, q)))


def diff_counts(expected: dict, actual: dict) -> list[str]:
    """Mismatches between expected and actual per-key counts; a key
    missing on one side counts as 0 there."""
    out = []
    for k in sorted(set(expected) | set(actual)):
        e, a = expected.get(k, 0), actual.get(k, 0)
        if e != a:
            out.append(f"{k}: expected {e}, got {a}")
    return out
