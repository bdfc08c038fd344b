"""Untimed result check: every result of the timed loop against DuckDB.

The comparison is the one ``tools/check_oracle.py`` makes (column
names, Arrow type classes, row count, order-insensitive canonical
values at full precision), using its ``type_class`` and ``canon``
helpers, with no tolerance added. Queries without an oracle get a
schema and non-empty check against their first result.
"""

from __future__ import annotations

import duckdb

from lofar_bf_pulsar_scripts_spark import registry
from lofar_bf_pulsar_scripts_spark.tables import TABLE_NAMES
from tools.check_oracle import canon, type_class


def compare(stbl, dtbl) -> str | None:
    """None when the Spark and DuckDB Arrow tables match, else why not."""
    scols, dcols = sorted(stbl.column_names), sorted(dtbl.column_names)
    if scols != dcols:
        return f"SCHEMA spark={scols} duck={dcols}"
    bad = {
        c: (type_class(stbl.schema.field(c).type), type_class(dtbl.schema.field(c).type))
        for c in scols
    }
    bad = {c: t for c, t in bad.items() if t[0] != t[1]}
    if bad:
        return f"TYPE {bad}"
    if stbl.num_rows != dtbl.num_rows:
        return f"ROWS spark={stbl.num_rows} duck={dtbl.num_rows}"
    cs, cd = canon(stbl), canon(dtbl)
    if cs != cd:
        n = sum(1 for a, b in zip(cs, cd) if a != b)
        return f"VALUES {n} rows differ"
    return None


def check(record, data_dir: str) -> list[tuple[str, int, str]]:
    """``(query, execution index, reason)`` for every execution in
    ``record`` that raised or whose result does not match."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracles = registry.oracle_sql()
    expected: dict[str, object] = {}
    verdicts: dict[str, list] = {}  # name -> [(spark table, verdict)]
    failures = []
    for i, (name, _, tbl, err) in enumerate(record):
        if err is not None:
            failures.append((name, i, err))
            continue
        seen = verdicts.setdefault(name, [])
        # identical tables (same rows in the same order) share a verdict
        reason = next((v for t, v in seen if t.equals(tbl)), False)
        if reason is False:
            if name not in oracles:
                first = seen[0][0] if seen else tbl
                reason = None
                if tbl.num_rows == 0:
                    reason = "ROWS empty result"
                elif tbl.schema != first.schema:
                    reason = "SCHEMA differs between executions"
            else:
                if name not in expected:
                    try:
                        expected[name] = con.execute(oracles[name]).fetch_arrow_table()
                    except Exception as exc:
                        expected[name] = f"DuckDB raised: {str(exc).splitlines()[0][:160]}"
                exp = expected[name]
                reason = exp if isinstance(exp, str) else compare(tbl, exp)
            seen.append((tbl, reason))
        if reason is not None:
            failures.append((name, i, reason))
    con.close()
    return failures
