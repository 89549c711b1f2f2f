"""Oracle result-TYPE parity gate.

Two rounds running, the driver's only hash-fails were DuckDB result-
type artifacts, never wrong values: ``SUM(BIGINT)`` silently widens to
HUGEINT (Arrow ``decimal128(38,0)``) while Spark returns int64, and a
``date_trunc`` that is DATE in DuckDB but TIMESTAMP in Spark. The
repo's cell-exact selfcheck normalizes types, so it can never catch
this class — this test makes it unrepresentable instead.

For every registry oracle we run DuckDB ``DESCRIBE <sql>`` (plan-only,
no execution) and diff each column's canonical type against the Spark
plan's schema (plan-build only, no job). Any HUGEINT or widened
DECIMAL(38,_) on the oracle side, or any canonical-type mismatch not
explicitly allowlisted with driver-green evidence, fails loudly with
the exact column and both types.
"""

from __future__ import annotations

import re

import duckdb
import pytest

from music_streaming_etl_spark.plans.registry import REGISTRY

from conftest import TABLES  # noqa: F401  (re-export: staged suites import it here)

# (query, column) pairs where the canonical types differ but the
# driver's hash has been observed GREEN (CORRECTNESS_r01/r02.json), so
# the mismatch is proven benign for the driver's comparator. Keep this
# list justified: every entry needs a driver-green round in the comment.
ALLOWED = {
    # driver-green r2: DuckDB ln()/round() yields DECIMAL where Spark
    # has DOUBLE; values hash-match (r2 `benford_audit` green).
    ("benford_audit", "*"),
    # driver-green r2: collation expression types differ, hash green.
    ("collation_group", "*"),
}


def canon_duck(t: str) -> str:
    t = t.strip().upper()
    if t.endswith("[]"):
        return f"array<{canon_duck(t[:-2])}>"
    m = re.match(r"DECIMAL\((\d+),(\d+)\)", t)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    return {
        "TINYINT": "tinyint",
        "SMALLINT": "smallint",
        "INTEGER": "int",
        "INT": "int",
        "BIGINT": "bigint",
        "HUGEINT": "hugeint",
        "UBIGINT": "hugeint",
        "FLOAT": "float",
        "REAL": "float",
        "DOUBLE": "double",
        "VARCHAR": "string",
        "BOOLEAN": "boolean",
        "DATE": "date",
        "TIME": "time",
        "TIMESTAMP": "timestamp",
        "TIMESTAMP WITH TIME ZONE": "timestamp",
        "TIMESTAMP_NS": "timestamp",
        "INTERVAL": "interval",
    }.get(t, t.lower())


def canon_spark(t: str) -> str:
    t = t.strip().lower()
    m = re.match(r"array<(.+)>$", t)
    if m:
        return f"array<{canon_spark(m.group(1))}>"
    if t in ("timestamp_ntz", "timestamp_ltz"):
        return "timestamp"
    return t


def test_oracle_types_match_spark_schema(spark, sf_dir, duck):
    problems = []
    for name, (fn, oracle) in REGISTRY.items():
        if oracle is None:
            continue
        try:
            spark_types = {
                f.name.lower(): canon_spark(f.dataType.simpleString())
                for f in fn(spark, sf_dir).schema.fields
            }
            desc = duck.execute(f"DESCRIBE {oracle}").fetchall()
        except Exception as e:  # noqa: BLE001 — a named problem, not an abort
            # one key that cannot build must not hide the other keys'
            # verdicts; it still fails the closing assert by name
            first = str(e).partition("\n")[0]
            problems.append(f"{name}: raised {type(e).__name__}: {first}")
            continue
        for col, dtype, *_ in desc:
            dt = canon_duck(dtype)
            st = spark_types.get(col.lower())
            if (name, "*") in ALLOWED or (name, col.lower()) in ALLOWED:
                continue
            if dt == "hugeint" or (
                dt.startswith("decimal(38,") and dt != st
            ):
                # max-precision decimal / hugeint usually means DuckDB
                # silently auto-widened a SUM the Spark side didn't —
                # but a decimal(38,x) that BOTH engines declare
                # explicitly (e.g. anova's ss_between, widened
                # deliberately after the r5 int64-overflow fix) is a
                # matched carrier, not a drift smell
                problems.append(
                    f"{name}.{col}: oracle widened to {dtype} "
                    f"(spark={st}) — cast the SUM/expr explicitly"
                )
            elif st is not None and dt != st:
                problems.append(f"{name}.{col}: oracle={dt} spark={st}")
        oracle_cols = {c.lower() for c, *_ in desc}
        extra = set(spark_types) - oracle_cols
        missing = oracle_cols - set(spark_types)
        if extra or missing:
            problems.append(
                f"{name}: column-set mismatch spark-only={sorted(extra)} "
                f"oracle-only={sorted(missing)}"
            )
    assert not problems, "\n".join(problems)
