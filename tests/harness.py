"""Local differential-oracle harness.

Mirrors the driver's t2 check (SURVEY.md §5.2.1): run the Spark query
and the DuckDB oracle SQL on the same parquet tables, compare
row-count + column names + order-insensitive canonicalized values.
Strict on purpose — anything that fails here would fail the driver.

A test that builds its own tables writes them with ``write_tables``
and checks keys on them with ``check_keys``; the measuring helpers
(``py4j_calls``, ``jobs_during``, ``plan_of``) live here too.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import math
import os
import uuid

import duckdb
import numpy as np
import pandas as pd

from systematic_review_classification_spark.sources.tables import TABLES
from tests.worlds import DUCK_TYPES, SCHEMA, ddl

NULL = "␀NULL"


def write_tables(spark, root, tables, layout="single", cols=None, retype=None) -> str:
    """Write ``{table: rows}`` as ``{root}/{table}.parquet`` and return
    root. The schema is ``tests.worlds.ddl``: ``cols`` maps a table to
    the columns it keeps, in order, ``retype`` to its type overrides.

    Layouts: ``"single"`` (Spark's default write, one part per input
    slice), ``"coalesce"`` (one part), an int ``n`` (``repartition(n)``),
    ``"degenerate_parts"`` (a world layout, below), or ``"file"``: one
    plain parquet file written by DuckDB, the shipped fixtures' layout,
    which stream staging needs.
    """
    root = str(root)
    for t, rows in tables.items():
        names = (cols or {}).get(t, list(SCHEMA[t]))
        schema = ddl(t, (retype or {}).get(t), names)
        path = f"{root}/{t}.parquet"
        if layout == "file":
            os.makedirs(root, exist_ok=True)
            with duckdb.connect() as con:
                duck = ", ".join(f"{c} {DUCK_TYPES[ty]}"
                                 for c, ty in (f.split(" ", 1) for f in schema.split(", ")))
                con.execute(f"CREATE TABLE t ({duck})")
                if rows:
                    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(names))})", rows)
                con.execute(f"COPY t TO '{path}' (FORMAT PARQUET)")
            continue

        def df(rs, schema=schema):
            return spark.createDataFrame(rs, schema)

        if layout == "degenerate_parts":
            # 1-row part, the remaining rows scattered across 3
            # shuffled parts, then one ZERO-row part (rows=[] with
            # coalesce(1) commits a file holding only schema metadata)
            df(rows[:1]).coalesce(1).write.mode("append").parquet(path)
            df(rows[1:]).repartition(3).write.mode("append").parquet(path)
            df([]).coalesce(1).write.mode("append").parquet(path)
            _check_degenerate_parts(path)
            continue
        out = df(rows)
        if layout == "coalesce":
            out = out.coalesce(1)
        elif isinstance(layout, int):
            # round-robin repartition scatters rows across n parts in
            # neither key nor insertion order — the adversarial layout
            out = out.repartition(layout)
        out.write.mode("overwrite").parquet(path)
    return root


def _check_degenerate_parts(path: str) -> None:
    """The layout must actually contain a 0-row and a 1-row part, or
    the world tests nothing — guard against Spark versions that skip
    the file. repartition SKIPS empty partitions on write, so tiny
    tables emit <3 scatter files: expect >=3 parts in all."""
    import pyarrow.parquet as pq

    parts = glob.glob(f"{path}/*.parquet")
    assert len(parts) >= 3, f"{path}: expected >=3 parts, got {len(parts)}"
    sizes = sorted(pq.ParquetFile(p).metadata.num_rows for p in parts)
    assert sizes[0] == 0, f"{path}: no zero-row part was written ({sizes})"
    assert 1 in sizes, f"{path}: no single-row part was written ({sizes})"


def duck_con(sf_dir: str, casts=None) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table present under
    sf_dir, whether the table is one parquet file or a directory of
    parts. ``casts`` — optional {table: {column: DUCK_TYPE}} applied
    via SELECT * REPLACE, mirroring the ingest-time width
    normalization the engine's ``load()`` performs (schema-drift
    worlds): a drifted world must present BOTH engines the same
    widened logical types."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        proj = "*"
        if (casts or {}).get(t):
            # Quote identifiers so a column name that collides with a
            # reserved word produces valid SQL, not a parse error.
            repl = ", ".join(f'CAST("{c}" AS {ty}) AS "{c}"' for c, ty in casts[t].items())
            proj = f"* REPLACE ({repl})"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT {proj} FROM read_parquet('{src}')")
    return con


def _norm_cell(v):
    if v is None:
        return NULL
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return NULL
        return repr(f)
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return NULL
        return v.isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return NULL
    except (TypeError, ValueError):
        pass
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    df = df[sorted(df.columns)]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def mismatch(sp: pd.DataFrame, du: pd.DataFrame, key: str = "?") -> str | None:
    """How the Spark result ``sp`` differs from the oracle's ``du``
    (column names, row count, canonical values), or None."""
    if sorted(sp.columns) != sorted(du.columns):
        return f"[{key}] column mismatch: spark={sorted(sp.columns)} duckdb={sorted(du.columns)}"
    if len(sp) != len(du):
        return f"[{key}] row count: spark={len(sp)} duckdb={len(du)}"
    srows, drows = canonical_rows(sp), canonical_rows(du)
    if srows == drows:
        return None
    diffs = [(i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b][:5]
    cols = sorted(sp.columns)
    msg = "\n".join(
        f"  row {i}:\n    spark : {dict(zip(cols, a))}\n    duckdb: {dict(zip(cols, b))}"
        for i, a, b in diffs
    )
    return f"[{key}] value mismatch ({len(diffs)}+ rows differ):\n{msg}"


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, key: str = "?") -> None:
    msg = mismatch(spark_df.toPandas(), con.execute(sql).df(), key)
    if msg:
        raise AssertionError(msg)


def check_keys(spark, root, keys, casts=None) -> list[tuple[str, str]]:
    """Run each key on the tables under root and return the (key,
    failure) pairs — empty means every key holds. Oracled keys must
    match their oracle (``mismatch``); rows-only keys (approx / seeded
    ML / streaming — no oracle by design) run in survive mode: the
    Spark side must fully evaluate without raising, because a green
    fixture does not prove abort-safety (the NaN world caught 8
    oracled keys aborting on ANSI CAST(NaN AS BIGINT)). ``casts`` is
    ``duck_con``'s."""
    from systematic_review_classification_spark import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    root = str(root)
    fails: list[tuple[str, str]] = []

    def first_line(e):
        return str(e).split("\n")[0][:120]

    with duck_con(root, casts) as con:
        for key in keys:
            side = "SPARK" if key in oracles else "SPARK rows-only"
            try:
                sp = queries[key](spark, root).toPandas()
            except Exception as e:  # noqa: BLE001 — collect every failure
                fails.append((key, f"{side}: {first_line(e)}"))
                continue
            if key not in oracles:
                continue
            try:
                du = con.execute(oracles[key]).df()
            except Exception as e:  # noqa: BLE001
                fails.append((key, f"ORACLE: {first_line(e)}"))
                continue
            msg = mismatch(sp, du, key)
            if msg:
                fails.append((key, msg))
    return fails


def py4j_calls(spark, fn):
    """Run ``fn`` and return its result with the number of py4j
    commands it sent, not counting the ones that release Python's
    references to JVM objects: those follow garbage collection, not
    the code under test."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        out = fn()
    finally:
        del client.send_command  # the class method again
    return out, len(sent)


def jobs_during(spark, fn):
    """Run ``fn`` and return its result with the number of Spark jobs
    it started, read from the status tracker."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def plan_of(df, mode: str = "formatted") -> str:
    """``df``'s plan as ``EXPLAIN <mode>`` renders it."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)
