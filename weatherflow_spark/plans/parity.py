"""Local replica of the driver's DuckDB-oracle correctness gate.

For each registered query: run the Spark plan and the oracle SQL over
the same sf dir, then compare row count, column names, dtype kinds,
and order-insensitive values. Used by ``tests/test_oracle_parity.py``
so oracle drift is caught at sf0.001 before the driver runs sf0.01.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession

from weatherflow_spark.plans import ORACLES, QUERIES
from weatherflow_spark.io import TABLES


@dataclass
class ParityReport:
    name: str
    ok: bool
    errors: list[str] = field(default_factory=list)

    def __str__(self) -> str:
        status = "OK" if self.ok else "FAIL"
        msg = f"[{status}] {self.name}"
        for e in self.errors:
            msg += f"\n    - {e}"
        return msg


def duckdb_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con.execute(sql).df()
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_kind(dtype) -> str:
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    return np.dtype(dtype).kind if dtype != object else "O"


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> ParityReport:
    rep = ParityReport(name=name, ok=True)

    if len(spark_pdf) != len(oracle_pdf):
        rep.ok = False
        rep.errors.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")

    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        rep.ok = False
        rep.errors.append(f"columns: spark={s_cols} oracle={o_cols}")
        return rep

    for c in s_cols:
        sk, ok_ = _dtype_kind(spark_pdf[c].dtype), _dtype_kind(oracle_pdf[c].dtype)
        if sk != ok_:
            rep.ok = False
            rep.errors.append(f"dtype kind for {c}: spark={spark_pdf[c].dtype} oracle={oracle_pdf[c].dtype}")

    if not rep.ok:
        return rep

    s_n, o_n = _normalize(spark_pdf), _normalize(oracle_pdf)
    for c in s_n.columns:
        a, b = s_n[c].to_numpy(), o_n[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            both_nan = pd.isna(a) & pd.isna(b)
            eq = (a == b) | both_nan
        else:
            eq = (pd.Series(a) == pd.Series(b)) | (pd.isna(a) & pd.isna(b))
            eq = eq.to_numpy()
        if not eq.all():
            rep.ok = False
            bad = np.flatnonzero(~eq)[:5]
            examples = [f"row{j}: spark={a[j]!r} oracle={b[j]!r}" for j in bad]
            extra = ""
            if a.dtype.kind == "f":
                with np.errstate(invalid="ignore"):
                    extra = f" maxdiff={np.nanmax(np.abs(a.astype(float) - b.astype(float)))}"
            rep.errors.append(f"values differ in {c} ({(~eq).sum()} rows){extra}: {examples}")
    return rep


def check_query(spark: SparkSession, name: str, sf_dir: str) -> ParityReport:
    from weatherflow_spark.operators.caching import release_caches

    try:
        if name not in ORACLES:
            # rows-only contract: just verify the query runs.
            n = QUERIES[name](spark, sf_dir).count()
            return ParityReport(
                name=name, ok=n >= 0, errors=[f"rows-only ({n} rows)"]
            )
        spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
        oracle_pdf = duckdb_oracle(ORACLES[name], sf_dir)
        return compare_frames(name, spark_pdf, oracle_pdf)
    finally:
        # Long-lived sessions (the parity pytest run) would otherwise
        # accumulate every query's checkpoints.
        release_caches()
