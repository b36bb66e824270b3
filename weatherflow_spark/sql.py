"""The engine's second entry style: ANSI SQL over registered views.

The reference's only ad-hoc query path is raw SQL handed to MySQL
(reference dags/utils/database.py:16-23 — `execute(sql) -> DataFrame`);
SURVEY §3.3 commits this engine to exposing the same style through
``spark.sql()`` over temp views of the warehouse tables, alongside the
DataFrame API. Both styles compile to the same Catalyst plans, so
pushdown/broadcast/AQE behavior is identical.
"""

from __future__ import annotations

import itertools
import os
import re

from pyspark.sql import DataFrame, SparkSession

from weatherflow_spark.io import TABLES, load_table


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> list[str]:
    """Register every warehouse table under ``{prefix}{name}`` as a
    temp view (normalized exactly like :func:`io.load_table`, so SQL
    and DataFrame queries see identical schemas). Returns the view
    names registered."""
    names = []
    for t in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            load_table(spark, sf_dir, t).createOrReplaceTempView(f"{prefix}{t}")
            names.append(f"{prefix}{t}")
    return names


def execute(spark: SparkSession, sql: str) -> DataFrame:
    """SQL string in, DataFrame out — the reference's
    ``MySQLHandler.execute`` surface on Catalyst (database.py:16-23),
    minus the injection-prone f-string interpolation (etl.py:105-120),
    which has no equivalent here: callers pass complete statements and
    parameterization belongs to the caller's binding layer.

    Two lakehouse extensions make the versioned-table verbs reachable
    from SQL strings (r13 verdict #7 — a real warehouse's operators
    live in SQL consoles, and SURVEY §3 promises both entry styles):

    - ``wf_version('<path>'[, <version> | [TIMESTAMP] '<iso-ts>'])``
      anywhere a table may appear — the ``VERSION AS OF`` /
      ``TIMESTAMP AS OF`` read: each occurrence resolves through
      :func:`~weatherflow_spark.operators.snaplog.read_version`
      (retention-mirror file sets, deletion vectors
      applied; timestamps via
      :func:`~weatherflow_spark.operators.snaplog.version_as_of` —
      naive ISO strings are UTC) and is substituted as a temp view
      before Catalyst parses the statement. Omitting the second
      argument reads the head.
    - ``wf_warehouse('<wh_dir>', '<table>'[, <load>])`` anywhere a
      table may appear — the warehouse-tier travel read (E97 from
      SQL): the member table at the version the logical LOAD entry
      recorded, so two ``wf_warehouse`` occurrences with the same
      load number are mutually consistent by construction (the entry
      is one atomic cut). Omitting the load reads the latest load.
    - ``CALL <verb>(<literal args>)`` — maintenance + write entry
      points upsert / apply_changes (view-sourced: a write needs
      rows, so the source argument names a registered temp view) /
      delete_where / delete_where_dv / restore /
      compact / compact_zorder / compact_partitions / vacuum_versions /
      maintain_warehouse / vacuum_warehouse / restore_warehouse_load /
      table_status / table_history / clustering_status. Args are SQL literals ('str', int, float,
      TRUE/FALSE, NULL); list-valued parameters (key/partition/sort
      columns) are comma-separated inside one string ('k,day'); and
      per-member maps are semicolon-packed ('orders=o_orderkey;
      customer=c_custkey'). Returns the verb's report as a one-row
      DataFrame so the result stays SQL-composable.
    """
    m = _CALL_RE.match(sql)
    if m:
        return _dispatch_call(
            spark, m.group(1).lower(), _parse_call_args(m.group(2))
        )
    return spark.sql(_substitute_versions(spark, sql))


_VERSION_RE = re.compile(
    r"wf_version\(\s*'([^']+)'\s*"
    r"(?:,\s*(?:(\d+)|(?:TIMESTAMP\s+)?'([^']+)')\s*)?\)",
    re.IGNORECASE,
)
_WAREHOUSE_RE = re.compile(
    r"wf_warehouse\(\s*'([^']+)'\s*,\s*'([^']+)'\s*(?:,\s*(\d+)\s*)?\)",
    re.IGNORECASE,
)
_CALL_RE = re.compile(
    r"^\s*CALL\s+(?:wf\.)?(\w+)\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_view_counter = itertools.count()


def _substitute_versions(spark: SparkSession, sql: str) -> str:
    """Replace every ``wf_version('<path>'[, v])`` with a temp view
    of that versioned read. Substitution happens BEFORE parsing, so
    the call form composes anywhere a table name may appear (joins,
    CTEs, subqueries). Views are process-unique; re-registration per
    statement keeps the resolved file set current (a view cached from
    an earlier statement would pin a stale head)."""
    from weatherflow_spark.operators.snaplog import read_version

    def sub(m: re.Match) -> str:
        path, v, ts = m.group(1), m.group(2), m.group(3)
        if ts is not None:
            # TIMESTAMP AS OF: wf_version('<path>', [TIMESTAMP] '<iso>')
            df = read_version(spark, path, as_of=ts)
        else:
            df = read_version(spark, path, int(v) if v is not None else None)
        name = f"__wf_version_{next(_view_counter)}"
        df.createOrReplaceTempView(name)
        return name

    def sub_wh(m: re.Match) -> str:
        # wf_warehouse('<wh_dir>', '<table>'[, <load>]): resolve the
        # load entry's recorded version for the member, then read it
        # through the same versioned path. Two occurrences naming the
        # same load read one atomic cut — the E97 consistency
        # contract, now composable inside one SQL statement.
        from weatherflow_spark.operators.whlog import load_entry

        wh, table, load = m.group(1), m.group(2), m.group(3)
        entry = load_entry(wh, int(load) if load is not None else None)
        if table not in entry["tables"]:
            raise ValueError(
                f"wf_warehouse: table {table!r} is not a member of "
                f"load {entry['load']} at {wh!r} "
                f"(members: {sorted(entry['tables'])})"
            )
        df = read_version(
            spark, os.path.join(wh, table), entry["tables"][table]
        )
        name = f"__wf_warehouse_{next(_view_counter)}"
        df.createOrReplaceTempView(name)
        return name

    return _WAREHOUSE_RE.sub(sub_wh, _VERSION_RE.sub(sub, sql))


def _parse_call_args(raw: str) -> list:
    """SQL-literal argument list → Python values: 'str' (with ''
    escaping), integers, floats, TRUE/FALSE, NULL. Top-level commas
    split; commas inside quotes don't."""
    args: list = []
    buf, in_str, i = [], False, 0
    parts: list[str] = []
    while i < len(raw):
        ch = raw[i]
        if in_str:
            if ch == "'" and i + 1 < len(raw) and raw[i + 1] == "'":
                buf.append("''")
                i += 2
                continue
            if ch == "'":
                in_str = False
            buf.append(ch)
        elif ch == "'":
            in_str = True
            buf.append(ch)
        elif ch == ",":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    if in_str:
        raise ValueError(f"unterminated string literal in CALL args: {raw!r}")
    if "".join(buf).strip() or parts:
        parts.append("".join(buf))
    for p in parts:
        p = p.strip()
        if not p:
            raise ValueError(f"empty argument in CALL args: {raw!r}")
        up = p.upper()
        if p.startswith("'") and p.endswith("'"):
            args.append(p[1:-1].replace("''", "'"))
        elif up == "NULL":
            args.append(None)
        elif up in ("TRUE", "FALSE"):
            args.append(up == "TRUE")
        else:
            try:
                args.append(int(p))
            except ValueError:
                args.append(float(p))
    return args


def _cols(v) -> list[str] | None:
    """'k,day' → ['k', 'day']; None passes through (optional params)."""
    if v is None:
        return None
    return [c.strip() for c in str(v).split(",") if c.strip()]


def _member_map(v) -> dict[str, list[str] | None]:
    """'orders=o_orderkey;customer=c_custkey,c_day' → per-member
    column lists; a bare 'member' maps to None (verb default)."""
    out: dict[str, list[str] | None] = {}
    for part in str(v).split(";"):
        part = part.strip()
        if not part:
            continue
        member, eq, cols = part.partition("=")
        out[member.strip()] = _cols(cols) if eq else None
    return out


def _report_df(spark: SparkSession, report: dict) -> DataFrame:
    """One-row DataFrame of a maintenance verb's report, values
    stringified so heterogeneous reports share one stable schema."""
    cols = sorted(report)
    return spark.createDataFrame(
        [tuple(str(report[c]) for c in cols)], cols
    )


def _call_delete_where(spark, args, use_dv: bool):
    from weatherflow_spark.operators.upsert import delete_where

    path, predicate, key_cols = args[0], args[1], _cols(args[2])
    partition_cols = _cols(args[3]) if len(args) > 3 else None
    return delete_where(
        spark, path, predicate, key_cols,
        partition_cols=partition_cols, use_dv=use_dv,
    )


def _dispatch_call(spark: SparkSession, verb: str, args: list) -> DataFrame:
    from weatherflow_spark.operators.layout import (
        compact,
        compact_partitions,
    )
    from weatherflow_spark.operators.snaplog import vacuum_versions
    from weatherflow_spark.operators.upsert import restore_version
    from weatherflow_spark.operators.whlog import maintain_warehouse

    if verb == "upsert":
        # upsert('<path>', '<source_view>', '<key_cols>'
        #        [, '<partition_cols>']) — the keyed MERGE from SQL:
        # the source is a registered temp view / table name (a write
        # needs rows, which no literal can carry), resolved through
        # spark.table at dispatch time
        from weatherflow_spark.operators.upsert import upsert_by_key

        upsert_by_key(
            spark, spark.table(args[1]), args[0], _cols(args[2]),
            partition_cols=_cols(args[3]) if len(args) > 3 else None,
        )
        report = {"merged_from": args[1]}
    elif verb == "apply_changes":
        # apply_changes('<path>', '<source_view>', '<key_cols>'
        #               [, '<op_col>'[, '<partition_cols>']]) — the
        # CDC merge (U/D tombstones) from SQL, same view-sourced shape
        from weatherflow_spark.operators.upsert import apply_changes

        apply_changes(
            spark, spark.table(args[1]), args[0], _cols(args[2]),
            args[3] if len(args) > 3 and args[3] is not None else "op",
            _cols(args[4]) if len(args) > 4 else None,
        )
        report = {"applied_from": args[1]}
    elif verb == "delete_where":
        report = _call_delete_where(spark, args, use_dv=False)
    elif verb == "delete_where_dv":
        report = _call_delete_where(spark, args, use_dv=True)
    elif verb == "restore":
        # restore('<path>', <version>, '<key_cols>'[, '<partition_cols>'])
        report = restore_version(
            spark, args[0], int(args[1]), _cols(args[2]),
            partition_cols=_cols(args[3]) if len(args) > 3 else None,
        )
    elif verb == "compact":
        # compact('<path>'[, <target_file_bytes>[, '<sort_col>']])
        n = compact(
            spark, args[0],
            target_file_bytes=(
                int(args[1]) if len(args) > 1 and args[1] is not None
                else 128 * 1024 * 1024
            ),
            sort_col=args[2] if len(args) > 2 else None,
        )
        report = {"files_after": n}
    elif verb == "compact_zorder":
        # compact_zorder('<path>', '<col_a,col_b>'[, <target_file_bytes>])
        pair = _cols(args[1]) or []
        if len(pair) != 2:
            raise ValueError(
                "compact_zorder needs exactly two comma-separated "
                f"columns, got {args[1]!r}"
            )
        n = compact(
            spark, args[0],
            target_file_bytes=(
                int(args[2]) if len(args) > 2 and args[2] is not None
                else 128 * 1024 * 1024
            ),
            zorder=(pair[0], pair[1]),
        )
        report = {"files_after": n}
    elif verb == "compact_partitions":
        # compact_partitions('<path>', '<partition_cols>'
        #                    [, <max_files>[, '<sort_col>']])
        report = compact_partitions(
            spark, args[0], _cols(args[1]),
            max_files=int(args[2]) if len(args) > 2 else 8,
            sort_col=args[3] if len(args) > 3 else None,
        )
    elif verb == "vacuum_versions":
        # vacuum_versions('<path>', <keep_last>)
        report = vacuum_versions(args[0], keep_last=int(args[1]))
        if not isinstance(report, dict):
            report = {"result": report}
    elif verb == "maintain_warehouse":
        # maintain_warehouse('<wh_dir>', '<member=cols;member=cols>'
        #                    [, <max_files>[, <keep_last_loads>]])
        pcols = _member_map(args[1])
        out = maintain_warehouse(
            spark, args[0], partition_cols=pcols,
            max_files=int(args[2]) if len(args) > 2 else 8,
            keep_last_loads=(
                int(args[3]) if len(args) > 3 and args[3] is not None
                else None
            ),
        )
        report = {
            "members": ",".join(out["members"]),
            "partitions_compacted": sum(
                c["partitions_compacted"]
                for c in (out["compaction"] or {}).values()
            ),
            "load": out["load"],
        }
    elif verb == "vacuum_warehouse":
        # vacuum_warehouse('<wh_dir>'[, <keep_last_loads>
        #                  [, '<member=feed_dir;...>']])
        from weatherflow_spark.operators.whlog import vacuum_warehouse

        require = None
        if len(args) > 2 and args[2] is not None:
            # member=feed_dir pairs; the RHS is a PATH (may contain
            # commas), so split only on ';' and '=' — not _member_map
            require = {}
            for part in str(args[2]).split(";"):
                part = part.strip()
                if not part:
                    continue
                member, _, feed = part.partition("=")
                require[member.strip()] = feed.strip()
        out = vacuum_warehouse(
            args[0],
            keep_last_loads=int(args[1]) if len(args) > 1 else 1,
            require_exported=require,
        )
        loads = out.pop("__loads__", {})
        report = {
            "loads_dropped": loads.get("dropped_loads", 0),
            "members_vacuumed": ",".join(sorted(out)),
        }
    elif verb == "restore_warehouse_load":
        # restore_warehouse_load('<wh_dir>', <load>,
        #     '<member=key_cols;member=key_cols>'
        #     [, '<member=partition_cols;...>'[, '<batch_id>']])
        from weatherflow_spark.operators.whlog import (
            restore_warehouse_load,
        )

        out = restore_warehouse_load(
            spark, args[0], int(args[1]), _member_map(args[2]),
            partition_cols=(
                _member_map(args[3])
                if len(args) > 3 and args[3] is not None else None
            ),
            batch_id=args[4] if len(args) > 4 else None,
        )
        report = {
            "load": out["load"],
            **{
                f"restored_{t}": n
                for t, n in sorted(out["restored"].items())
            },
        }
    elif verb == "table_status":
        # table_status('<path>') — metadata-only DESCRIBE DETAIL
        from weatherflow_spark.operators.snaplog import table_status

        report = {
            k: (",".join(map(str, v)) if isinstance(v, list) else v)
            for k, v in table_status(args[0]).items()
        }
    elif verb == "table_history":
        # table_history('<path>'[, <limit>]) — bounded DESCRIBE
        # HISTORY: one row per version, newest first (multi-row,
        # unlike the one-row reports)
        from weatherflow_spark.operators.snaplog import table_history

        rows = table_history(
            args[0], limit=int(args[1]) if len(args) > 1 else 20
        )
        return spark.createDataFrame(
            [
                (
                    int(r["version"]), str(r["committed_at"]),
                    int(r["files"]), int(r["bytes"]),
                    int(r["partitions"]), int(r["dv_dirs"]),
                    None if r["batch_id"] is None else str(r["batch_id"]),
                )
                for r in rows
            ],
            "version long, committed_at string, files long, "
            "bytes long, partitions long, dv_dirs long, batch_id string",
        )
    elif verb == "clustering_status":
        # clustering_status('<path>', '<cols>'[, <version>]) —
        # metadata-only clustering-health diagnostic, one flattened
        # row: <col>_depth / <col>_overlap / <col>_disjoint per column
        from weatherflow_spark.operators.snaplog import clustering_status

        st = clustering_status(
            args[0], _cols(args[1]) or [],
            version=int(args[2]) if len(args) > 2 else None,
        )
        report = {
            "version": st["version"], "files_total": st["files_total"],
        }
        for c, m in st["columns"].items():
            report[f"{c}_files"] = m["files_with_stats"]
            report[f"{c}_depth"] = m["max_overlap_depth"]
            report[f"{c}_overlap"] = m["overlap_fraction"]
            report[f"{c}_disjoint"] = m["disjoint"]
    else:
        raise ValueError(
            f"unknown CALL verb {verb!r} (supported: upsert, "
            "apply_changes, delete_where, "
            "delete_where_dv, restore, compact, compact_zorder, "
            "compact_partitions, vacuum_versions, maintain_warehouse, "
            "vacuum_warehouse, restore_warehouse_load, table_status, "
            "table_history, clustering_status)"
        )
    return _report_df(spark, dict(report))
