"""Correctness checks for a benchmark run, evaluated with DuckDB over the
same generated inputs the engine read. They run after the timed region.

- Registry ops with an oracle: the op's output must equal the oracle's,
  compared the way ``tools/selfcheck.py`` compares them (columns sorted by
  name, rows sorted by all columns, values exact).
- Registry ops without an oracle: the output must have columns and rows.
- Export destinations: every destination of every round must hold exactly
  the rows of the configs appended into it, each evaluated here from its
  config, and the sink's union schema must be the columns of those
  configs in first-seen order.

Each function returns {key: error message} for the failures only.
"""
import os

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events documents "
          "embeddings").split()
TAG_COL = "lfm.content.tags"


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """The normal form ``tools/selfcheck.py`` compares in."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def _diff(mine: pd.DataFrame, theirs: pd.DataFrame):
    a, b = norm(mine), norm(theirs)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if not a.equals(b):
        bad = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
        return f"{int(bad.sum())}/{len(a)} rows differ"
    return None


def check_registry(data, work, result):
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{data}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    errors = dict(result.get("warm_errors", {}))
    for name in result.get("verify_rows", {}):
        try:
            mine = pd.read_parquet(f"{work}/verify/{name}")
            sql = result["oracles"].get(name)
            if sql is not None:
                err = _diff(mine, con.sql(sql).df())
            elif len(mine.columns) == 0 or len(mine) == 0:
                err = f"empty output ({len(mine.columns)} columns, {len(mine)} rows)"
            else:
                err = None
        except Exception as e:  # noqa: BLE001 - any failure to check is a failure
            err = f"{type(e).__name__}: {e}"
        if err:
            errors[name] = err
    return errors


def _q(name):
    return '"' + name.replace('"', '""') + '"'


def _config_sql(cfg, entry, data, stub):
    """DuckDB evaluation of one config up to (not including) the tag pivot."""
    paged = entry["source"] == "paged"
    if paged:
        off, total = stub["offset"], stub["total"]
        src = (f"(SELECT CAST(i % 97 AS BIGINT) AS brand_id, "
               f"printf('2024-01-%02d', CAST((i // 97) % 28 + 1 AS INTEGER)) AS date_str, "
               f"CAST(i % 1000 AS DOUBLE) / 10.0 AS metric "
               f"FROM range({off}, {off + total}) t(i))")
        brand, date = "brand_id", "date_str"
    else:
        src = f"read_parquet('{data}/content.parquet')"
        brand, date = "lfm.brand_view.id", "lfm.fact.date_str"
    attrs = [m for m in cfg["meta_dimensions"] if m.startswith("lfm.brand.")]
    join = ""
    if attrs:
        join = (f" LEFT JOIN (SELECT {', '.join(_q(a) for a in ['lfm.brand.id'] + attrs)} "
                f"FROM read_parquet('{data}/brands.parquet')) b ON f.{_q(brand)} = b.{_q('lfm.brand.id')}")
    brands = ", ".join(str(b) for b in cfg["brands"]) or "NULL"
    where = (f"f.{_q(brand)} IN ({brands}) AND f.{_q(date)} BETWEEN "
             f"'{entry['start_date']}' AND '{entry['end_date']}'")
    keys = list(cfg["group_by"]) + list(cfg["meta_dimensions"])
    aggs = []
    for m in cfg["metrics"]:
        fn, c = m.split(":", 1)
        c = _q(c)
        aggs.append({
            "sum": f"SUM(CAST({c} AS DECIMAL(28,4)))",
            "count": f"COUNT({c})",
            "count_distinct": f"COUNT(DISTINCT {c})",
            "min": f"MIN({c})",
            "max": f"MAX({c})",
        }[fn] + f" AS {_q(m)}")
    grouped = (f"SELECT {', '.join([_q(k) for k in keys] + aggs)} FROM {src} f{join} "
               f"WHERE {where} GROUP BY ALL")
    dtypes = {**cfg["group_by"], **cfg["meta_dimensions"], **cfg["metrics"]}
    sentinel = " OR ".join(f"coalesce(CAST({_q(k)} AS VARCHAR) = 'unauthorized', false)"
                           for k in keys if k != TAG_COL) or "false"
    out = []
    for k in keys + list(cfg["metrics"]):
        dt_ = dtypes[k]
        as_double = f"TRY_CAST(CAST({_q(k)} AS VARCHAR) AS DOUBLE)"
        if k == TAG_COL:
            e = _q(k)
        elif dt_ == "int64":
            e = f"CAST(trunc(coalesce({as_double}, 0)) AS BIGINT)"
        elif dt_ == "float64":
            e = f"coalesce({as_double}, 0.0)"
        elif dt_ == "datetime64[ns]":
            fmt = "%Y-%m-%d" if k.endswith("date_str") else "%Y-%m-%dT%H:%M:%S"
            e = f"strftime(TRY_CAST(CAST({_q(k)} AS VARCHAR) AS TIMESTAMP), '{fmt}')"
        else:
            e = f"CAST({_q(k)} AS VARCHAR)"
        out.append(f"{e} AS {_q(k)}")
    return f"SELECT {', '.join(out)} FROM ({grouped}) g WHERE NOT ({sentinel})"


def _pivot_tags(df):
    """``TagPivot.pivotTags``: one column per parsed tag key, duplicate
    keys folded with "//", colon-less items under ``<field>.untitled``."""
    maps = []
    for tags in df[TAG_COL]:
        m = {}
        for t in list(tags) if tags is not None else []:
            i = t.find(":")
            if i >= 0:
                k, v = f"{TAG_COL}.{t[:i].strip(' ').replace(' ', '_')}", t[i + 1:].strip(" ")
            else:
                k, v = f"{TAG_COL}.untitled", t.strip(" ")
            m[k] = m[k] + "//" + v if k in m else v
        maps.append(m)
    out = df.drop(columns=[TAG_COL])
    for k in sorted(set().union(*maps)):
        out[k] = [m.get(k) for m in maps]
    return out


def check_export(data, work, result, configs, plan, stub):
    con = duckdb.connect()
    expected = {}
    for entry in plan:
        cfg = configs[entry["config_id"]]
        df = con.sql(_config_sql(cfg, entry, data, stub)).df()
        if entry["tags"]:
            df = _pivot_tags(df)
        expected[entry["config_id"]] = df.rename(columns=lambda c: c.replace(".", "&"))
    errors = {}
    rounds = sorted({ld["round"] for ld in result["loads"] if ld["round"] >= 1})  # timed rounds
    for r in rounds:
        for dest in sorted({e["dest"] for e in plan}):
            key = f"round {r} {dest}"
            loads = [ld for ld in result["loads"] if ld["round"] == r
                     and ld["dest"].endswith("_" + dest)]
            # the last round may stop early: check the configs it loaded
            loaded = [ld["config_id"] for ld in loads]
            entries = [e for e in plan if e["dest"] == dest and e["config_id"] in loaded]
            if loaded != [e["config_id"] for e in entries]:
                errors[key] = f"loads {loaded} do not follow the plan"
                continue
            if not entries:
                continue
            want = pd.concat([expected[e["config_id"]] for e in entries], ignore_index=True)
            # the concat null-fills a config's missing columns with NaN;
            # a missing string is None, as the parquet read gives it
            for c in want.columns[want.dtypes == object]:
                want[c] = want[c].astype(object).where(want[c].notna(), None)
            cols = []
            for e in entries:
                cols += [c for c in expected[e["config_id"]].columns if c not in cols]
            path = loads[-1]["dest"]
            try:
                got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet', "
                              f"union_by_name=true)").df()
                if loads[-1]["columns"] != cols:
                    err = f"union schema {loads[-1]['columns']} vs {cols}"
                else:
                    err = _diff(got, want.reindex(columns=cols))
            except Exception as ex:  # noqa: BLE001
                err = f"{type(ex).__name__}: {ex}"
            if err:
                errors[key] = err
    return errors
