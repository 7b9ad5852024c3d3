"""Output checks, run after the timed window.

Queries: each result is compared with its DuckDB oracle answer by the
canonical compare of tools/check_oracles.py (columns sorted by name, sequence
cells serialised, rows sorted, values compared as strings). The answers for
the generated tables are computed once into expected.json; run this file to
recompute them after changing queries.json or tables.py:

    python3 perfbench/checks.py

Closes: DQ status, fact rows, KPI rows, revenue and DQ exception counts are
recomputed from the generated raw CSVs.
"""
import csv
import glob
import json
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def ser(v):
        if not isinstance(v, (list, tuple)) and not hasattr(v, "ndim"):
            return v

        def default(o):
            if hasattr(o, "item") and not hasattr(o, "__len__"):
                return o.item()
            if hasattr(o, "__iter__"):
                return list(o)
            return str(o)
        try:
            return json.dumps(v, default=default)
        except TypeError:
            return str(v)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].apply(ser)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_answers(data_dir, oracles, names):
    """Canonical DuckDB answer per query name, values as strings."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return {q: canon(con.execute(oracles[q]["sql"]).fetchdf()).astype(str) for q in set(names)}


def expected_answers(data_dir, digest, oracles, names):
    """The stored answers when they were computed for this table content,
    else fresh DuckDB answers."""
    stored = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
    if stored.get("digest") == digest and set(names) <= set(stored["answers"]):
        return {q: pd.DataFrame(a["rows"], columns=a["columns"], dtype=str)
                for q, a in stored["answers"].items() if q in names}
    print("perfbench: expected.json does not match the generated tables; "
          "computing the oracle answers", file=sys.stderr)
    return oracle_answers(data_dir, oracles, names)


def same_result(result_dir, expected):
    """None when the parquet result equals the canonical expected frame, else why not."""
    got = canon(pq.read_table(result_dir).to_pandas())
    if list(got.columns) != list(expected.columns):
        return f"columns {list(got.columns)} != {list(expected.columns)}"
    if len(got) != len(expected):
        return f"rows {len(got)} != {len(expected)}"
    if not got.astype(str).equals(expected):
        return "values differ"
    return None


def _rows(path):
    with open(path, newline="", encoding="utf-8") as f:
        return list(csv.DictReader(f))


def expected_close(raw_dir, month, coa):
    """What a correct close of one month's raw CSVs must produce."""
    fx = {(r["date"], r["from_currency"]): float(r["rate"])
          for r in _rows(os.path.join(raw_dir, "fx_rates.csv"))}
    sales = _rows(os.path.join(raw_dir, "sales.csv"))
    in_month = lambda rows: [r for r in rows if r["date"].startswith(month)]
    fact_rows = (len(in_month(sales))
                 + len(in_month(_rows(os.path.join(raw_dir, "expenses.csv"))))
                 + len(in_month(_rows(os.path.join(raw_dir, "inventory_movements.csv"))))
                 + sum(r["month"] == month for r in _rows(os.path.join(raw_dir, "payroll.csv"))))
    revenue = {}
    for r in in_month(sales):
        if coa.get(r["account_code"]) == "Revenue":
            revenue[r["entity"]] = (revenue.get(r["entity"], 0.0)
                                    + float(r["amount"]) * fx[(r["date"], r["currency"])])
    return fact_rows, revenue


def raw_rows(raw_dir):
    """Data rows in one month's five raw CSVs."""
    return sum(len(_rows(f)) for f in glob.glob(os.path.join(raw_dir, "*.csv")))


def check_close(root, op, corrupt=False):
    """None when month op's outputs are right, else why not. `corrupt` skews
    the expected revenue, which must then fail the check."""
    month = op["month"]
    raw = os.path.join(root, "raw", month)
    coa = {r["account_code"]: r["account_type"]
           for r in _rows(os.path.join(root, "reference", "chart_of_accounts.csv"))}
    fact_rows, revenue = expected_close(raw, month, coa)
    if corrupt:
        revenue = {e: v + 1.0 for e, v in revenue.items()}
    if op["status"] != "PASS":
        return f"status {op['status']}"
    fact = pq.read_table(os.path.join(root, "curated", "fact_transactions.parquet", f"month={month}"))
    if fact.num_rows != fact_rows:
        return f"fact rows {fact.num_rows} != {fact_rows}"
    kpi = pq.read_table(os.path.join(root, "curated", "kpi_monthly.parquet")).to_pandas()
    kpi = kpi[kpi["month"].astype(str) == month]
    if sorted(kpi["entity"]) != sorted(revenue):
        return f"kpi entities {sorted(kpi['entity'])} != {sorted(revenue)}"
    for entity, want in revenue.items():
        got = float(kpi[kpi["entity"] == entity]["Revenue"].iloc[0])
        if abs(got - want) > 1e-6 * max(1.0, abs(want)):
            return f"{entity} revenue {got} != {want}"
    exceptions = sum(len(_rows(f)) for f in glob.glob(os.path.join(root, "checks", month, "*.csv")))
    if exceptions != int(op["defects"]):
        return f"dq_exceptions {exceptions} != {op['defects']} injected"
    return None


if __name__ == "__main__":
    import tempfile

    import run
    import tables
    cfg = run.WORKLOADS["queries_multistage"]
    with tempfile.TemporaryDirectory(dir=HERE) as d:
        _, digest = tables.generate(d, cfg["sf"], 0)
        answers = oracle_answers(d, run.QUERIES, run.QUERIES)
    with open(EXPECTED, "w") as f:
        json.dump({"sf": cfg["sf"], "digest": digest, "answers": {
            q: {"columns": list(a.columns), "rows": a.values.tolist()}
            for q, a in sorted(answers.items())}}, f, indent=1)
