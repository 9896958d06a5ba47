"""Output checks for the benchmark's workloads. Each returns a list of
(op-name, problem) pairs; an empty list means every output was right."""
import glob
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

# the oracle comparison's normalization is the repo's own (tools/precheck.py)
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from precheck import normalize  # noqa: E402


def _same(spark_df, duck_df):
    """None when the two results hold the same rows (columns by name,
    rows in any order, floats compared exactly), else the difference."""
    s, d = normalize(spark_df), normalize(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != {list(d.columns)}"
    if len(s) != len(d):
        return f"{len(s)} rows != {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = a.fillna(-9e99) == b.fillna(-9e99)
        else:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            return f"column {c} differs in {int((~eq).sum())} rows"
    return None


def _tables(con, data_dir):
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")


def suite(out, data_dir, results_dir):
    """Every query's result against its DuckDB oracle twin; the queries
    without a twin (RNG-, sketch- or MLlib-dependent) must return rows."""
    problems = []
    con = duckdb.connect()
    _tables(con, data_dir)
    for op in out["ops"]:
        name = op["name"]
        if op["err"]:
            problems.append((name, op["err"]))
            continue
        parts = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        sql = out["oracle_sql"].get(name)
        if sql is None:
            if len(got) == 0:
                problems.append((name, "no rows"))
            continue
        try:
            diff = _same(got, con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            diff = f"oracle error: {e}"
        if diff:
            problems.append((name, diff))
    return problems


def corpus(out, n_docs):
    """The Report's stage counts start from every document and only
    shrink stage by stage; the JSONL export holds exactly the shipped
    documents, once each; the training shards hold rows."""
    problems = []
    con = duckdb.connect()
    for op in out["ops"]:
        if op["err"]:
            problems.append((op["name"], op["err"]))
            continue
        r = op["report"]
        counts = [r["input"], r["url_kept"], r["gated"], r["cleaned"], r["kept"], r["shipped"]]
        if r["input"] != n_docs or counts != sorted(counts, reverse=True) or r["shipped"] <= 0:
            problems.append((op["name"], f"stage counts {counts}"))
        jsonl = os.path.join(op["jsonl"], "*.json")
        n, ids = con.execute(
            f"SELECT count(*), count(DISTINCT doc_id) FROM read_json_auto('{jsonl}')").fetchone()
        if n != r["shipped"] or ids != n:
            problems.append((op["name"], f"jsonl {n} rows / {ids} ids, shipped {r['shipped']}"))
        shard_rows = con.execute(
            f"SELECT count(*) FROM read_parquet('{op['shards']}/*/*.parquet')").fetchone()[0]
        if shard_rows <= 0:
            problems.append((op["name"], "no shard rows"))
    return problems


def stream(out):
    """Every sent event id is in the sink exactly once, and the ids with
    `% 10 == 0` (the corrupted payloads) take the error route."""
    sent = out["sent"]
    con = duckdb.connect()
    files = os.path.join(out["sink"], "epoch=*", "*.parquet")
    n, distinct, lo, hi, misrouted = con.execute(f"""
        SELECT count(*), count(DISTINCT event_id), min(event_id), max(event_id),
               count(*) FILTER (WHERE (event_id % 10 = 0) <> (status = 'error'))
        FROM read_parquet('{files}', hive_partitioning = false)""").fetchone()
    problems = []
    if (n, distinct, lo, hi) != (sent, sent, 0, sent - 1):
        problems.append(("stream", f"sink holds {n} rows / {distinct} ids in [{lo}, {hi}], "
                                   f"sent {sent}"))
    if misrouted:
        problems.append(("stream", f"{misrouted} events on the wrong route"))
    return problems
