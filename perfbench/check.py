"""Output checks, independent of Spark.

History: read the written diffdb back with pyarrow and compare it with
the generator's manifest (every revision exactly once) and with the
direct-kernel expectations (op count and op bytes).

Registry: digest each query's written result, normalised as
tools/check.py normalises it before comparing (columns by name, rows
sorted, nulls and NaN alike, numbers by float value, anything else by
its text), and compare it with the digest of the query's oracle answer
(`registry/oracle.json`, made by `oracle.py`).
"""
import datetime
import decimal
import hashlib
import json
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds


def check_diffdb(out_dir, manifest_path, expected):
    m = np.load(manifest_path)
    want = np.unique(np.stack([m["page_id"], m["rev_id"]], axis=1), axis=0)
    t = ds.dataset(out_dir, format="parquet", partitioning="hive").to_table(
        columns=["page_id", "rev_id", "diffs", "diff_error"])
    got = np.stack([t["page_id"].to_numpy(), t["rev_id"].to_numpy()], axis=1) if t.num_rows else np.zeros((0, 2), np.int64)
    distinct = np.unique(got, axis=0)
    as_set = lambda a: set(map(tuple, a.tolist()))
    want_s, got_s = as_set(want), as_set(distinct)
    missing = len(want_s - got_s)
    extra = len(got_s - want_s)
    duplicated = len(got) - len(distinct)
    diff_errors = t.num_rows - t["diff_error"].null_count
    ops = pc.sum(pc.list_value_length(t["diffs"])).as_py() or 0
    contents = pc.list_flatten(t["diffs"]).combine_chunks().field("content") if t.num_rows else None
    op_bytes = (pc.sum(pc.binary_length(contents)).as_py() or 0) if contents is not None else 0
    failed = missing + duplicated + extra + diff_errors
    ok = (failed == 0 and len(m["rev_id"]) == len(want)
          and expected["revisions"] == len(want) and expected["kernel_errors"] == 0
          and ops == expected["ops"] and op_bytes == expected["op_bytes"])
    return {"ok": bool(ok), "attempted": len(m["rev_id"]), "failed": int(failed),
            "missing": missing, "duplicated": int(duplicated), "extra": extra,
            "diff_error_rows": int(diff_errors), "rows": t.num_rows,
            "output_ops": int(ops), "output_op_bytes": int(op_bytes),
            "expected": expected}


def canon(v):
    """One cell in a form two engines' answers agree on when tools/check.py
    would call them equal."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [[k, canon(x)] for k, x in sorted(v.items())]
    if v is None or (isinstance(v, (float, np.floating)) and np.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)) and abs(int(v)) > 2 ** 53:
        return str(int(v))
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        return repr(float(v) + 0.0)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(columns, rows):
    """Row count and sha256 of a result given as column names and row
    tuples of Python values."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(json.dumps([canon(r[i]) for i in order], ensure_ascii=False) for r in rows)
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for ln in lines:
        h.update(b"\n" + ln.encode())
    return {"rows": len(lines), "sha256": h.hexdigest()}


def result_digest(result_dir):
    t = ds.dataset(result_dir, format="parquet").to_table()
    cols = [c.to_pylist() for c in t.columns]
    return digest(t.column_names, list(zip(*cols)) if cols else [])


def check_registry(check_dir, oracle_path, queries, errors):
    """Every listed query ran and its written result matches its oracle
    digest; a query that failed or answered wrongly counts once."""
    with open(oracle_path) as f:
        oracle = json.load(f)
    wrong = {}
    for q in queries:
        if q in errors:
            continue
        d = os.path.join(check_dir, q)
        got = result_digest(d) if os.path.isdir(d) else None
        if got != oracle.get(q):
            wrong[q] = {"got": got, "want": oracle.get(q)}
    failed = len(set(errors) | set(wrong))
    return {"ok": failed == 0, "attempted": len(queries), "failed": failed,
            "errors": errors, "wrong": wrong}
