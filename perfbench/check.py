"""Output checks, run by the same command that prints the metrics.

- curation_docs: each query's warm-up output (written as parquet by the
  set-up) is compared with the query's `SparkEntry.oracleSql` in
  DuckDB, and every timed run of the query must have the same row count
  and digest as that checked output.
- semantic_cold: the expected pipeline output is benchmark-owned DuckDB SQL
  that mirrors the MockLlmClient rules; the warm-up output is compared row
  by row, and every timed run's digest (md5 over the name-sorted columns
  cast to text) is recomputed in DuckDB.

An op fails when it threw, when its action was not a full write of its
result, or when its output is wrong; every op of a query whose checked
output mismatched the oracle fails too. The plan check's negative control
(a count over an observed DataFrame, which must read as "pruned") fails
the run, not an op.

`canon` and `compare` follow tools/diffcheck.py (a script, so it cannot
be imported): columns sorted by name, rows sorted, exact values, dtype
kinds equal, matched nulls accepted.
"""
import os

import duckdb
import numpy as np
import pandas as pd

MAP_PREFIX = "Label the sentiment of this note: "
FILTER_PREFIX = "Does this note discuss query engines? "


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(expected, got):
    """None when equal, else a one-line reason."""
    e, g = canon(expected), canon(got)
    if list(e.columns) != list(g.columns):
        return f"cols exp={list(e.columns)} got={list(g.columns)}"
    if len(e) != len(g):
        return f"rows exp={len(e)} got={len(g)}"
    for c in e.columns:
        a, b = e[c], g[c]
        if a.dtype.kind != b.dtype.kind:
            return f"dtype col {c}: oracle {a.dtype} vs spark {b.dtype}"
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            if not np.allclose(a.astype(float).fillna(-1e300), b.astype(float).fillna(-1e300),
                               rtol=0, atol=0):
                return f"float col {c}"
        else:
            ae = a.astype(object).where(pd.notnull(a), None)
            be = b.astype(object).where(pd.notnull(b), None)
            if not ((ae == be) | (pd.isnull(a) & pd.isnull(b))).all():
                return f"col {c}"
    return None


def semantic_sql(edit):
    """Expected output of the map -> filter -> reduce pipeline for `edit`.

    Mock rules: the filter keeps a row when its rendered prompt has even
    length; sentiment is positive/negative/neutral by 'fast'/'slow' in the
    prompt; the reduce prompt is the members joined by newlines, and its
    summary is 'docs=<members> chars=<prompt length>'."""
    return f"""
        WITH kept AS (
          SELECT * FROM documents
          WHERE (length('{FILTER_PREFIX}') + length(text)) % 2 = 0),
        labeled AS (
          SELECT lang, source, text,
                 CASE WHEN contains('{MAP_PREFIX}' || text, 'fast') THEN 'positive'
                      WHEN contains('{MAP_PREFIX}' || text, 'slow') THEN 'negative'
                      ELSE 'neutral' END AS sentiment
          FROM kept)
        SELECT lang, source,
               'docs=' || count(*) || ' chars=' ||
                 CAST(sum(length('{edit} ' || sentiment || ': ' || text)) + count(*) - 1 AS BIGINT)
                 AS summary,
               CAST(count(*) AS BIGINT) AS _counts_prereduce_digest
        FROM labeled GROUP BY lang, source"""


def md5_digest(con, sql):
    """(rows, digest) as the benchmark's `md5` observation computes them."""
    cols = sorted(c for c in con.sql(sql).columns)
    row = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    n, d = con.sql(f"""SELECT count(*), sum(('0x' || substr(md5(concat_ws('|', {row})), 1, 12))::BIGINT)
                       FROM ({sql})""").fetchone()
    return int(n), str(int(d or 0))


def connect(input_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def fail_ops_of(failures, ops, key, why):
    """Marks every op of `key` not yet failed as failed for `why`."""
    for o in ops:
        if o["key"] == key and o["op"] not in failures:
            failures[o["op"]] = f"checked output of {key} is wrong: {why}"


def check(record, input_dir):
    """Map id -> failure reason: op ids for failed ops, `ref:<key>` for a
    checked output that mismatched, `plan_control` for a plan check that
    cannot tell a pruned action. Empty when all passed."""
    con = connect(input_dir)
    failures = {}
    if record["plan_control"] != "pruned":
        failures["plan_control"] = f"a count over an observed result read as {record['plan_control']!r}"
    ops = record["ops"]
    for o in ops:
        if not o.get("ok"):
            failures[o["op"]] = "threw: " + o.get("error", "")
        elif o.get("plan_check") != "ok":
            failures[o["op"]] = "timed action not a full materialization: " + str(o.get("plan_check"))
    refs = {r["key"]: r for r in record["refs"]}

    if record["workload"] == "semantic_cold":
        for key, r in refs.items():
            why = compare(con.sql(semantic_sql(key[len("pipeline-"):])).df(), pd.read_parquet(r["path"]))
            if why:
                failures[f"ref:{key}"] = why
                fail_ops_of(failures, ops, key, why)
        expected = {}
        for o in ops:
            if o["op"] in failures:
                continue
            edit = o["key"][len("pipeline-"):]
            if edit not in expected:
                expected[edit] = md5_digest(con, semantic_sql(edit))
            if (int(o["rows"]), o["digest"]) != expected[edit]:
                failures[o["op"]] = f"digest {o['rows']}/{o['digest']} != expected {expected[edit]}"
        return failures

    for key, r in refs.items():
        sql = record["oracle"].get(key)
        if sql is None:
            continue
        try:
            why = compare(con.sql(sql).df(), pd.read_parquet(r["path"]))
        except Exception as ex:  # an oracle that cannot run is a failed check
            why = f"{type(ex).__name__}: {str(ex)[:300]}"
        if why:
            failures[f"ref:{key}"] = why
            fail_ops_of(failures, ops, key, why)
    for o in ops:
        if o["op"] in failures:
            continue
        r = refs.get(o["key"])
        if r is None:
            failures[o["op"]] = "no checked reference output"
        elif (o["rows"], o["digest"]) != (r["rows"], r["digest"]):
            failures[o["op"]] = f"digest {o['rows']}/{o['digest']} != checked {r['rows']}/{r['digest']}"
    return failures
