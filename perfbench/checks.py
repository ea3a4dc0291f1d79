"""Output checks, run outside the timed passes.

Each check answers, for one op record of a pass, whether its result was
wrong. Query results go through the repository's DuckDB oracle
(`tools/oracle_check.py`); the Monte Carlo scalars are held to a CLT band
around the closed form; the gather to the exact sum of its partials; and
the lakehouse read-backs to the same digests computed by DuckDB.
"""
import csv
import json
import math
import os
import subprocess
import sys

import duckdb

LANGS = ["en", "es", "zh", "de", "fr"]


# ---- reserve_mc ----------------------------------------------------------

def policy_moments(path):
    """(closed-form mean, per-trial variance) of one file's reserve total.

    Per policy the claim count is floor(Exp(mean m)), m = term/365: a
    geometric count with q = e^(-1/m), mean q/(1-q) = 1/(e^(1/m) - 1) and
    variance q/(1-q)^2; each claim is Normal(100, 10). So one trial's
    total has mean 100·E[n] and variance 100²·Var[n] + 10²·E[n].
    """
    mean = var = 0.0
    with open(path) as fh:
        for row in csv.DictReader(fh):
            term = float(row["term"])
            if term <= 0:
                continue
            q = math.exp(-365.0 / term)
            en = q / (1.0 - q)
            vn = q / (1.0 - q) ** 2
            mean += 100.0 * en
            var += 100.0 ** 2 * vn + 10.0 ** 2 * en
    return mean, var


def within_clt(value, mean, var, sims, z=6.0):
    """Whether a Monte Carlo average over `sims` trials lies within z
    standard errors of the closed form."""
    return abs(value - mean) <= z * math.sqrt(var / sims)


def gather_ok(value, n, partials):
    """The gather must equal the exact sum of the partials it was given,
    having skipped the zero-byte `.txt` and the non-`.txt` decoy."""
    exact = math.fsum(partials)
    return n == len(partials) and abs(value - exact) <= 1e-9 * max(abs(exact), 1.0)


def reserve_checker(inputs, sims):
    moments = {}

    def wrong(op):
        v = op.get("value") or {}
        if op["kind"] == "simulate":
            f = v.get("file")
            if f not in moments:
                moments[f] = policy_moments(os.path.join(inputs, "policies", f + ".csv"))
            mean, var = moments[f]
            return not within_clt(v["value"], mean, var, sims)
        if op["kind"] == "gather":
            return not gather_ok(v["value"], v["n"], v["partials"])
        return False
    return wrong


# ---- lakehouse_write -----------------------------------------------------

def lakehouse_expected(inputs, p):
    """DuckDB twin of each table's content after one pass's commits, as
    `lang|rows|sum(n_chars)|md5(sorted ids)` digest lines."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{inputs}/documents.parquet')")
    lo, mU, mD, rD, mI, m5 = (p[k] for k in ("lo", "mU", "mD", "rD", "mI", "m5"))
    inserts = f"SELECT doc_id + 1000000 AS doc_id, lang, n_chars FROM docs WHERE doc_id % {mI} = 0"
    updated = f"CASE WHEN doc_id % {mU} = 0 THEN n_chars + 1000 ELSE n_chars END"
    langs = ",".join(f"'{x}'" for x in (p["langsA"] + "," + p["langsB"]).split(","))
    content = {
        "rl": f"""SELECT doc_id, lang, {updated} AS n_chars FROM docs
                  WHERE doc_id >= {lo} AND NOT (lang = '{p['delLang']}' AND doc_id % {mU} <> 0)
                  UNION ALL {inserts}""",
        "delta": f"""SELECT doc_id, lang, {updated} AS n_chars FROM docs
                     WHERE doc_id >= {lo} AND NOT (doc_id % {mD} = {rD} AND doc_id % {mU} <> 0)
                     UNION ALL {inserts}""",
        "dv": f"""SELECT doc_id, lang, n_chars FROM docs WHERE doc_id >= {lo}
                  AND doc_id % {mD} <> {rD} AND n_chars % {m5} <> 0""",
        "pqdv": f"SELECT doc_id, lang, n_chars FROM docs WHERE doc_id >= {lo} AND doc_id % {mD} <> {rD}",
        "ev_dst": f"SELECT doc_id, lang, n_chars FROM docs WHERE lang IN ({langs})",
    }
    out = {}
    for table, sql in content.items():
        rows = con.execute(f"""SELECT lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT),
            md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
            FROM ({sql}) GROUP BY lang ORDER BY lang""").fetchall()
        out[table] = ["|".join(str(x) for x in r) for r in rows]
    return out


def lakehouse_checker(inputs, params):
    expected = lakehouse_expected(inputs, params)

    def wrong(op):
        if op["kind"] != "read":
            return False
        v = op.get("value") or {}
        return v.get("digest") != expected.get(v.get("table"))
    return wrong


# ---- query mixes ---------------------------------------------------------

def oracle_results(root, inputs, check_dir, checks):
    """Run the repository's DuckDB oracle over the check pass's results.

    Returns the set of op names whose result is wrong: an oracle mismatch,
    a check-pass error, or an empty result for a rows-only query.
    """
    bad = {c["name"] for c in checks if c.get("error") or c["rows"] <= 0}
    oracle = {c["name"]: c["oracle"] for c in checks if c.get("oracle") and c["name"] not in bad}
    if not oracle:
        return bad
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "oracle_check.py"),
                        inputs, check_dir], capture_output=True, text=True, timeout=120)
    ok = set()
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] == "OK":
            ok.add(parts[1])
        elif len(parts) >= 2 and parts[0] == "FAIL":
            print(f"oracle: {line}", file=sys.stderr)
    return bad | (set(oracle) - ok)


def query_checker(wrong_names):
    return lambda op: op["name"] in wrong_names
