"""Correctness checks made once per invocation, on the last measured run.

validate_wide, csv_phases: the run's errors_and_warnings.txt and checkpoints
must match the generator's manifest. Every reported row event must be one
the generator expects, each phase must report min(expected, cap) of them plus
its driver-side warnings, and every checkpoint must hold the expected rows.

curation_dedup, registry_queries: the Spark result must equal the query's
own oracle SQL run in DuckDB over the generated tables.
"""
import json
import math
import os
import re

import duckdb

EVENT_CAP = 10_000  # Context.maxCollected: row events materialized per phase
LINE = re.compile(r"^(\w+) in phase (\S+)(?: row (\d+))? step (\S+): ")


def check(workload, data, res):
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    if workload in ("validate_wide", "csv_phases"):
        return check_manifest(manifest, data, res["last_run_dir"])
    return check_oracle(data, res["oracle_dir"])


# --------------------------------------------------------------- manifest

def check_manifest(manifest, data, run_dir):
    problems = []
    expected = set()
    per_phase = {}
    with open(os.path.join(data, "expected_events.tsv")) as f:
        for line in f:
            phase, row, etype, step = line.rstrip("\n").split("\t")
            expected.add((phase, int(row), etype, step))
            per_phase[phase] = per_phase.get(phase, 0) + 1

    seen, row_lines, driver_lines = set(), {}, {}
    with open(os.path.join(run_dir, "errors_and_warnings.txt"), encoding="utf-8") as f:
        for line in f:
            m = LINE.match(line)
            if not m:
                problems.append("unparsable report line: %r" % line[:120])
                continue
            etype, phase, row, step = m.groups()
            if row is None:
                driver_lines[phase] = driver_lines.get(phase, 0) + 1
                continue
            key = (phase, int(row), etype, step)
            if key not in expected:
                problems.append("unexpected event %s" % (key,))
            elif key in seen:
                problems.append("event reported twice %s" % (key,))
            seen.add(key)
            row_lines[phase] = row_lines.get(phase, 0) + 1

    ext = "csv" if manifest["source"].endswith(".csv") else "parquet"
    con = duckdb.connect()
    phases = manifest["phases"]
    for phase in phases:
        want = min(per_phase.get(phase, 0), EVENT_CAP)
        if row_lines.get(phase, 0) != want:
            problems.append("%s: %d row events reported, expected %d"
                            % (phase, row_lines.get(phase, 0), want))
        want = manifest.get("driver_events." + phase, 0)
        if driver_lines.get(phase, 0) != want:
            problems.append("%s: %d driver-side events, expected %d"
                            % (phase, driver_lines.get(phase, 0), want))
        got = count_rows(con, os.path.join(run_dir, "%s_output.%s" % (phase, ext)), ext)
        if got != manifest["rows." + phase]:
            problems.append("%s checkpoint: %s rows, expected %d"
                            % (phase, got, manifest["rows." + phase]))
    got = count_rows(con, os.path.join(run_dir, "source_copy." + ext), ext)
    if got != manifest["rows.source"]:
        problems.append("source copy: %s rows, expected %d" % (got, manifest["rows.source"]))

    # the last checkpoint holds exactly the rows no phase dropped
    dropped = {row for (_, row, etype, _) in expected if etype == "DROPPED_ROW"}
    last = os.path.join(run_dir, "%s_output.%s" % (phases[-1], ext))
    kept = {r[0] for r in con.sql("select cast(__graft_row_num__ as bigint) from %s"
                                  % relation(last, ext)).fetchall()}
    want = set(range(1, manifest["rows.source"] + 1)) - dropped
    if kept != want:
        problems.append("last checkpoint: %d row numbers differ from the expected survivors"
                        % len(kept ^ want))
    return problems


def relation(path, ext):
    if ext == "csv":
        return "read_csv('%s', header=true, all_varchar=true)" % path
    return "read_parquet('%s')" % (os.path.join(path, "*.parquet") if os.path.isdir(path) else path)


def count_rows(con, path, ext):
    if not os.path.exists(path):
        return None
    return con.sql("select count(*) from " + relation(path, ext)).fetchone()[0]


# ----------------------------------------------------------------- oracle

def check_oracle(data, oracle_dir):
    with open(os.path.join(oracle_dir, "oracle.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for table in ("lineitem", "documents"):
        path = os.path.join(data, table + ".parquet")
        if os.path.exists(path):
            con.sql("create view %s as select * from read_parquet('%s')" % (table, path))
    problems = []
    for name, o in oracles.items():
        try:
            want = con.sql(o["sql"]).fetchall()
            cols = [d[0] for d in con.sql(o["sql"]).description]
            spark = con.sql("select * from " + relation(o["result"], "parquet"))
            got_cols = [d[0] for d in spark.description]
            keep = o.get("columns") or got_cols
            if sorted(keep) != sorted(cols):
                problems.append("%s: columns %s, oracle has %s" % (name, keep, cols))
                continue
            got = con.sql("select %s from %s" % (", ".join('"%s"' % c for c in cols),
                                                 relation(o["result"], "parquet"))).fetchall()
            diff = compare(got, want)
            if diff:
                problems.append("%s: %s" % (name, diff))
        except Exception as e:  # a broken oracle or result is a failed check
            problems.append("%s: %s: %s" % (name, type(e).__name__, e))
    return problems


def canon(rows):
    return sorted(rows, key=lambda r: tuple(str(v) for v in r))


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return float(a) == float(b)
    return str(a) == str(b)


def compare(got, want):
    if len(got) != len(want):
        return "%d rows, oracle has %d" % (len(got), len(want))
    for g, w in zip(canon(got), canon(want)):
        if len(g) != len(w) or not all(same(x, y) for x, y in zip(g, w)):
            return "first differing row %r, oracle %r" % (g, w)
    return ""
