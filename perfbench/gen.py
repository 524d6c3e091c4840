"""Seeded input generator for the pipeline benchmark.

Every input the program sees is made here from `--seed`; the same seed gives
byte-identical files. For the two generated pipeline workloads the generator
also writes the manifest the run is checked against: because each row carries
at most one dirty cell, the generator alone knows which rows must raise which
WARNING / DROPPED_ROW event in which (phase, step), and how many rows survive
each phase.

Files written into the data dir:
  manifest.json        expected counts (and sizes) for the workload
  manifest.properties  the same counts, flat, for the JVM side
  expected_events.tsv  phase, row, etype, step of every expected row event
  <source files>       parquet / csv inputs
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. Chosen so one steady-state run takes one to a few seconds on
# four cores, which lets a 10-second measurement window hold several runs.
VALIDATE_ROWS = 8_000
CSV_ROWS = 20_000
CURATION_DOCS = 2_000
REGISTRY_LINEITEM_ROWS = 30_000
REGISTRY_DOCS = 800

DIRTY_ROW_SHARE = 0.32      # ~2% of the 16 cells, at most one per row
CSV_DIRTY_ROW_SHARE = 0.05

VOCAB = ("key agg row scan slow fast table value part hash merge batch spark a "
         "the line sort window order data column join small customer query "
         "big stream filter group vector").split()
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
SHIP_INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
SHIP_MODE = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
EPOCH = dt.date(1992, 1, 2)

# validate_wide: declared columns of the Validate phase, in order, with their
# type and error policy. The other 10 of the 16 columns are not declared.
VALIDATE_COLUMNS = [
    ("l_orderkey", "int", "drop"),
    ("l_partkey", "int", "warn"),
    ("l_suppkey", "int", "warn"),
    ("l_linenumber", "int", "drop"),
    ("l_quantity", "float", "drop"),
    ("l_extendedprice", "float", "warn"),
]
# Enrich's warning steps, each on a clean typed value: (step, column, limit).
# Together they fire ~1.9 times per surviving row, so the phase raises more
# than Context.maxCollected (10,000) events and the drain's collect cap is hit.
ENRICH_WARNINGS = [("large_quantity", "l_quantity", 20.0),
                   ("high_discount", "l_discount", 0.04),
                   ("slow_receipt", "receipt_lag", 10.0)]

# csv_phases: declared columns of the Types phase (all Warn, no DropRow).
CSV_TYPED = [("l_orderkey", "int"), ("l_quantity", "float"),
             ("l_extendedprice", "float"), ("l_shipdate", "date")]
CSV_FLAG_QUANTITY = 45.0  # Flag phase warns above this quantity
CSV_PHASES = ["Types", "Derive", "Filter", "Flag", "Label", "Summary"]


def lineitem(rng, n):
    """TPC-H-shaped lineitem rows as numpy columns."""
    lines_per_order = rng.integers(1, 8, size=n)  # at most n orders
    orderkey = np.repeat(np.arange(1, n + 1), lines_per_order)[:n]
    start = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    linenumber = np.arange(n) - np.repeat(start, np.diff(np.r_[start, n])) + 1
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2000.0, size=n), 2)
    ship = rng.integers(0, 2526, size=n)
    return {
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(1, 20_001, size=n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, size=n).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, size=n)],
        "ship_days": ship,
        "commit_days": ship + rng.integers(-30, 31, size=n),
        "receipt_days": ship + rng.integers(1, 31, size=n),
        "l_shipinstruct": np.array(SHIP_INSTRUCT)[rng.integers(0, 4, size=n)],
        "l_shipmode": np.array(SHIP_MODE)[rng.integers(0, 7, size=n)],
    }


def day_str(days):
    return [(EPOCH + dt.timedelta(days=int(d))).isoformat() for d in days]


def fmt_float(values):
    return [repr(float(v)) for v in values]


def dirty_value(kind, rng):
    """A value that fails exactly one check of a column of this kind."""
    return {
        "int": "x" + str(int(rng.integers(0, 1000))),
        "float": "1.2.3",
        "date": "not-a-date",
    }[kind]


def comments(rng, n):
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=(n, 4))]
    return [" ".join(w) for w in words]


def write_parquet(path, columns):
    pq.write_table(pa.table(columns), path)


def typed_lineitem_table(li):
    """The registry queries' `lineitem` table (same physical types as the
    repository's TPC-H-style test tables: naive microsecond timestamps)."""
    ship = np.array([np.datetime64(EPOCH) + np.timedelta64(int(d), "D")
                     for d in li["ship_days"]]).astype("datetime64[us]")
    cols = {k: li[k] for k in ("l_orderkey", "l_partkey", "l_suppkey",
                               "l_linenumber", "l_quantity", "l_extendedprice",
                               "l_discount", "l_tax", "l_returnflag",
                               "l_linestatus")}
    cols["l_shipdate"] = pa.array(ship, type=pa.timestamp("us"))
    return cols


def documents(rng, n):
    """Token documents with exact and near duplicates (near = one trailing
    word appended or removed, so shingle Jaccard stays >= 0.95 and the LSH
    recall question never gets close to its threshold)."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and r < 0.16:
            base = texts[int(rng.integers(0, i))].split()
            if len(base) > 40 and rng.random() < 0.5:
                base = base[:-1]
            else:
                base = base + [VOCAB[int(rng.integers(0, len(VOCAB)))]]
            texts.append(" ".join(base))
        else:
            length = int(rng.integers(2, 5)) if r > 0.97 else int(rng.integers(20, 90))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), size=length)]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[int(k)] for k in rng.integers(0, len(LANGS), size=n)],
        "source": ["src%d" % int(k) for k in rng.integers(0, 20, size=n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def gen_validate_wide(rng, out):
    n = VALIDATE_ROWS
    li = lineitem(rng, n)
    clean = {
        "l_orderkey": [str(v) for v in li["l_orderkey"]],
        "l_partkey": [str(v) for v in li["l_partkey"]],
        "l_suppkey": [str(v) for v in li["l_suppkey"]],
        "l_linenumber": [str(v) for v in li["l_linenumber"]],
        "l_quantity": fmt_float(li["l_quantity"]),
        "l_extendedprice": fmt_float(li["l_extendedprice"]),
        "l_discount": fmt_float(li["l_discount"]),
        "l_tax": fmt_float(li["l_tax"]),
        "l_returnflag": list(li["l_returnflag"]),
        "l_linestatus": list(li["l_linestatus"]),
        "l_shipdate": day_str(li["ship_days"]),
        "l_commitdate": day_str(li["commit_days"]),
        "l_receiptdate": day_str(li["receipt_days"]),
        "l_shipinstruct": list(li["l_shipinstruct"]),
        "l_shipmode": list(li["l_shipmode"]),
        "l_comment": comments(rng, n),
    }
    dirty_rows = rng.random(n) < DIRTY_ROW_SHARE
    dirty_col = rng.integers(0, len(VALIDATE_COLUMNS), size=n)
    events = []          # (phase, row, etype, step)
    dirty_at = {}        # row index -> dirty column name
    for i in np.flatnonzero(dirty_rows):
        name, kind, policy = VALIDATE_COLUMNS[dirty_col[i]]
        clean[name][i] = dirty_value(kind, rng)
        dirty_at[i] = name
        events.append(("Validate", i + 1,
                       "DROPPED_ROW" if policy == "drop" else "WARNING",
                       "cast_and_check:" + name))
    dropped_cols = {c for c, _, p in VALIDATE_COLUMNS if p == "drop"}
    survivors = [i for i in range(n) if dirty_at.get(i) not in dropped_cols]
    enrich_survivors = 0
    typed = dict(li, receipt_lag=li["receipt_days"] - li["ship_days"])
    for i in survivors:
        bad = dirty_at.get(i)
        # a dirty Warn cell holds null after Validate: no step fires on it
        if bad != "l_tax" and li["l_tax"][i] == 0.0:
            events.append(("Enrich", i + 1, "DROPPED_ROW", "zero_tax"))
            continue
        enrich_survivors += 1
        for step, column, limit in ENRICH_WARNINGS:
            if bad != column and typed[column][i] >= limit:
                events.append(("Enrich", i + 1, "WARNING", step))
    write_parquet(os.path.join(out, "lineitem_wide.parquet"), clean)
    manifest = {
        "source": "lineitem_wide.parquet",
        "rows.source": n,
        "phases": ["Validate", "Enrich"],
        "rows.Validate": len(survivors),
        "rows.Enrich": enrich_survivors,
        # undeclared fields Enrich adds: one consistency WARNING each
        "driver_events.Enrich": 3,
        "events_checked": 1,
        "declared_columns": len(VALIDATE_COLUMNS),
    }
    return manifest, events


def gen_csv_phases(rng, out):
    n = CSV_ROWS
    li = lineitem(rng, n)
    cols = {
        "l_orderkey": [str(v) for v in li["l_orderkey"]],
        "l_linenumber": [str(v) for v in li["l_linenumber"]],
        "l_quantity": fmt_float(li["l_quantity"]),
        "l_extendedprice": fmt_float(li["l_extendedprice"]),
        "l_discount": fmt_float(li["l_discount"]),
        "l_returnflag": list(li["l_returnflag"]),
        "l_shipdate": day_str(li["ship_days"]),
        "l_comment": comments(rng, n),
    }
    kinds = dict(CSV_TYPED)
    dirty_at = {}
    events = []
    for i in np.flatnonzero(rng.random(n) < CSV_DIRTY_ROW_SHARE):
        name = CSV_TYPED[int(rng.integers(0, len(CSV_TYPED)))][0]
        cols[name][i] = dirty_value(kinds[name], rng)
        dirty_at[i] = name
        events.append(("Types", i + 1, "WARNING", "cast_and_check:" + name))
    kept = []
    for i in range(n):
        if li["l_linenumber"][i] == 7:
            events.append(("Filter", i + 1, "DROPPED_ROW", "drop_line_7"))
        else:
            kept.append(i)
    flag_counts = {}
    for i in kept:
        if dirty_at.get(i) != "l_quantity" and li["l_quantity"][i] > CSV_FLAG_QUANTITY:
            events.append(("Flag", i + 1, "WARNING", "large_quantity"))
        f = str(li["l_returnflag"][i])
        flag_counts[f] = flag_counts.get(f, 0) + 1
    path = os.path.join(out, "lineitem.csv")
    with open(path, "w", encoding="utf-8") as f:
        names = list(cols)
        f.write(",".join(names) + "\n")
        for i in range(n):
            f.write(",".join(cols[c][i] for c in names) + "\n")
    manifest = {
        "source": "lineitem.csv",
        "rows.source": n,
        "phases": [p for p in CSV_PHASES],
        "rows.Types": n, "rows.Derive": n, "rows.Filter": len(kept),
        "rows.Flag": len(kept), "rows.Label": len(kept), "rows.Summary": len(kept),
        "driver_events.Derive": 1, "driver_events.Label": 1,
        "events_checked": 1,
        "diff.added": 0, "diff.removed": n - len(kept),
        "diff.changed": len(kept), "diff.unchanged": 0,
        "declared_columns": len(CSV_TYPED),
    }
    for k, v in sorted(flag_counts.items()):
        manifest["summary." + k] = v
    return manifest, events


def gen_curation_dedup(rng, out):
    write_parquet(os.path.join(out, "documents.parquet"), documents(rng, CURATION_DOCS))
    return {"source": "documents.parquet", "rows.source": CURATION_DOCS,
            "declared_columns": 0}, []


def gen_registry_queries(rng, out):
    li = lineitem(rng, REGISTRY_LINEITEM_ROWS)
    write_parquet(os.path.join(out, "lineitem.parquet"), typed_lineitem_table(li))
    write_parquet(os.path.join(out, "documents.parquet"), documents(rng, REGISTRY_DOCS))
    return {"source": "lineitem.parquet", "rows.lineitem": REGISTRY_LINEITEM_ROWS,
            "rows.documents": REGISTRY_DOCS, "declared_columns": 5}, []


GENERATORS = {
    "validate_wide": gen_validate_wide,
    "csv_phases": gen_csv_phases,
    "curation_dedup": gen_curation_dedup,
    "registry_queries": gen_registry_queries,
}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    manifest, events = GENERATORS[workload](rng, out)
    counts = {}
    for phase, _, etype, step in events:
        key = "events.%s.%s.%s" % (phase, etype, step)
        counts[key] = counts.get(key, 0) + 1
    manifest.update(sorted(counts.items()))
    manifest["workload"] = workload
    manifest["seed"] = seed
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    with open(os.path.join(out, "manifest.properties"), "w") as f:
        for k, v in sorted(manifest.items()):
            if isinstance(v, list):
                v = ",".join(v)
            f.write("%s=%s\n" % (k.replace(":", "\\:").replace("=", "\\="), v))
    with open(os.path.join(out, "expected_events.tsv"), "w") as f:
        for phase, row, etype, step in events:
            f.write("%s\t%d\t%s\t%s\n" % (phase, row, etype, step))
    return manifest
