"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed writes
byte-identical inputs. The program under test only ever sees the files
written here, never the expectations.

  tebis_corpus  wide TEBIS CSV files + a half-covering catalog + the
                expected lake/catalog contents (hist_wide)
  tables        the parquet tables the query suite reads (llm_suite)
  land          the open-loop lander for live_trickle, run as its own
                process: python3 gen.py land <args>
"""
import json
import os
import random
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

AUTO_DESCRIPTION = "Auto-generated time series, external ID not found"
UNIT_CELLS = ["bar", "°C", "barA", "mA", "h", "G", ""]  # latin-1 on disk
BAD_CELLS = ["", "n/a", "1,2,3", " ", "--"]  # each dropped by the parser


# ---------------------------------------------------------------- TEBIS

def _cell(milli):
    """A value in the TEBIS comma-decimal form; `milli` is value * 1000."""
    sign = "-" if milli < 0 else ""
    m = abs(milli)
    return f"{sign}{m // 1000},{m % 1000:03d}"


def _write_tebis(path, header, units, rows):
    lines = [";".join([""] + header), ";".join(["Zeitstempel"] + units)]
    lines += [";".join(r) for r in rows]
    with open(path, "w", encoding="latin-1", newline="") as f:
        f.write("\n".join(lines) + "\n")


def tebis_file(rng, path, ts0, step, n_rows, series, *, varied, fatal):
    """Write one wide file and return its expectation.

    `series` is a list of (externalId, name). With `varied`, a few cells
    are empty or unparsable and one header cell is duplicated (the parser
    keeps the LAST duplicate's values). With `fatal`, one timestamp is not
    an integer, so the whole file must be dead-lettered; its first column
    is kept clean so the series the parser had seen before failing is
    exactly that first one.

    Returns {"headers": [(id, name, colIndex)], "points": {id: [n, milliSum]}}.
    """
    header = [f"{eid} : {name}" for eid, name in series]
    units = [rng.choice(UNIT_CELLS) for _ in series]
    n_cols = len(series)
    values = [[rng.randint(-50000, 950000) for _ in range(n_cols)] for _ in range(n_rows)]
    cells = [[_cell(v) for v in row] for row in values]
    ok = [[True] * n_cols for _ in range(n_rows)]
    if varied:
        for _ in range(max(1, n_rows * n_cols // 200)):
            r, c = rng.randrange(n_rows), rng.randrange(1, n_cols)
            cells[r][c] = rng.choice(BAD_CELLS)
            ok[r][c] = False
        # duplicate header: column d repeats column 1's header cell
        d = n_cols - 1
        header[d] = header[1]
    stamps = [str(ts0 + i * step) for i in range(n_rows)]
    if fatal:
        bad = rng.randrange(n_rows // 2, n_rows)
        stamps[bad] = stamps[bad] + "x"
        for r in range(n_rows):
            cells[r][0] = _cell(values[r][0])
            ok[r][0] = True
    _write_tebis(path, header, units, [[stamps[r]] + cells[r] for r in range(n_rows)])

    # expectation, mirroring csv.DictReader: unique header keys in first
    # occurrence order; a duplicated key carries its LAST column's cells
    last_col = {}
    for c, h in enumerate(header):
        last_col[h] = c
    keys = list(dict.fromkeys(header))
    headers, points = [], {}
    for ci, h in enumerate(keys):
        eid, name = h.rsplit(":", 1)
        eid, name = eid.strip(), name.strip()
        headers.append((eid, name, ci))
        c = last_col[h]
        kept = [values[r][c] for r in range(n_rows) if ok[r][c]]
        points[eid] = [len(kept), sum(kept)]
    if fatal:
        headers = headers[:1]
        points = {}
    return {"headers": headers, "points": points}


def tebis_corpus(out, seed, n_files=16, n_series=120, n_rows=1440, pool=360,
                 n_varied=4, n_fatal=2, step=10):
    """The hist_wide corpus under `out`: input/ (the files), catalog/ (a
    pre-seeded catalog holding half of the series pool) and expect.json.

    Files cover disjoint, consecutive time ranges, so a lake row maps back
    to the file it came from by its timestamp alone."""
    rng = random.Random(seed)
    inp = os.path.join(out, "input")
    os.makedirs(inp, exist_ok=True)
    ids = [f"{rng.randrange(10**6):06d}-{k}" for k in range(pool)]
    names = {eid: f"TAG{k}_{rng.choice('ABCDEFGH')}" for k, eid in enumerate(ids)}
    base = 1_550_000_000 + rng.randrange(0, 86_400)
    span = n_rows * step
    kinds = ["ok"] * (n_files - n_varied - n_fatal) + ["varied"] * n_varied + ["fatal"] * n_fatal
    rng.shuffle(kinds)
    files, catalog_order = [], []
    for i, kind in enumerate(kinds):
        ts0 = base + i * span
        series = [(eid, names[eid]) for eid in rng.sample(ids, n_series)]
        if i % 5 == 4:  # a later file renames a series: first-wins keeps the old name
            series[2] = (series[2][0], series[2][1] + "_renamed")
        name = f"TEBIS_P{i % 3}_{ts0 + span - step}.csv"
        e = tebis_file(rng, os.path.join(inp, name), ts0, step, n_rows, series,
                       varied=kind == "varied", fatal=kind == "fatal")
        files.append({"name": name, "ts0": ts0, "fatal": kind == "fatal", "points": e["points"]})
        catalog_order.append(e["headers"])
    seeded = sorted(rng.sample(ids, pool // 2))
    catalog = {eid: (names[eid], "seeded") for eid in seeded}
    pq.write_table(pa.table({
        "externalId": seeded,
        "name": [names[e] for e in seeded],
        "description": ["seeded"] * len(seeded)}),
        os.path.join(out, "catalog.parquet"))
    # discovery order is the filename epoch token, i.e. file index order
    for headers in catalog_order:
        for eid, name, _ in headers:
            catalog.setdefault(eid, (name, AUTO_DESCRIPTION))
    expect = {"step": step, "span": span, "base": base, "files": files,
              "catalog": {k: list(v) for k, v in catalog.items()},
              "points": sum(n for f in files for n, _ in f["points"].values())}
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    return expect


# ---------------------------------------------------------------- tables

_WORDS = ("join hash row batch scan customer column filter small slow merge order "
          "vector line data table agg value key stream window spark a group part "
          "big sort query fast the").split()
_ADJ = "small red blue hot old large cold new".split()
_NOUN = "ring widget bolt gear gizmo rod plate anvil".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENTS = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "zh", "de", "es", "fr"]


def _days(rng, lo, hi, n):
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype(int)) + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, seed, sf):
    """The ten parquet tables of the query suite at scale factor `sf`,
    with the same schemas, key ranges and value distributions as the
    suite's reference data (TPC-H-like star + events, documents with ~5%
    near duplicates, 64-d unit embeddings with 10 labels)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    gaps = rng.exponential(1.0, n_ev)
    ts_us = (np.cumsum(gaps) / gaps.sum() * 30 * 86400e6).astype(np.int64)
    write("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(150, int(1500 * sf)), n_ev), i64),
        "event_type": rng.choice(_EVENTS, n_ev),
        "value": np.round(np.clip(rng.exponential(50, n_ev), 0.01, 490.02), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(_WORDS, rng.integers(10, 100))) for _ in range(n_doc)]
    for j in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[j] = texts[int(rng.integers(0, n_doc))] + " dup"
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


# ---------------------------------------------------------------- lander

def land(inp, staging, seed, start_at, n_files, rate, log_path, drain_s):
    """Open-loop lander: file k lands (atomic rename into `inp`, its mtime
    set to the landing time) at `start_at + k / rate` on the wall clock,
    whatever the system under test is doing, and each landing and each
    disappearance (the program's delete-as-commit) is stamped. Writes the log as JSON and exits once
    every file is gone or `drain_s` after the last landing."""
    rng = random.Random(seed)
    os.makedirs(staging, exist_ok=True)
    base = 1_600_000_000 + rng.randrange(0, 86_400)
    rows, step = 60, 1
    staged = []
    for k in range(n_files):
        ts0 = base + k * rows * step
        name = f"TEBIS_LIVE_{ts0 + (rows - 1) * step}.csv"
        series = [(f"L{rng.randrange(10**5):05d}-{c}", f"LIVE{c}") for c in range(20)]
        e = tebis_file(rng, os.path.join(staging, name), ts0, step, rows, series,
                       varied=False, fatal=False)
        staged.append({"name": name, "ts0": ts0, "points": e["points"]})
    landed, due, gone = {}, {}, {}
    late_max, backlog_max = 0.0, 0
    k = 0
    pending = set()
    deadline = None
    while True:
        now = time.time()
        if k < n_files and now >= start_at + k / rate:
            f = staged[k]
            src = os.path.join(staging, f["name"])
            # a landed file is as new as its landing, as when a writer
            # creates it: the program's settle wait applies to it
            os.utime(src)
            os.rename(src, os.path.join(inp, f["name"]))
            t = time.time()
            landed[f["name"]] = t
            due[f["name"]] = start_at + k / rate
            late_max = max(late_max, t - (start_at + k / rate))
            pending.add(f["name"])
            backlog_max = max(backlog_max, len(pending))
            k += 1
            if k == n_files:
                deadline = t + drain_s
            continue
        for name in list(pending):
            if not os.path.exists(os.path.join(inp, name)):
                gone[name] = now
                pending.discard(name)
        if k == n_files and (not pending or now > deadline):
            break
        time.sleep(0.01)
    with open(log_path, "w") as f:
        json.dump({"step": step, "rows": rows, "files": staged, "landed": landed,
                   "due": due, "gone": gone, "end": time.time(), "late_max_s": late_max,
                   "backlog_max": backlog_max}, f)


if __name__ == "__main__":
    cmd = sys.argv[1]
    if cmd == "land":
        inp, staging, seed, start_at, n_files, rate, log_path, drain_s = sys.argv[2:10]
        land(inp, staging, int(seed), float(start_at), int(n_files), float(rate), log_path,
             float(drain_s))
    else:
        raise SystemExit(f"unknown command {cmd}")
