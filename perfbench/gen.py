"""Seeded input generators for the benchmark.

`catalog_tables` writes the ten catalog tables (TPC-H-ish star schema plus
events, documents and embeddings) with the column types and value
distributions of the repo's test tables, at a stated scale factor.

`report_landing` writes a landing stage of `key: value` report files for
the report-ingest workload: one directory per day, each holding new ERP
`*.TXT` files and ISU `*.zip` archives, and returns the generator's own
truth (records per file, key columns) that the correctness check uses.

The same seed gives byte-identical files.
"""
import hashlib
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Catalog scale: sf 0.01 is the test-tier correctness scale (lineitem 60k rows).
CATALOG_SF = 0.01

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _days(base, offsets):
    return (np.datetime64(base, "us") +
            offsets.astype("int64") * np.timedelta64(86_400_000_000, "us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def catalog_tables(out_dir, seed):
    """Write the catalog tables under `out_dir`; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    sf = CATALOG_SF
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda vals, n: pa.array(np.array(vals, dtype=object)[rng.integers(0, len(vals), n)])
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())

    _write(out_dir, "region", {"r_regionkey": i32(np.arange(5)), "r_name": REGIONS})
    _write(out_dir, "nation", {"n_nationkey": i32(np.arange(25)),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": i32(np.arange(25) % 5)})
    _write(out_dir, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(_days("1995-01-01", rng.integers(0, 2404, n_ord))),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(_days("1995-01-02", rng.integers(0, 2499, n_line)))})
    # events: a 30-day stream, ids in timestamp order
    gaps = rng.exponential(1.0, n_ev)
    span_us = 30 * 86_400_000_000
    offs = (np.cumsum(gaps) / gaps.sum() * span_us * n_ev / (n_ev + 1)).astype("int64")
    _write(out_dir, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, max(1, n_cust // 10), n_ev)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: 30-word vocabulary; 5 % are an earlier-drawn text plus " dup"
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_doc)]
    dups = rng.choice(n_doc, n_doc // 20, replace=False)
    bases = np.setdiff1d(np.arange(n_doc), dups)
    for d in dups:
        texts[d] = texts[bases[rng.integers(0, len(bases))]] + " dup"
    _write(out_dir, "documents", {
        "doc_id": i64(np.arange(n_doc)), "text": texts,
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": i64([len(t) for t in texts])})
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out_dir, "embeddings", {
        "vec_id": i64(np.arange(n_emb)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_emb))})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb}


# --- report landing -------------------------------------------------------

# Landing shape per day: ERP report files and ISU archives of report entries.
INGEST_DAYS = 4
ERP_FILES_PER_DAY = 16
ISU_ZIPS_PER_DAY = 2
ENTRIES_PER_ZIP = 8
# Shares of dirty input (per file for line endings / BOM / trailing junk,
# per block for the other two).
CRLF_SHARE, BOM_SHARE, UNTERMINATED_SHARE = 0.10, 0.05, 0.05
NO_COLON_SHARE, DUP_KEY_SHARE = 0.05, 0.05
ZIP_TIME = (2019, 8, 4, 13, 51, 30)


def _block(tag, rng, dup_key, no_colon):
    n = int(rng.integers(1, 40_000))
    lines = [("file", f"{tag}.csv"), ("tableNameFromFile", f"tbl_{tag}"),
             ("tableNameFromJson", f"tbl_json_{tag}"), ("headersFromJson", "a,b,c"),
             ("countHeadersFromJson", "3"), ("countHeadersFromFile", "3"),
             ("headersFromFile", "a,b,c"),
             ("equalsHeaders", "true" if rng.random() < 0.5 else "false"),
             ("fileDirectory", f"/landing/dir_{tag}"),
             ("filePath", f"hdfs://nn:8020/landing/raw/{tag}.csv"),
             ("fileSize", str(int(rng.integers(100, 10**6)))), ("fileValidSha", "OK"),
             ("fileColForSchema", "parquet"), ("fileTableName", f"official_{tag}"),
             ("fileColForPathTable", f"/landing/raw/official/{tag}"),
             ("fileAntColForCountColumns", "10"), ("fileAntColForCountRows", str(n)),
             ("fileColForCountColumns", "10"), ("fileColForCountRows", str(n + 7))]
    if dup_key:  # a repeated key: the last value wins
        lines.append(("fileColForCountRows", str(n + 11)))
    text = [f"{k}: {v}" for k, v in lines]
    if no_colon:
        text.insert(int(rng.integers(1, len(text))), "checked without separator")
    final = lines[-1][1]
    outcome = "FINISHED" if rng.random() < 0.9 else "FAILED"
    text.append(f"status: {outcome}")
    return text, (tag + ".csv", outcome, final)


def _block_counts(n_files, rng):
    """Blocks per file for one day's files: 1..12 in turn, shuffled, so a
    day holds the same number of records whatever the seed."""
    return rng.permutation(np.arange(n_files) % 12 + 1)


def _report(name, n_blocks, rng):
    """One report file's bytes plus the key tuples of its terminated blocks."""
    lines, keys = [], []
    for b in range(n_blocks):
        text, key = _block(f"{name}_{b}", rng, rng.random() < DUP_KEY_SHARE,
                           rng.random() < NO_COLON_SHARE)
        lines += text
        keys.append(key)
    if rng.random() < UNTERMINATED_SHARE:  # dropped by the parser: no status line
        lines += [f"file: {name}_open.csv", "fileSize: 1"]
    body = ("\r\n" if rng.random() < CRLF_SHARE else "\n").join(lines)
    if rng.random() < BOM_SHARE:
        body = "\ufeff" + body
    return body.encode("utf-8"), keys


def report_landing(stage_dir, seed):
    """Write day_NN/erp/*.TXT and day_NN/isu/*.zip under `stage_dir`.

    Returns the truth: per day, the new ERP and ISU records as
    (report id, ARCHIVO_PROCESADO, ESTADO_DEL_PROCESO, TOTAL_REGISTROS_OFICIAL)
    tuples, plus files and bytes added. The report id is the file's base name,
    or `archive.zip!entry` for an ISU entry, as RUTA_DE_REPORTE ends.
    """
    rng = np.random.default_rng([seed, 2])
    truth = []
    for day in range(1, INGEST_DAYS + 1):
        stamp = f"{day:02d}-08-2019T13_51_30"
        erp_dir = os.path.join(stage_dir, f"day_{day:02d}", "erp")
        isu_dir = os.path.join(stage_dir, f"day_{day:02d}", "isu")
        os.makedirs(erp_dir, exist_ok=True)
        os.makedirs(isu_dir, exist_ok=True)
        t = {"day": day, "erp": [], "isu": [], "files": 0, "bytes": 0}
        for i, n in enumerate(_block_counts(ERP_FILES_PER_DAY, rng)):
            name = f"ERP_{day:02d}_{i:04d}_PROCESSS[{stamp}].TXT"
            body, keys = _report(f"erp_{day:02d}_{i:04d}", n, rng)
            with open(os.path.join(erp_dir, name), "wb") as f:
                f.write(body)
            t["erp"] += [(name,) + k for k in keys]
            t["files"] += 1
            t["bytes"] += len(body)
        isu_blocks = iter(_block_counts(ISU_ZIPS_PER_DAY * ENTRIES_PER_ZIP, rng))
        for z in range(ISU_ZIPS_PER_DAY):
            zname = f"ISU_{day:02d}_{z:03d}.zip"
            zpath = os.path.join(isu_dir, zname)
            with zipfile.ZipFile(zpath, "w") as zf:
                for e in range(ENTRIES_PER_ZIP):
                    entry = f"ISU_{day:02d}_{z:03d}_{e:02d}_PROCESSS[{stamp}].TXT"
                    body, keys = _report(f"isu_{day:02d}_{z:03d}_{e:02d}", next(isu_blocks), rng)
                    zf.writestr(zipfile.ZipInfo(entry, ZIP_TIME), body,
                                compress_type=zipfile.ZIP_DEFLATED)
                    t["isu"] += [(f"{zname}!{entry}",) + k for k in keys]
            t["files"] += 1
            t["bytes"] += os.path.getsize(zpath)
        truth.append(t)
    return truth


def key_hash(rows):
    """Order-free hash of key tuples (report id, file, status, final count)."""
    return hashlib.md5("\n".join(sorted("\x01".join(map(str, r)) for r in rows))
                       .encode()).hexdigest()


def tree_digest(root):
    """md5 over every file's relative path and bytes under `root`."""
    h = hashlib.md5()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
