"""Seeded input generators for the perfbench workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files (numpy's PCG64 stream plus pyarrow's deterministic
writer). Each landing file comes with a manifest entry that records the
planted answer -- proposed type per column, the planted diff reasons and
the ALTER statements they imply -- and the input size, so output checks
and throughput have a stated base.

  land_csv      pipe-delimited files that plant every branch of the
                type cascade (bool domain, `_id` lookalikes, int4/int8 at
                the +-2^31 edges, float8, dates, several timestamp
                formats, partial dates, the 240-character varchar
                threshold, pandas NA tokens, an all-null column)
  land_parquet  many small Parquet files, mostly numeric so the footer
                path decides them, plus a few string/timestamp columns
                that still need the scan
  gate tables   the ten star-schema tables the gate queries read
                (region .. embeddings), at about 0.1 scale; fixed seed
"""
import csv
import io
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = "perfbench"
NA_TOKENS = ["", "NULL", "N/A", "NaN", "nan", "None", "#N/A", "<NA>", "n/a",
             "null", "NA"]

# Deployed-side spelling per proposed type: `same` keeps the diff class,
# `other` changes it (TYPE MISMATCH).
SAME_CLASS = {
    "bool": "boolean", "int4": "integer", "int8": "bigint",
    "float8": "double precision", "date": "date",
    "timestamp": "timestamp without time zone",
    "varchar(256)": "character varying(256)",
    "varchar(65535)": "character varying(65535)",
}
OTHER_CLASS = {
    "bool": "smallint", "int4": "bigint", "int8": "integer",
    "float8": "real", "date": "timestamp", "timestamp": "date",
    "varchar(256)": "varchar(65535)", "varchar(65535)": "varchar(256)",
}


def _rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


def _words(rng, n, lo, hi):
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz     "))
    lens = rng.integers(lo, hi + 1, n)
    chars = rng.choice(alphabet, size=(n, hi))
    out = []
    for row, k in zip(chars, lens):
        s = "".join(row[:k]).strip()
        out.append("w" + s if not s else s)
    return out


def _fmt_ts(epoch_s: np.ndarray, fmt: str):
    return [pd.Timestamp(int(x), unit="s").strftime(fmt) for x in epoch_s]


def _with_na(rng, vals, share=0.03):
    """Replace a share of cells with pandas NA tokens (read as null)."""
    vals = list(vals)
    idx = rng.choice(len(vals), int(len(vals) * share), replace=False)
    toks = rng.choice(np.array(NA_TOKENS, dtype=object), len(idx))
    for i, t in zip(idx, toks):
        vals[i] = t
    return vals


def land_csv_columns(rng, rows):
    """(name, planted proposed type, string values) per column."""
    base = int(pd.Timestamp("2019-01-01").timestamp())
    days = rng.integers(0, 2000, rows) * 86400
    secs = base + days + rng.integers(1, 86400, rows)
    bools = np.array(["true", "false", "t", "f", "TRUE", "F", "0", "1"])
    edge_lo = rng.integers(-2**31, 2**31, rows)
    edge_lo[0], edge_lo[1] = -2**31, 2**31 - 1
    edge_hi = rng.integers(-2**31, 2**31, rows)
    edge_hi[rows // 2] = 2**31
    short = _words(rng, rows, 3, 40)
    long_ = _words(rng, rows, 3, 60)
    n240 = list(_words(rng, rows, 3, 60))
    n240[3] = ("x" * 239) + "y"
    long_[rows // 3] = "z" * 241
    months = np.array(["March", "2024-03", "12:30", "Jan 2020", "2021-13-45"])
    partial = _fmt_ts(base + days, "%Y-%m-%d")
    partial[rows // 4] = str(rng.choice(months))
    amount = np.round(rng.uniform(-5000, 5000, rows), 2)
    amount[0] = 0.5
    return [
        ("flag", "bool", _with_na(rng, rng.choice(bools, rows))),
        ("flag_id", "int4", [str(x) for x in rng.integers(0, 2, rows)]),
        ("user_id", "int4", [str(x) for x in rng.integers(0, 10**6, rows)]),
        ("qty", "int4", _with_na(rng, rng.integers(-500, 500, rows).astype(str))),
        ("padded_code", "int4",
         ["%05d" % x for x in rng.integers(0, 99999, rows)]),
        ("edge_lo", "int4", edge_lo.astype(str).tolist()),
        ("edge_hi", "int8", edge_hi.astype(str).tolist()),
        ("big_count", "int8",
         rng.integers(2**31, 2**40, rows).astype(str).tolist()),
        ("amount", "float8", _with_na(rng, amount.astype(str))),
        ("ship_date", "date", _fmt_ts(base + days, "%Y-%m-%d")),
        ("midnight_ts", "date", _fmt_ts(base + days, "%Y/%m/%d 00:00:00")),
        ("created_at", "timestamp", _fmt_ts(secs, "%Y-%m-%d %H:%M:%S")),
        ("iso_ts", "timestamp", _fmt_ts(secs, "%Y-%m-%dT%H:%M:%S")),
        ("us_ts", "timestamp",
         _with_na(rng, _fmt_ts(secs, "%m/%d/%Y %H:%M"))),
        ("partial_date", "varchar(256)", partial),
        ("name", "varchar(256)", _with_na(rng, short)),
        ("note_240", "varchar(256)", n240),
        ("note_241", "varchar(65535)", long_),
        ("all_na", "notype",
         rng.choice(np.array(NA_TOKENS, dtype=object), rows).tolist()),
        ("dotted.name", "varchar(256)",
         rng.choice(np.array(["x", "y", "z"]), rows).tolist()),
    ]


def _plant_deployed(rng, cols):
    """Deployed side and the diff it must produce.

    Of the non-notype columns: a third stay in class (no diff row), a
    third change class (TYPE MISMATCH), the rest are absent (MISSING);
    two extra deployed columns are DEPRECATED."""
    fields = [(f, t) for f, t in cols if t != "notype"]
    order = rng.permutation(len(fields))
    deployed, diffs = [], []
    for k, i in enumerate(order):
        f, t = fields[i]
        if k % 3 == 0:
            deployed.append([f, SAME_CLASS[t]])
        elif k % 3 == 1:
            deployed.append([f, OTHER_CLASS[t]])
            diffs.append([f, t, OTHER_CLASS[t], "TYPE MISMATCH"])
        else:
            diffs.append([f, t, None, "MISSING"])
    for j in range(2):
        deployed.append([f"retired_{j}", "varchar(256)"])
        diffs.append([f"retired_{j}", None, "varchar(256)", "DEPRECATED"])
    return deployed, diffs


def table_ddl(table, cols):
    """The CREATE TABLE text the facade must emit for `cols`."""
    lines = "\n".join(("" if i == 0 else ", ") + f'"{f}" '
                      + ("varchar(256)" if t == "notype" else t)
                      for i, (f, t) in enumerate(cols))
    return f"CREATE TABLE {SCHEMA}.{table} (\n{lines}\n)\nDISTSTYLE EVEN\n"


def column_ddl(table, diffs):
    """ALTER lines, sorted: the facade's row order is not part of its
    contract."""
    return sorted(f"ALTER TABLE {SCHEMA}.{table} ADD COLUMN {f} {t};"
                  for f, t, _, r in diffs if r == "MISSING")


def _entry(path, table, cols, rows, rng):
    deployed, diffs = _plant_deployed(rng, cols)
    return {
        "path": str(path), "table": table, "rows": rows,
        "bytes": path.stat().st_size,
        "columns": [[f, t] for f, t in cols],
        "deployed": deployed,
        "diffs": sorted(diffs, key=lambda d: d[0]),
        "table_ddl": table_ddl(table, cols),
        "column_ddl": column_ddl(table, diffs),
    }


def gen_land_csv(out: Path, seed: int, files: int, rows: int):
    out.mkdir(parents=True, exist_ok=True)
    manifest = []
    for i in range(files):
        rng = _rng(seed, 100 + i)
        spec = land_csv_columns(rng, rows)
        buf = io.StringIO()
        w = csv.writer(buf, delimiter="|", quotechar='"',
                       lineterminator="\n")
        w.writerow([f for f, _, _ in spec])
        w.writerows(zip(*[v for _, _, v in spec]))
        path = out / f"land_{i:02d}.csv"
        path.write_text(buf.getvalue())
        cols = [(f.replace(".", "_"), t) for f, t, _ in spec]
        manifest.append(_entry(path, f"land_csv_{i:02d}", cols, rows, rng))
    return manifest


def land_parquet_table(rng, rows):
    """(pyarrow table, planted types, footer-decided column names)."""
    base = int(pd.Timestamp("2020-01-01").timestamp())
    i64 = rng.integers(-2**31, 2**31, rows)
    i64[rows // 2] = 2**31 + 7
    price = np.round(rng.uniform(1, 1000, rows), 2)
    price[0] = 1.25
    whole = rng.integers(0, 100, rows).astype(np.float64)
    ts = base + rng.integers(0, 10**7, rows)
    cols = [
        ("order_id", pa.array(rng.integers(0, 2**31 - 1, rows), pa.int64()),
         "int4", True),
        ("line_no", pa.array(rng.integers(1, 8, rows), pa.int32()),
         "int4", True),
        ("is_open", pa.array(rng.integers(0, 2, rows), pa.int32()),
         "bool", True),
        ("open_id", pa.array(rng.integers(0, 2, rows), pa.int64()),
         "int4", True),
        ("wide_key", pa.array(i64, pa.int64()), "int8", True),
        ("qty", pa.array(rng.integers(-1000, 1000, rows), pa.int32()),
         "int4", True),
        ("price", pa.array(price), "float8", True),
        ("tax", pa.array(np.round(rng.uniform(0, 0.2, rows), 3) + 0.0005),
         "float8", True),
        ("whole_double", pa.array(whole), "int4", False),
        ("status", pa.array(rng.choice(np.array(["O", "F", "P"]), rows)),
         "varchar(256)", False),
        ("shipped_at", pa.array(pd.to_datetime(ts, unit="s").values
                                .astype("datetime64[us]")),
         "timestamp", False),
        ("ship_day", pa.array(pd.to_datetime(ts - ts % 86400, unit="s")
                              .values.astype("datetime64[us]")),
         "date", False),
    ]
    table = pa.table({n: a for n, a, _, _ in cols})
    return (table, [(n, t) for n, _, t, _ in cols],
            [n for n, _, _, f in cols if f])


def gen_land_parquet(out: Path, seed: int, files: int, rows: int):
    out.mkdir(parents=True, exist_ok=True)
    manifest = []
    for i in range(files):
        rng = _rng(seed, 500 + i)
        table, cols, footer = land_parquet_table(rng, rows)
        path = out / f"land_{i:02d}.parquet"
        pq.write_table(table, path, row_group_size=rows)
        e = _entry(path, f"land_parquet_{i:02d}", cols, rows, rng)
        e["footer_decided"] = footer
        manifest.append(e)
    return manifest


# ---- gate tables -------------------------------------------------------

GATE_SEED = 42
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _write(df: pd.DataFrame, path: Path):
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def gen_gate_tables(out: Path, scale: float = 0.1):
    """The star schema the gate queries read, written like the reference
    test data (pandas -> pyarrow, one row group, naive microsecond
    timestamps). Columns are independent draws with the reference
    data's domains and ranges."""
    out.mkdir(parents=True, exist_ok=True)
    rng = _rng(GATE_SEED, 0)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), \
        int(200000 * scale)
    n_ord, n_li = int(1500000 * scale), int(6000000 * scale)
    n_ev, n_doc, n_emb = int(1000000 * scale), int(50000 * scale), \
        int(20000 * scale)
    day = np.timedelta64(1, "D")

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        out / "region.parquet")
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        out / "nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(segs, n_cust)}), out / "customer.parquet")
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        out / "supplier.parquet")
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(types, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)}),
        out / "part.parquet")
    d0 = np.datetime64("1995-01-01", "us")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": d0 + rng.integers(0, 2405, n_ord) * day,
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            n_ord)}), out / "orders.parquet")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": d0 + (1 + rng.integers(0, 2499, n_li)) * day}),
        out / "lineitem.parquet")
    gaps = rng.exponential(25.9e6, n_ev).astype(np.int64) + 1
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps)
        .astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": rng.choice(np.array(
            ["click", "error", "purchase", "signup", "view"]), n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        out / "events.parquet")
    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, k))
             for k in rng.integers(10, 101, n_doc)]
    # near duplicates (a copy plus a marker word) and a few exact copies
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n_doc), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    langs = rng.choice(np.array(["en", "de", "es", "fr", "zh"]), n_doc,
                       p=[0.41, 0.14, 0.15, 0.15, 0.15])
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": langs, "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        out / "documents.parquet")
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        out / "embeddings.parquet")

