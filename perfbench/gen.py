"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical parquet files and the same expected counts. The engine
only ever sees the files these functions write.

- ``estate``: the analytics tables the declared query inventory reads
  (TPC-H-ish star schema plus ``events``, ``documents``, ``embeddings``).
- ``readings``: RuuviTag format-5 advertisements for the ETL pipeline,
  with a tag dimension, non-whitelisted sensors and truncated payloads.
- ``docs``: a history corpus and delta batches with planted near
  duplicates for the incremental dedup index.
"""
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the fast key order sort table scan merge part window small hash "
         "join spark group query row data slow filter customer line batch "
         "value a agg column big stream vector").split()
WINDOW_S = 1800


def _rng(seed, stream):
    # one independent stream per table, so resizing one table never
    # changes another table's rows
    return np.random.default_rng([seed, stream])


def _write(df, path, schema=None):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


# ---------------------------------------------------------------- estate

def estate(seed, out):
    """The analytics estate at the smallest testdata size (lineitem 6,000
    rows), one parquet file per table. Returns the row count per table."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_line = 150, 10, 200, 1500, 6000
    n_ev, n_doc, n_emb = 1000, 500, 500
    rows = {}

    def put(name, df, schema=None):
        _write(df, os.path.join(out, f"{name}.parquet"), schema)
        rows[name] = len(df)

    put("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    put("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))

    r = _rng(seed, 1)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]}))

    r = _rng(seed, 2)
    put("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}))

    r = _rng(seed, 3)
    adj = np.array("blue hot small old red new cold large".split())
    noun = np.array("bolt gear anvil widget ring rod plate gizmo".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    put("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj[r.integers(0, 8, n_part)],
                                             noun[r.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}))

    r = _rng(seed, 4)
    day0 = np.datetime64("1995-01-01", "us")
    us_day = np.timedelta64(86400 * 10**6, "us")
    odays = r.integers(0, 2404, n_ord)
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": day0 + odays * us_day,
        "o_orderpriority": prios[r.integers(0, 5, n_ord)]}))

    r = _rng(seed, 5)
    lok = r.integers(0, n_ord, n_line)
    qty = r.integers(1, 51, n_line).astype(np.float64)
    price = 900.0 + r.integers(0, 1000, n_line) * 0.1
    put("lineitem", pd.DataFrame({
        "l_orderkey": lok.astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        # (l_orderkey, l_linenumber) is unique, as in TPC-H
        "l_linenumber": (pd.Series(lok).groupby(lok).cumcount() + 1).to_numpy(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": day0 + (odays[lok] + r.integers(1, 122, n_line)) * us_day}))

    r = _rng(seed, 6)
    ev_us = np.sort(r.integers(0, 30 * 86400 * 10**6, n_ev))
    put("events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": r.integers(0, 150, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, n_ev)],
        "value": np.round(r.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}))

    r = _rng(seed, 7)
    texts = []
    for i in range(n_doc):
        if i >= 20 and r.random() < 0.1:  # near duplicate of an earlier doc
            t = texts[int(r.integers(0, i))] + " " + WORDS[int(r.integers(0, len(WORDS)))]
        else:
            t = _text(r, int(r.integers(10, 90)))
        texts.append(t)
    put("documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[r.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in r.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))

    r = _rng(seed, 8)
    labels = r.integers(0, 10, n_emb)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)}),
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))
    return rows


# -------------------------------------------------------------- readings

def _payloads(rng, n, truncated):
    """Format-5 payloads: tag 5, then temperature, humidity, pressure,
    accelerations, battery, movement counter, sequence, MAC. A truncated
    payload keeps only its first 20 bytes and decodes to nothing."""
    b = np.zeros((n, 24), dtype=np.uint8)
    b[:, 0] = 5

    def put16(col, vals):
        v = vals.astype(np.int64) & 0xFFFF
        b[:, col], b[:, col + 1] = v >> 8, v & 0xFF

    put16(1, rng.integers(-4000, 8000, n))      # temperature ×0.005 °C
    put16(3, rng.integers(8000, 36000, n))      # humidity ×0.0025 %
    put16(5, rng.integers(45000, 55000, n))     # pressure −50000 Pa
    put16(7, rng.integers(-1000, 1000, n))      # acceleration x
    put16(9, rng.integers(-1000, 1000, n))      # acceleration y
    put16(11, rng.integers(0, 2000, n))         # acceleration z
    b[:, 15] = rng.integers(0, 256, n)          # movement counter
    raw = b.tobytes()
    return [raw[i * 24:(i + 1) * 24 - (4 if truncated[i] else 0)] for i in range(n)]


def readings(seed, out, n, sensors=64, hours=24, truncated_share=0.02, files=6):
    """``n`` readings of ``sensors`` sensors over ``hours`` hours from
    2024-03-01, written as ``files`` parquet files under
    ``out/readings.parquet`` (so the scan splits across cores), with the tag
    dimension of the ¾ whitelisted sensors in ``out/tags.parquet``. Returns
    the expected pipeline output: the whitelisted valid reading count and
    the samples per (mac, window end in epoch seconds)."""
    os.makedirs(os.path.join(out, "readings.parquet"))
    r = _rng(seed, 11)
    macs = np.array([f"AA:BB:CC:00:{i // 256:02X}:{i % 256:02X}" for i in range(sensors)])
    white = np.arange(sensors) % 4 != 3
    sensor = r.integers(0, sensors, n)
    ts_us = np.sort(r.integers(0, hours * 3600 * 10**6, n))
    trunc = r.random(n) < truncated_share
    epoch0 = 1709251200  # 2024-03-01T00:00:00Z
    df = pd.DataFrame({
        "mac": macs[sensor],
        "ts": pd.to_datetime(epoch0 * 10**6 + ts_us, unit="us", utc=True)
              .astype("datetime64[us, UTC]"),
        "payload": _payloads(r, n, trunc)})
    for i, part in enumerate(np.array_split(np.arange(n), files)):
        _write(df.iloc[part], os.path.join(out, "readings.parquet", f"part-{i:05d}.parquet"))
    _write(pd.DataFrame({"mac": [m.lower() for m in macs[white]],  # the pipeline uppercases
                         "name": [f"sensor-{i:02d}" for i in range(white.sum())]}),
           os.path.join(out, "tags.parquet"))
    keep = white[sensor] & ~trunc
    end = ((epoch0 * 10**6 + ts_us[keep]) // (WINDOW_S * 10**6) + 1) * WINDOW_S
    counts = pd.Series(1, index=pd.MultiIndex.from_arrays([macs[sensor][keep], end])) \
        .groupby(level=[0, 1]).sum()
    return {"valid": int(keep.sum()),
            "windows": {f"{m}|{int(e)}": int(c) for (m, e), c in counts.items()}}


# ------------------------------------------------------------------ docs

def docs(seed, out, history, batches, batch_size, dup_share=0.2):
    """A history corpus (``doc_id % 5 != 4``) and ``batches`` delta
    batches of ``batch_size`` docs (``doc_id % 5 == 4``, ids increasing
    batch by batch). A ``dup_share`` of the delta docs repeat an earlier
    doc with one word appended: a planted near-duplicate pair. Writes
    ``out/history.parquet`` and ``out/delta.parquet`` (batch, doc_id,
    text); returns the planted pairs."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 31)
    hist_ids = [i for i in range(history * 5 // 4 + 5) if i % 5 != 4][:history]
    texts = {i: _text(r, int(r.integers(30, 80))) for i in hist_ids}
    first = hist_ids[-1] + 1
    delta_ids = [i for i in range(first, first + batches * batch_size * 5 + 5)
                 if i % 5 == 4][:batches * batch_size]
    planted, rows = [], []
    for k, i in enumerate(delta_ids):
        earlier = hist_ids + delta_ids[:k - k % batch_size]
        if r.random() < dup_share:
            src = earlier[int(r.integers(0, len(earlier)))]
            texts[i] = texts[src] + " " + WORDS[int(r.integers(0, len(WORDS)))]
            planted.append([i, src])
        else:
            texts[i] = _text(r, int(r.integers(30, 80)))
        rows.append((k // batch_size, i, texts[i]))
    _write(pd.DataFrame({"doc_id": np.array(hist_ids, dtype=np.int64),
                         "text": [texts[i] for i in hist_ids]}),
           os.path.join(out, "history.parquet"))
    _write(pd.DataFrame(rows, columns=["batch", "doc_id", "text"])
           .astype({"batch": np.int32, "doc_id": np.int64}),
           os.path.join(out, "delta.parquet"))
    return {"planted": planted}


def digest(path):
    """SHA-256 over every file under ``path``, in name order."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()

