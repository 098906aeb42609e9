"""Seeded input generators for the graft benchmark.

Everything here is a pure function of the seed and the sizes: the same
seed writes byte-identical inputs. Nothing in this module imports the
engine; the expected values of the ingest workload are computed here,
independently of the program under test.
"""
import gzip
import hashlib
import os
import re
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector").split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = "blue cold hot new old red small big".split()
NOUNS = "anvil bolt gear plate ring rod widget nut".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(path, cols):
    tmp = path + ".tmp"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, path)


def _ts(rng, n, lo, days):
    """n naive midnight timestamps, uniform over `days` days from `lo`."""
    k = rng.integers(0, days, n)
    return pa.array(np.datetime64(lo, "us") + (k * 86400).astype("timedelta64[s]"),
                    pa.timestamp("us"))


def _texts(rng, n):
    """Random word texts with planted exact and near duplicates, so the
    dedup operators have work to find."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, o = [], 0
    for ln in lens:
        out.append([VOCAB[w] for w in words[o:o + ln]])
        o += ln
    n_exact, n_near = n // 100, n // 20
    src = rng.integers(0, n, n_exact + n_near)
    dst = rng.choice(n, n_exact + n_near, replace=False)
    for i, (s, d) in enumerate(zip(src, dst)):
        if s == d:
            continue
        t = list(out[s])
        if i >= n_exact:  # near duplicate: a few substituted words
            for j in rng.integers(0, len(t), max(1, len(t) // 12)):
                t[j] = VOCAB[rng.integers(0, len(VOCAB))]
        out[d] = t
    return [" ".join(t) for t in out]


def write_tables(out_dir, seed, sf, n_docs, n_embs):
    """The eight TPC-H-style tables plus events, documents and
    embeddings, one single-row-group parquet file each."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_evt = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(rng, n_li, "1995-01-02", 2498)})
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    _write(f"{out_dir}/events.parquet", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_evt), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": np.round(rng.exponential(60.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = _texts(rng, n_docs)
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_embs)
    v = centers[labels] + rng.normal(0, 0.8, (n_embs, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_embs), i64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# ---------------------------------------------------------------- ingest

# The ingest feed. What the pipeline's rules depend on follows the
# reference agent's semantics as SURVEY.md cites them: BSI folders of
# 4-5 segments ending in a `..._YYYY-MM-DD_HH_MM_SS_mmm` test id
# (plugins/BSI.go), gzip only above 1,024 bytes and never for jpg, jpeg,
# gif, png, wmv, flv, zip, gz (lib/compress), and one row per primary
# key (file_date, file_time, folder, pack, name) in the Cassandra table
# (handler/cassandra.go). The traffic MIX is not measured: no sample of
# real agent traffic is in the repository, so every share below (the
# BSI/SPI/unserved split, the extension weights, the size distribution,
# the day skew, the re-send share, the records per file) is an
# unverified assumption, chosen only so that each rule above is hit.

# Plugin configuration of the ingest job, in the agent's ini format.
PLUGINS_INI = """[BSI]
watch = /data/bsi
patterns = (?i).*\\.(zip|txt|log|dat|jpg|png|gz)$
max_nesting_level = 6
[SPI]
watch = /data/spi
patterns = .*
"""
BSI_PATTERN = re.compile(r"(?i).*\.(zip|txt|log|dat|jpg|png|gz)$")
NO_COMPRESS = re.compile(r"(jpg|jpeg|gif|png|wmv|flv|zip|gz)$")
EXTS = [".log", ".txt", ".dat", ".jpg", ".png", ".zip", ".gz", ".tmp"]
EXT_P = [0.3, 0.2, 0.15, 0.08, 0.07, 0.08, 0.07, 0.05]  # assumed, not measured
BASE_MS = 1709251200000  # 2024-03-01T00:00:00Z: "today" of the feed
DAY_MS = 86400000
# Share of BSI folders whose last segment is not a test id. Kept at 0:
# at HEAD such a folder makes BsiPlugin's timestamp parse raise under
# ANSI mode (CANNOT_PARSE_TIMESTAMP), which stops the whole stream.
# Any value above 0 reproduces that failure.
BAD_TESTID_SHARE = 0.0


def recent_days(n=3):
    """The n most recent file_date values, newest first."""
    return [dt.datetime.fromtimestamp((BASE_MS - d * DAY_MS) / 1000, dt.timezone.utc)
            .strftime("%Y-%m-%d") for d in range(n)]


def _testid(rng, ok):
    if not ok:  # a folder that only looks like a test id
        return f"RUN{rng.integers(0, 10**6):06d}"
    t = dt.datetime(2017, 6, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        milliseconds=int(rng.integers(0, 28 * DAY_MS)))
    return (f"MBBIVS{rng.integers(0, 10**9):09d}_1W_1_"
            f"{t:%Y-%m-%d_%H_%M_%S}_{t.microsecond // 1000:03d}")


def _bsi_ms(testid):
    m = re.match(r"^(\d{4}-\d{2}-\d{2})_(\d{2})_(\d{2})_(\d{2})_(\d{3})$", testid[-23:])
    if not m:
        return None
    t = dt.datetime.strptime(f"{m[1]} {m[2]}:{m[3]}:{m[4]}", "%Y-%m-%d %H:%M:%S")
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) + int(m[5])


def _record(rng, seq):
    """One discovered file: (path, content, host, mtime_ms) plus the
    values the pipeline must derive for it (None when no plugin keeps
    it)."""
    ext = EXTS[rng.choice(len(EXTS), p=EXT_P)]
    # assumed: lognormal around 1,300 bytes, so sizes fall on both sides
    # of the 1,024-byte gzip threshold
    size = int(np.clip(rng.lognormal(np.log(1300), 0.6), 120, 6000))
    words = rng.integers(0, len(VOCAB), size // 4 + 2)
    content = " ".join(VOCAB[w] for w in words)[:size]
    host = f"host{rng.integers(0, 8)}"
    # recent days are likelier (assumed geometric(0.25) offset back from BASE_MS)
    day = min(int(rng.geometric(0.25)) - 1, 29)
    mtime = BASE_MS - day * DAY_MS + int(rng.integers(0, DAY_MS))
    kind = rng.random()  # assumed split: 55% BSI, 35% SPI, 10% no plugin
    name = f"f{seq:07d}{ext}"
    if kind < 0.55:
        segs = int(rng.integers(4, 6))  # folder segments incl. "BSI"
        mid = [f"L{rng.integers(0, 20)}", f"2017-06-{rng.integers(1, 29):02d}"][:segs - 2]
        if segs == 5:
            mid.append(f"T{rng.integers(0, 4)}")
        testid = _testid(rng, rng.random() >= BAD_TESTID_SHARE)
        path = "/".join(["BSI"] + mid + [testid, name])
        keep = BSI_PATTERN.match(path) is not None and path.count("/") <= 6
        folder_time = _bsi_ms(testid) or mtime
    elif kind < 0.9:
        path = f"SPI/{host}/d{rng.integers(0, 50)}/{name}"
        keep, folder_time = True, mtime
    else:  # a watch root no plugin serves
        path = f"OTHER/x{rng.integers(0, 9)}/{name}"
        keep, folder_time = False, mtime
    rec = (path, content, host, mtime)
    if not keep:
        return rec, None
    low_ext = ext.lower()
    expect = {
        "file_date": dt.datetime.fromtimestamp(mtime / 1000, dt.timezone.utc)
                                .strftime("%Y-%m-%d"),
        "file_time": mtime,
        "folder": path.rsplit("/", 1)[0],
        "name": name,
        "checksum": hashlib.md5(content.encode()).hexdigest(),
        "compress": len(content) > 1024 and not NO_COMPRESS.search(low_ext),
        "folder_time": folder_time,
        "size": len(content),
    }
    if expect["compress"]:
        expect["compress_size"] = len(gzip.compress(content.encode(), compresslevel=1, mtime=0))
    return rec, expect


def write_ingest(out_dir, seed, n_files, recs_per_file, resend_share=0.05):
    """Pre-write every ingest file batch under `out_dir/staged`, named
    by its sequence number. Returns the expectation the run is checked
    against: the upsert table's rows by primary key and the envelope
    count. The re-send share and the records per file are assumed, not
    measured."""
    rng = np.random.default_rng(seed + 7919)
    staged = os.path.join(out_dir, "staged")
    os.makedirs(staged, exist_ok=True)
    sent, expect, accepted, seq, content_bytes = [], {}, 0, 0, 0
    for f in range(n_files):
        rows = []
        for _ in range(recs_per_file):
            if sent and rng.random() < resend_share:  # exact re-send
                rec, exp = sent[int(rng.integers(0, len(sent)))]
            else:
                rec, exp = _record(rng, seq)
                seq += 1
                sent.append((rec, exp))
            rows.append(rec)
            content_bytes += len(rec[1])
            if exp is not None:
                accepted += 1
                expect["|".join([exp["file_date"], str(exp["file_time"]),
                                 exp["folder"], "", exp["name"]])] = exp
        cols = list(zip(*rows))
        _write(os.path.join(staged, f"batch-{f:05d}.parquet"), {
            "path": list(cols[0]), "content": list(cols[1]),
            "host": list(cols[2]), "mtime_ms": pa.array(cols[3], pa.int64())})
    return {"rows": expect, "envelopes": accepted, "records": n_files * recs_per_file,
            "content_bytes": content_bytes}
