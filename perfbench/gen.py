"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (region nation customer supplier part
orders lineitem events documents embeddings) with the same schemas, physical
types and value distributions as the engine's sf-scaled test corpus, so that
every query row and its oracle SQL run unchanged on them. Nothing is read
from outside the output directory: the seed alone fixes every value.

``scale`` is the scale factor (0.1 gives 600k lineitem rows).

Event files for the standing-stream workload come from ``write_stream``.
"""
import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "screw", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH = _dt.datetime(1970, 1, 1)


def _us(y, m, d):
    return int((_dt.datetime(y, m, d) - EPOCH).total_seconds()) * 1_000_000


STREAM_T0_US = _us(2024, 1, 1)


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), type=pa.timestamp("us"))


def _days(rng, n, lo, hi):
    return lo + rng.integers(0, (hi - lo) // DAY_US + 1, n) * DAY_US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def base_tables(seed, scale):
    """One copy of the corpus at ``scale`` as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(20_000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], dtype=object)
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, STATUSES, n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": _ts(_days(rng, n_ord, _us(1995, 1, 1), _us(2001, 8, 1))),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(rng, n_line, _us(1995, 1, 2), _us(2001, 11, 4)))})
    t["events"] = events_table(rng, 0, n_ev, n_users,
                               np.sort(rng.integers(0, 30 * DAY_US, n_ev)))
    t["documents"] = documents_table(rng, n_doc)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vec = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def events_table(rng, first_id, n, n_users, offsets_us, users=None):
    """``n`` events with ids from ``first_id`` at STREAM_T0 + offsets."""
    if users is None:
        users = rng.integers(0, n_users, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(STREAM_T0_US + np.asarray(offsets_us, dtype=np.int64)),
        "user_id": pa.array(np.asarray(users, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def _utc(table):
    """Stream files carry UTC-adjusted event times (Spark TIMESTAMP)."""
    i = table.schema.get_field_index("ts")
    return table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us", tz="UTC")))


def documents_table(rng, n):
    vocab = np.array(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    # a few exact duplicates, as the dedup and near-duplicate rows expect
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})


def write_corpus(out_dir, seed, scale):
    """Generate and write the corpus, one parquet file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in base_tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def write_stream(out_dir, seed, n_files, rows_per_file, n_keys, late_share,
                 late_ms, file_span_ms):
    """Event files for the standing stream, ``f-NNNNNN.parquet``, plus
    ``sentinel.parquet``: one event an hour past the last file, which pushes
    the watermark past every window.

    File f carries event times in [f*span, (f+1)*span); a ``late_share`` of
    its rows is re-stamped up to ``late_ms`` earlier (out of order, but
    within the queries' watermark delay). Keys are drawn from ``n_keys``
    users with a seeded skew.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 104_729)
    weights = rng.pareto(1.5, n_keys) + 1.0
    weights /= weights.sum()
    for f in range(n_files):
        off = np.sort(rng.integers(f * file_span_ms, (f + 1) * file_span_ms,
                                   rows_per_file)) * 1000
        late = rng.random(rows_per_file) < late_share
        off[late] -= rng.integers(0, late_ms, late.sum()) * 1000
        off = np.maximum(off, 0)
        users = rng.choice(n_keys, size=rows_per_file, p=weights)
        t = events_table(rng, f * rows_per_file, rows_per_file, n_keys, off, users)
        pq.write_table(_utc(t), os.path.join(out_dir, f"f-{f:06d}.parquet"))
    far = (n_files * file_span_ms + 3_600_000) * 1000
    sentinel = events_table(np.random.default_rng(0), 10**12, 1, 1, [far], users=[-1])
    pq.write_table(_utc(sentinel), os.path.join(out_dir, "sentinel.parquet"))
