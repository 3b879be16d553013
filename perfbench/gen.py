"""Seeded input generators for the benchmark workloads.

Every table keeps the schema of the sf0.1 fixture (FIXTURES.md section
3), so the program reads it through its normal parquet paths. The
same seed gives the same files; sizes are per workload and size class.
`generate()` writes the inputs of one workload into a directory and returns
their recorded properties (row count, key count, hottest-key share, planted
duplicate rates) plus the sizes the JVM side needs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Measured once on the sf0.1 fixture (100,000 events, 5,000 documents):
# - events: 1,500 users, 66.7 events per user (min 45, max 99), so the
#   hottest user holds 0.099% of the events and there is no skew;
#   event-type shares below; `value` exponential with mean 49.87
#   (median 34.77); `props` {"k": 0..99} uniform; `ts` increasing with
#   `event_id` over 30 days;
# - documents: 10-100 words of the vocabulary below (mean 54), language
#   shares below, 20 sources, 0.16% exact duplicates.
SF01 = dict(events=100000, keys=1500, hottest_key_share=0.00099,
            events_per_key=66.7, value_mean=49.87, exact_dup_rate=0.0016)
EVENT_TYPES = np.array(["click", "purchase", "error", "signup", "view"])
TYPE_P = np.array([0.19863, 0.20084, 0.19810, 0.20302, 0.19941])
# the 31-word vocabulary of the sf0.1 documents table
VOCAB = np.array((
    "merge window customer spark part group stream filter the sort scan "
    "vector join query big hash column data agg table line small slow key "
    "fast order row value a batch dup").split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
EPOCH_US = 1704067200 * 1000000  # 2024-01-01T00:00:00
SPAN_US = 30 * 86400 * 1000000   # events span 30 days
# sf0.1 has no per-user skew; the benchmark adds Zipf(s) skew on top of
# sf0.1's events per user, so the hot keys show in task skew. s is capped
# by `cep_ndrelaxed_click_pairs`, which emits every ordered pair of a
# user's clicks: its output grows with the square of the hottest key's
# events. At s = 0.5 the hottest of 3,600 keys holds about 0.85% of the
# events (8.5 times sf0.1's hottest); at s = 1.2 (the SCALE.md hot-key
# probe) it would hold about 22%, and that one key's click pairs alone
# (about 54 million) would outgrow the run's time budget.
ZIPF_S = 0.5

SIZES = {
    # events, keys (users), files. Batch tables keep sf0.1's events per
    # user (66.7); the stream keeps sf0.1's user population (1,500), so
    # each micro-batch touches many keys with a few events each.
    ("cep_batch", "full"): dict(events=240000, keys=3600, files=4),
    ("cep_batch", "tiny"): dict(events=20000, keys=300, files=2),
    ("cep_stream", "full"): dict(events=4800, keys=1500, files=6),
    ("cep_stream", "tiny"): dict(events=4000, keys=200, files=8),
    # registry tables: a small sf0.1-schema set
    ("registry", "full"): dict(events=20000, keys=300, docs=1000, vecs=1000,
                               lines=40000),
    ("registry", "tiny"): dict(events=2000, keys=60, docs=200, vecs=200,
                               lines=4000),
}


def gap_us(n):
    return max(2, SPAN_US // max(n, 1))


def events_table(n, keys, seed):
    """`n` events over `keys` users with Zipf(ZIPF_S)-skewed per-user
    counts, sf0.1's event-type shares and value distribution; `ts`
    increases strictly with `event_id` (mean gap plus a jitter below the
    gap), so it is monotone per key and never late."""
    rng = np.random.default_rng([seed, 1])
    w = 1.0 / np.arange(1, keys + 1) ** ZIPF_S
    cdf = np.cumsum(w / w.sum())
    rank = np.minimum(np.searchsorted(cdf, rng.random(n)), keys - 1)
    user = rng.permutation(keys).astype(np.int64)[rank] + 1
    ids = np.arange(n, dtype=np.int64)
    g = gap_us(n)
    ts = EPOCH_US + ids * g + rng.integers(0, g, n)
    value = np.round(-SF01["value_mean"] * np.log1p(-rng.random(n)), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(
        0, 100, n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(ids),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(user),
        "event_type": pa.array(EVENT_TYPES[rng.choice(5, n, p=TYPE_P)]),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def write_slices(table, path, files):
    """One file per contiguous row range, named in row order."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, "part-%05d.parquet" % i))


def event_stats(t):
    users = t.column("user_id").to_numpy()
    _, counts = np.unique(users, return_counts=True)
    types = t.column("event_type").to_numpy(zero_copy_only=False)
    return {"rows": t.num_rows, "keys": int(len(counts)),
            "hottest_key_share": float(counts.max() / t.num_rows),
            "sf01_hottest_key_share": SF01["hottest_key_share"],
            "click_share": float(np.mean(types == "click"))}


def documents_table(n, exact, near, seed):
    """`n` docs of 10-100 vocabulary words; a share `exact` copies an
    earlier doc verbatim and `near` copies one with about one word in
    twelve replaced."""
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n):
        kind = rng.random()
        if i == 0 or kind >= exact + near:
            ws = VOCAB[rng.integers(0, len(VOCAB), 10 + rng.integers(0, 91))]
        else:
            ws = texts[rng.integers(0, i)].split(" ")
            if kind >= exact:
                ws = [VOCAB[rng.integers(0, len(VOCAB))]
                      if rng.integers(0, 12) == 0 else x for x in ws]
        texts.append(" ".join(ws))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], np.int64)),
    })


def embeddings_table(n, seed):
    """64-d unit vectors around one of ten label centroids."""
    rng = np.random.default_rng([seed, 3])
    cent = rng.uniform(-1, 1, (10, 64))
    label = rng.integers(0, 10, n)
    v = cent[label] * 0.2 + rng.uniform(-0.15, 0.15, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def lineitem_table(n, seed):
    """TPC-H-style lineitem with the fixture's value domains."""
    rng = np.random.default_rng([seed, 4])
    qty = rng.integers(1, 51, n).astype(np.float64)
    flag = np.array(["N", "A", "R"])[rng.choice(3, n, p=[0.5, 0.25, 0.25])]
    day0 = np.datetime64("1992-01-01", "us")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n)),
        "l_partkey": pa.array(rng.integers(0, 20000, n)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(
            qty * (900 + rng.integers(0, 110000, n) / 100.0), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(np.where(flag == "N", "O", "F")),
        "l_shipdate": pa.array(day0 + rng.integers(0, 3650, n).astype(
            "timedelta64[D]").astype("timedelta64[us]")),
    })


def generate(workload, size, seed, out):
    """Writes the inputs of `workload` under `out`; returns properties."""
    z = SIZES[(workload, size)]
    os.makedirs(out, exist_ok=True)
    if workload in ("cep_batch", "cep_stream"):
        ev = events_table(z["events"], z["keys"], seed)
        sub = "events.parquet" if workload == "cep_batch" else "staged"
        write_slices(ev, os.path.join(out, sub), z["files"])
        props = dict(event_stats(ev), files=z["files"])
        if workload == "cep_stream":
            # flush sentinels at (last ts bound) + k * delay, k = 2, 3: the
            # final watermark passes every real event, so all of them
            # drain, and neither sentinel is released itself
            delay_s = 2 * SPAN_US // 1000000 // z["files"]
            end = EPOCH_US + z["events"] * gap_us(z["events"])
            for k in (2, 3):
                t = pa.table({
                    "event_id": pa.array([z["events"] + k], pa.int64()),
                    "ts": pa.array(np.array(
                        [end + k * delay_s * 1000000], "datetime64[us]")),
                    "user_id": pa.array([-1], pa.int64()),
                    "event_type": pa.array(["__flush"]),
                    "value": pa.array([0.0]),
                    "props": pa.array(["{}"]),
                })
                d = os.path.join(out, "flush")
                os.makedirs(d, exist_ok=True)
                pq.write_table(t, os.path.join(d, "flush-%d.parquet" % k))
            props["delay_s"] = delay_s
        return props
    ev = events_table(z["events"], z["keys"], seed)
    docs = documents_table(z["docs"], 0.02, 0.02, seed)
    for name, t in (("events", ev), ("documents", docs),
                    ("embeddings", embeddings_table(z["vecs"], seed)),
                    ("lineitem", lineitem_table(z["lines"], seed))):
        pq.write_table(t, os.path.join(out, name + ".parquet"))
    texts = docs.column("text").to_pylist()
    return dict(event_stats(ev), docs=len(texts),
                exact_dup_rate=1.0 - len(set(texts)) / len(texts),
                sf01_exact_dup_rate=SF01["exact_dup_rate"],
                planted_dup_rate=0.04)
