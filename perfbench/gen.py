"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed gives
byte-identical parquet files. The engine only ever sees these files.

  events.parquet         gmall_batch: the testdata `events` schema
                         (event_id, ts, user_id, event_type, value, props)
                         with Zipf-skewed user_id.
  documents.parquet      corpus_admission: the testdata `documents` schema
                         (doc_id, text, lang, source, n_chars) with set shares
                         of exact and near duplicates. The other workloads
                         get a smaller one for the `expr` probe.
  stream_events.parquet  gmall_stream: KeyedEvent rows (key, ts, kind, id) in
                         ARRIVAL order (column `seq`), a set share of them out
                         of event-time order.

`generate` returns the input properties recorded in the benchmark output.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC

# gmall_batch
EVENT_ROWS = 20_000
EVENT_USERS = 2_000
EVENT_ZIPF = 0.8
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EVENT_SPAN_DAYS = 30

# corpus_admission; the other workloads get a smaller corpus, read only by
# the traced runs' `expr` probe
DOC_ROWS = 300
PROBE_DOC_ROWS = 1_000
DOC_EXACT_SHARE = 0.10
DOC_NEAR_SHARE = 0.10
VOCAB = ("a the data spark stream batch query table column row key value "
         "filter join group sort merge scan hash window order part line "
         "vector agg fast slow big small customer").split()
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])

# gmall_stream: event-time spacing, and how far an out-of-order event may
# trail the newest event time already emitted (must stay below the
# machines' watermark delay so no event is dropped as late)
STREAM_EVENT_GAP_S = 0.05
STREAM_OOO_SHARE = 0.05
STREAM_OOO_MAX_S = 5.0
STREAM_ITEMS = 5_000
STREAM_ITEM_ZIPF = 1.2
STREAM_AD_KEYS = 2_000


def zipf_ids(rng, n, n_ids, s):
    """n draws from a bounded Zipf(s) over n_ids ids; the rank -> id map is
    a seeded permutation, so hot ids are scattered over the id range."""
    p = 1.0 / np.arange(1, n_ids + 1) ** s
    p /= p.sum()
    ranks = rng.choice(n_ids, size=n, p=p)
    return rng.permutation(n_ids)[ranks]


def write(path, cols):
    pq.write_table(pa.table(cols), path)


def gen_events(rng, out):
    n = EVENT_ROWS
    offs = np.sort(rng.integers(0, EVENT_SPAN_DAYS * 86_400_000_000, n))
    users = zipf_ids(rng, n, EVENT_USERS, EVENT_ZIPF).astype(np.int64)
    types = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.uniform(0.0, 150.0, n), 2)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    write(out + "/events.parquet", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(BASE_US + offs, pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(types),
        "value": pa.array(value),
        "props": pa.array(props),
    })
    return {"rows": n, "distinct_users": int(np.unique(users).size),
            "zipf_exponent": EVENT_ZIPF, "user_id_domain": EVENT_USERS}


def random_text(rng):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(12, 90))))


def near_copy(rng, text):
    """Replace ~5 % of the words: Jaccard to the original stays high enough
    for the 0.6-threshold near-dup screens to pair most copies."""
    words = text.split()
    for i in rng.choice(len(words), max(1, len(words) // 20), replace=False):
        words[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def gen_documents(rng, out, n):
    n_exact = int(n * DOC_EXACT_SHARE)
    n_near = int(n * DOC_NEAR_SHARE)
    n_orig = n - n_exact - n_near
    texts = [random_text(rng) for _ in range(n_orig)]
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(0, n_orig))])
    for _ in range(n_near):
        texts.append(near_copy(rng, texts[int(rng.integers(0, n_orig))]))
    order = rng.permutation(n)  # copies interleave with originals across doc ids
    texts = [texts[i] for i in order]
    write(out + "/documents.parquet", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return {"rows": n, "distinct_texts": len(set(texts)),
            "exact_dup_share": DOC_EXACT_SHARE, "near_dup_share": DOC_NEAR_SHARE}


def gen_stream(rng, out, n_target):
    """Reference-app event mix: pv (hot items), click (ad blacklist) and
    order flows create -> pay -> receipt (order timeout, pay/receipt
    reconciliation). Writes about n_target events in arrival order."""
    n_flows = int(n_target * 0.10)
    n_single = n_target - 3 * n_flows
    span = n_target * STREAM_EVENT_GAP_S
    # pv / click at uniform event times
    t_single = rng.uniform(0.0, span, n_single)
    is_pv = rng.random(n_single) < 0.7
    items = zipf_ids(rng, n_single, STREAM_ITEMS, STREAM_ITEM_ZIPF)
    ads = rng.integers(0, STREAM_AD_KEYS, n_single)
    single_key = np.where(is_pv, np.char.zfill(items.astype(str), 8),
                          np.char.add("u", ads.astype(str)))
    single_kind = np.where(is_pv, "pv", "click")
    single_id = np.where(is_pv, "", np.char.add("p", (ads % 34).astype(str)))
    # order flows: pay within 0-20 min of create (timeout 15 min, so some
    # time out), ~85 % paid; receipt within 0-3 min of pay (tolerance
    # 2 min), ~90 % of pays
    t_create = rng.uniform(0.0, span * 0.9, n_flows)
    paid = rng.random(n_flows) < 0.85
    t_pay = t_create + rng.uniform(1.0, 1200.0, n_flows)
    rcpt = paid & (rng.random(n_flows) < 0.9)
    t_rcpt = t_pay + rng.uniform(1.0, 180.0, n_flows)
    oid = np.char.add("o", np.arange(n_flows).astype(str))
    t = np.concatenate([t_single, t_create, t_pay[paid], t_rcpt[rcpt]])
    key = np.concatenate([single_key, oid, oid[paid], oid[rcpt]])
    kind = np.concatenate([single_kind, np.full(n_flows, "create"),
                           np.full(int(paid.sum()), "pay"), np.full(int(rcpt.sum()), "receipt")])
    info = np.concatenate([single_id, oid, oid[paid], oid[rcpt]])
    n = t.size
    ts_us = np.round(t * 1e6).astype(np.int64)
    ts_us = np.sort(ts_us) + np.arange(n)  # strictly increasing: no ts ties
    ts_us = ts_us[np.argsort(np.argsort(t, kind="stable"), kind="stable")]
    # arrival order: a share of events arrives up to STREAM_OOO_MAX_S late
    late = rng.random(n) < STREAM_OOO_SHARE
    arrive = ts_us + np.where(late, rng.uniform(0, STREAM_OOO_MAX_S * 1e6, n), 0).astype(np.int64)
    order = np.lexsort((ts_us, arrive))
    key, kind, info, ts_us = key[order], kind[order], info[order], ts_us[order]
    # per key, event time follows arrival order: the state machines fold a
    # key's events in arrival order, so only cross-key disorder is allowed
    by_key_arrival = np.lexsort((np.arange(n), key))
    by_key_ts = np.lexsort((ts_us, key))
    ts_us[by_key_arrival] = ts_us[by_key_ts]
    ooo = int((ts_us < np.maximum.accumulate(ts_us)).sum())
    ids = np.char.add(np.char.add(info, ":"), np.arange(n).astype(str))
    write(out + "/stream_events.parquet", {
        "seq": pa.array(np.arange(n, dtype=np.int64)),
        "key": pa.array(key),
        "ts": pa.array(BASE_US + ts_us, pa.timestamp("us", tz="UTC")),
        "kind": pa.array(kind),
        "id": pa.array(ids),
    })
    return {"rows": n, "distinct_keys": int(np.unique(key).size),
            "zipf_exponent": STREAM_ITEM_ZIPF, "out_of_order_share": round(ooo / n, 4),
            "out_of_order_max_s": STREAM_OOO_MAX_S, "event_gap_s": STREAM_EVENT_GAP_S}


def generate(workload, seed, out, stream_events=0):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if workload == "gmall_batch":
        props = {"events": gen_events(rng, out)}
    elif workload == "corpus_admission":
        props = {"documents": gen_documents(rng, out, DOC_ROWS)}
    elif workload == "gmall_stream":
        props = {"stream_events": gen_stream(rng, out, stream_events)}
    else:
        raise ValueError(f"unknown workload {workload}")
    if "documents" not in props:
        props["probe_documents"] = gen_documents(rng, out, PROBE_DOC_ROWS)
    with open(out + "/input_props.json", "w") as f:
        json.dump(props, f)
    return props
