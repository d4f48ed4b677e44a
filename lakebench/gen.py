"""Seeded input generation for the lakebench workloads.

Every input the engine sees is written here as parquet, from one seed:
the same (workload, seed, plan) gives byte-identical files, and another
seed gives different ones. The shapes mirror the star schema the engine's
loaders expect (see FIXTURES.md): lineitem/orders/customer for the
medallion flow and documents for the corpus flow.
"""

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = ["A", "N", "R"]
EPOCH = datetime.datetime(1997, 1, 1)

# Corpus vocabulary: shared topic words plus each language's stopwords, so
# the engine's language probe has something to find.
TOPIC = ("spark table merge scan join filter group sort hash window vector "
         "stream batch query column row value key order part line data fast "
         "slow big small agg commit log file index snapshot schema cluster "
         "compact partition shuffle stage task driver reader writer cache "
         "plan metric trace layer delta lake bronze silver gold mart").split()
STOPWORDS = {
    "en": ["the", "a", "of", "and", "in", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "von"],
    "es": ["el", "la", "de", "y", "los", "es"],
    "fr": ["le", "la", "et", "les", "des", "est"],
    "zh": ["的", "是", "在", "了", "和"],
}
LANGS = list(STOPWORDS)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _ts(days):
    """Microsecond timestamps at midnight, `days` after EPOCH."""
    base = np.datetime64(EPOCH, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _orders(rng, keys, n_cust, days):
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n), 2),
        "o_orderdate": rng.integers(0, days, n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }


def _orders_table(o):
    cols = dict(o)
    cols["o_orderdate"] = _ts(o["o_orderdate"])
    return pa.table(cols)


def _prices(rng, n):
    # log-normal amounts: about one line in ten is above the 5000
    # suspicious threshold, so the fraud mart and its probe stay selective
    return np.round(np.clip(np.exp(rng.normal(7.5, 1.0, n)), 900.0, 105000.0), 2)


def _lines(rng, orderkeys, orderdays):
    per = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(orderkeys, per)
    od = np.repeat(orderdays, per)
    ln = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    n = len(ok)
    return {
        "l_orderkey": ok.astype(np.int64),
        "l_partkey": rng.integers(1, 20001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 1001, n).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _prices(rng, n),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": rng.choice(FLAGS, n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": od + rng.integers(1, 121, n),
    }


def _lines_table(li):
    cols = dict(li)
    cols["l_shipdate"] = _ts(li["l_shipdate"])
    return pa.table(cols)


def _take(cols, idx):
    return {k: v[idx] for k, v in cols.items()}


def gen_medallion(rng, out, plan):
    """Base star schema plus `plan["batches"]` incremental deliveries.

    A delivery re-sends a random slice of existing line keys with changed
    amounts and adds new orders above the high-water mark; its orders file
    carries the orders of every line it delivers.
    """
    n_cust, n_orders, days = plan["customers"], plan["orders"], plan["days"]
    cust = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(cust, f"{out}/base/customer.parquet")
    orders = _orders(rng, np.arange(1, n_orders + 1), n_cust, days)
    lines = _lines(rng, orders["o_orderkey"], orders["o_orderdate"])
    _write(_orders_table(orders), f"{out}/base/orders.parquet")
    _write(_lines_table(lines), f"{out}/base/lineitem.parquet")

    all_lines, all_orders = lines, orders
    hwm = n_orders
    for b in range(plan["batches"]):
        pick = rng.choice(len(all_lines["l_orderkey"]), plan["redeliver"], replace=False)
        pick.sort()
        again = _take(all_lines, pick)
        again["l_extendedprice"] = np.round(
            again["l_extendedprice"] * rng.uniform(0.5, 1.5, len(pick)) + 0.01, 2)
        new_o = _orders(rng, np.arange(hwm + 1, hwm + plan["new_orders"] + 1), n_cust, days)
        hwm += plan["new_orders"]
        new_l = _lines(rng, new_o["o_orderkey"], new_o["o_orderdate"])
        batch_l = {k: np.concatenate([again[k], new_l[k]]) for k in again}
        old_keys = np.unique(again["l_orderkey"])
        batch_o = {k: np.concatenate([all_orders[k][old_keys - 1], new_o[k]])
                   for k in new_o}
        _write(_lines_table(batch_l), f"{out}/batch{b:03d}/lineitem.parquet")
        _write(_orders_table(batch_o), f"{out}/batch{b:03d}/orders.parquet")
        all_lines = {k: np.concatenate([all_lines[k], new_l[k]]) for k in all_lines}
        all_orders = {k: np.concatenate([all_orders[k], new_o[k]]) for k in all_orders}


def _doc_text(rng, lang, n_words):
    stop = STOPWORDS[lang]
    words = []
    for _ in range(n_words):
        if rng.random() < 0.2:
            words.append(stop[rng.integers(len(stop))])
        else:
            words.append(TOPIC[rng.integers(len(TOPIC))])
    return " ".join(words)


def _docs(rng, first_id, n):
    ids, texts, langs = [], [], []
    for i in range(n):
        lang = LANGS[rng.integers(len(LANGS))]
        if rng.random() < 0.08:
            # low quality: one word repeated, dropped by the quality filter
            text = " ".join([TOPIC[rng.integers(len(TOPIC))]] * int(rng.integers(20, 60)))
        else:
            text = _doc_text(rng, lang, int(rng.integers(30, 90)))
        ids.append(first_id + i)
        texts.append(text)
        langs.append(lang)
    return ids, texts, langs


def _near_dup(rng, text):
    words = text.split(" ")
    if rng.random() < 0.5:
        # exact duplicate up to case and spacing
        return "  ".join(w.upper() if rng.random() < 0.1 else w for w in words)
    words[-1] = TOPIC[rng.integers(len(TOPIC))]
    return " ".join(words) + " " + TOPIC[rng.integers(len(TOPIC))]


def _docs_table(ids, texts, langs):
    return pa.table({
        "doc_id": np.array(ids, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def gen_corpus(rng, out, plan):
    """A seeded half of `documents` for the initial run, then batches of
    fresh documents with near-duplicates of earlier ones injected."""
    ids, texts, langs = _docs(rng, 0, plan["docs"])
    dup_of = rng.choice(len(ids), plan["docs"] // 20, replace=False)
    for j, src in enumerate(sorted(dup_of)):
        ids.append(plan["docs"] + j)
        texts.append(_near_dup(rng, texts[src]))
        langs.append(langs[src])
    _write(_docs_table(ids, texts, langs), f"{out}/base/documents.parquet")
    seen_texts, seen_langs = list(texts), list(langs)
    next_id = 1_000_000
    for b in range(plan["batches"]):
        bid, btext, blang = _docs(rng, next_id, plan["batch_docs"])
        next_id += plan["batch_docs"]
        for src in rng.choice(len(seen_texts), plan["batch_dups"], replace=False):
            bid.append(next_id)
            btext.append(_near_dup(rng, seen_texts[src]))
            blang.append(seen_langs[src])
            next_id += 1
        # a within-batch duplicate as well, so batch-local dedup has work
        bid.append(next_id)
        btext.append(_near_dup(rng, btext[0]))
        blang.append(blang[0])
        next_id += 1
        _write(_docs_table(bid, btext, blang), f"{out}/batch{b:03d}/documents.parquet")
        seen_texts += btext
        seen_langs += blang


GENERATORS = {
    "medallion": gen_medallion,
    "corpus_ingest": gen_corpus,
}


def generate(workload, seed, out, plan):
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    GENERATORS[workload](rng, out, plan)
