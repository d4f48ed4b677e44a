"""Output checks for lakebench, computed independently of the engine.

Every expected answer is computed by DuckDB from the generated input
files; the engine's outputs arrive as parquet dumps and as digests in the
driver's result file. `run` returns one line per mismatch (empty when all
outputs are correct).
"""

import collections
import datetime
import decimal
import re

import duckdb

TOL = 1e-6


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 4")
    return con


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= TOL * max(1.0, abs(a), abs(b))
    return a == b


def compare(con, label, got_sql, want_sql, keys):
    """Row-by-row comparison of two queries over the want side's columns,
    both ordered by `keys`; floats compare with a relative tolerance."""
    want_cur = con.execute(f"SELECT * FROM ({want_sql}) ORDER BY {', '.join(keys)}")
    cols = [d[0] for d in want_cur.description]
    want = want_cur.fetchall()
    sel = ", ".join(f'"{c}"' for c in cols)
    got = con.execute(
        f"SELECT {sel} FROM ({got_sql}) ORDER BY {', '.join(keys)}").fetchall()
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    for g, w in zip(got, want):
        if not all(_close(x, y) for x, y in zip(g, w)):
            return [f"{label}: row {g} != expected {w}"]
    return []


# ---- medallion -----------------------------------------------------------

SILVER = """
SELECT l_orderkey, l_linenumber, o_custkey AS client_id,
       CAST(l_extendedprice AS DECIMAL(18,2)) AS amount,
       CAST(o_orderdate AS DATE) AS transaction_date,
       strftime(o_orderdate, '%Y-%m') AS ship_month,
       (l_extendedprice > 5000 AND l_returnflag IN ('A','R')) AS is_suspicious
FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""

ROW_DIGEST = """
SELECT count(*) AS n,
       sum(hash(CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS INTEGER),
                CAST(client_id AS BIGINT), CAST(amount AS DECIMAL(18,2)),
                CAST(transaction_date AS DATE), CAST(ship_month AS VARCHAR),
                CAST(is_suspicious AS BOOLEAN))) AS h
FROM ({})"""


def _load_deliveries(con, inputs, batches):
    """Every delivery, tagged with its order (0 = the base load)."""
    parts = [f"{inputs}/base"] + [f"{inputs}/batch{b:03d}" for b in range(batches)]
    for table in ["lineitem", "orders"]:
        union = " UNION ALL ".join(
            f"SELECT *, {i} AS _b FROM read_parquet('{p}/{table}.parquet')"
            for i, p in enumerate(parts))
        con.execute(f"CREATE TABLE all_{table} AS {union}")
    con.execute(f"CREATE TABLE customer AS SELECT * FROM "
                f"read_parquet('{inputs}/base/customer.parquet')")


def _stage(con, k, plan, corrected):
    """lineitem/orders as of delivery k. Silver takes every delivery, last
    writer wins per key (`corrected`); bronze only appends each delivery's
    new orders, those above the high-water mark before it."""
    new_only = "" if corrected else (
        f"AND (_b = 0 OR l_orderkey > {plan['orders']} + (_b - 1) * {plan['new_orders']})")
    con.execute(f"""CREATE OR REPLACE TABLE lineitem AS
        SELECT * EXCLUDE (_b, _r) FROM (SELECT *, row_number() OVER (
            PARTITION BY l_orderkey, l_linenumber ORDER BY _b DESC) AS _r
          FROM all_lineitem WHERE _b <= {k} {new_only}) WHERE _r = 1""")
    con.execute(f"""CREATE OR REPLACE TABLE orders AS
        SELECT * EXCLUDE (_b, _r) FROM (SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY _b DESC) AS _r
          FROM all_orders WHERE _b <= {k}) WHERE _r = 1""")


MART_KEYS = {"client_stats": ["c_custkey"], "daily_metrics": ["date"],
             "fraud_analysis": ["l_returnflag", "c_mktsegment"]}


def _probe_where(kind, params, epoch):
    day = lambda d: (epoch + datetime.timedelta(days=d)).isoformat()
    if kind == "date_client":
        return f"transaction_date = DATE '{day(params[0])}' AND client_id = {params[1]}"
    if kind == "suspicious":
        return (f"is_suspicious AND transaction_date BETWEEN DATE '{day(params[0])}'"
                f" AND DATE '{day(params[0] + 29)}'")
    if kind == "range_amount":
        return (f"transaction_date BETWEEN DATE '{day(params[0])}' AND "
                f"DATE '{day(params[0] + 6)}' AND amount >= {params[1]} AND amount <= 1e9")
    if kind == "client":
        return f"client_id = {params[0]}"
    if kind == "lang":
        return f"lang_pred = '{params[0]}'"
    if kind == "lang_quality":
        return f"lang_pred = '{params[0]}' AND quality_score BETWEEN {params[1]} AND 1.0"
    return f"doc_id BETWEEN {params[0]} AND {params[0] + 39}"


def check_session(con, ans, table, key, value, agg_sql, rows_now, epoch):
    """The read session's answers against full scans of `table`."""
    bad = []
    for p in ans["probes"]:
        want = tuple(con.execute(
            f"SELECT count(*), coalesce(sum({key}), 0), coalesce(sum({value}), 0) "
            f"FROM {table} WHERE " + _probe_where(p["kind"], p["params"], epoch)).fetchone())
        got = (p["rows"], p["keys"], p["values"])
        if got != want:
            bad.append(f"probe {p['kind']} {p['params']}: {got} != expected {want}")
    meta = ans["meta"]
    want = [str(v) for v in con.execute(f"SELECT {agg_sql} FROM {table}").fetchone()]
    got = meta["agg"]
    if got is None or [str(decimal.Decimal(g)) if "." in g else g for g in got] != want:
        bad.append(f"sql count/min/max {got} != expected {want}")
    if meta["history_rows"] != rows_now or not meta["history_versions"]:
        bad.append(f"history: {meta['history_versions']} versions, latest rowCount "
                   f"{meta['history_rows']}, expected {rows_now}")
    if not meta["detail_files"]:
        bad.append("detail: no files reported")
    return bad


def check_medallion(con, plan, inputs, out, res, epoch):
    ans = res["answers"]
    oracle = ans["oracle_sql"]
    batches = plan["batches"]
    _load_deliveries(con, inputs, batches)
    # daily_metrics is an anti-join append: each refresh adds only dates the
    # mart does not hold yet, so its oracle folds the refreshes in order
    _stage(con, 0, plan, False)
    con.execute(f"CREATE TABLE daily AS {oracle['daily_metrics']}")
    for k in range(1, batches + 1):
        _stage(con, k, plan, False)
        con.execute(f"""INSERT INTO daily SELECT * FROM ({oracle['daily_metrics']})
                        WHERE date NOT IN (SELECT date FROM daily)""")
    bad = []
    for mart, keys in MART_KEYS.items():
        want_sql = "SELECT * FROM daily" if mart == "daily_metrics" else oracle[mart]
        bad += compare(con, f"gold {mart}", f"SELECT * FROM {_pq(out + '/gold_' + mart)}",
                       want_sql, keys)
        # the session recomputes the marts over the bronze tables
        bad += compare(con, f"mart {mart}", f"SELECT * FROM {_pq(out + '/mart_' + mart)}",
                       oracle[mart], keys)
    top = con.execute(f"""SELECT c_custkey, total_amount FROM ({oracle['client_stats']})
                          ORDER BY total_amount DESC, c_custkey LIMIT 10""").fetchall()
    got_top = [tuple(r) for r in ans["top10"]]
    if len(got_top) != len(top) or not all(
            a[0] == b[0] and _close(a[1], b[1]) for a, b in zip(got_top, top)):
        bad.append(f"gold top clients {got_top} != expected {top}")
    _stage(con, batches, plan, True)
    con.execute(f"CREATE TABLE silver AS {SILVER}")
    got = con.execute(ROW_DIGEST.format(f"SELECT * FROM {_pq(out + '/silver')}")).fetchone()
    want = con.execute(ROW_DIGEST.format("SELECT * FROM silver")).fetchone()
    if got != want:
        bad.append(f"silver: (rows, hash) {got} != expected {want}")
    bad += check_session(
        con, ans, "silver", "l_orderkey * 8 + l_linenumber", "CAST(amount * 100 AS BIGINT)",
        "count(*), min(amount), max(amount), min(transaction_date), max(transaction_date)",
        want[0], epoch)
    return bad


# ---- corpus --------------------------------------------------------------

def words(text):
    """The engine's tokenization: lower-cased, split on whitespace."""
    return [w for w in re.split(r"\s+", text.lower().strip()) if w]


def stupid_backoff(docs):
    """Per-document quantized trigram Stupid Backoff statistics (minCount 2),
    the statistic `NgramLm.scoreQuantized` reports."""
    toks = {d: words(t) for d, t in docs}
    grams = [collections.Counter() for _ in range(3)]
    for ws in toks.values():
        for i in range(len(ws)):
            for n in range(min(i + 1, 3)):
                grams[n][tuple(ws[i - n:i + 1])] += 1
    c1, c2, c3 = ({g: c for g, c in cnt.items() if c >= 2} for cnt in grams)
    total = sum(c1.values())
    out = {}
    for d, ws in toks.items():
        sb, hits = 0, [0, 0, 0, 0]
        for i, w3 in enumerate(ws):
            w2 = ws[i - 1] if i >= 1 else None
            w1 = ws[i - 2] if i >= 2 else None
            t3 = c3.get((w1, w2, w3)) if w1 else None
            b2 = c2.get((w2, w3)) if w2 else None
            u3 = c1.get((w3,))
            if w1 and t3:
                q, lvl = 10**9 * t3 // c2[(w1, w2)], 3
            elif w2 and b2:
                q, lvl = (4 * 10**8 if w1 else 10**9) * b2 // c1[(w2,)], 2
            elif u3:
                q, lvl = (16 * 10**7 if w1 else 4 * 10**8 if w2 else 10**9) * u3 // total, 1
            else:
                q, lvl = 0, 0
            sb += q
            hits[lvl] += 1
        out[d] = (len(ws), sb, hits[3], hits[2], hits[1], hits[0])
    return out


def check_corpus(con, plan, inputs, out, res, epoch):
    ans = res["answers"]
    con.execute(f"""CREATE TABLE input AS SELECT doc_id, text FROM
        read_parquet('{inputs}/*/documents.parquet')""")
    con.execute(f"CREATE TABLE corpus AS SELECT * FROM {_pq(out + '/corpus')}")
    con.execute("CREATE VIEW documents AS SELECT doc_id, text, lang FROM corpus")
    bad = []
    n, ids, fps, foreign = con.execute("""
        SELECT count(*), count(DISTINCT doc_id),
               count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
               (SELECT count(*) FROM documents d ANTI JOIN input i
                  ON d.doc_id = i.doc_id AND d.text = i.text)
        FROM documents""").fetchone()
    if n == 0:
        bad.append("corpus: no documents kept")
    if foreign:
        bad.append(f"corpus: {foreign} kept documents are not input documents")
    if ids != n or fps != n:
        bad.append(f"corpus: {n} docs, {ids} distinct ids, {fps} distinct fingerprints")
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    want_lm = stupid_backoff(docs)
    got_lm = {r[0]: tuple(r[1:]) for r in con.execute(
        f"SELECT doc_id, n_tokens, sb_q, hits3, hits2, hits1, oov "
        f"FROM {_pq(out + '/ops_ngram_lm')}").fetchall()}
    if got_lm != want_lm:
        diff = sorted(d for d in set(got_lm) | set(want_lm) if got_lm.get(d) != want_lm.get(d))
        bad.append(f"ngram lm: {len(diff)} docs differ, e.g. {diff[:1]}: "
                   f"{got_lm.get(diff[0])} != expected {want_lm.get(diff[0])}")
    bad += compare(con, "minhash verified pairs",
                   f"SELECT * FROM {_pq(out + '/ops_minhash_verify')}",
                   ans["oracle_sql"]["minhash_verify"], ["d1", "d2"])
    cls = con.execute(f"""SELECT count(*), count(DISTINCT doc_id),
        count(*) FILTER (WHERE p < 0 OR p > 1 OR p IS NULL)
        FROM {_pq(out + '/ops_classifier')}""").fetchone()
    if cls != (n, n, 0):
        bad.append(f"classifier: (rows, ids, p outside [0,1]) {cls}, expected ({n}, {n}, 0)")
    texts = dict(docs)
    bpe = con.execute(f"SELECT doc_id, tokens FROM {_pq(out + '/ops_bpe')}").fetchall()
    if len(bpe) != n:
        bad.append(f"bpe: {len(bpe)} rows, expected {n}")
    for doc_id, tokens in bpe:
        if "".join(tokens) != "".join(w + "</w>" for w in words(texts[doc_id])):
            bad.append(f"bpe: doc {doc_id} tokens do not spell its words")
            break
    stats = con.execute("""SELECT lang_pred, split, count(*), sum(token_estimate)
        FROM corpus GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
    if [tuple(r) for r in ans["corpus_stats"]] != stats:
        bad.append(f"corpus stats {ans['corpus_stats']} != expected {stats}")
    top = con.execute("""SELECT doc_id, token_estimate FROM corpus
        ORDER BY token_estimate DESC, doc_id LIMIT 10""").fetchall()
    if [tuple(r) for r in ans["top10"]] != top:
        bad.append(f"longest documents {ans['top10']} != expected {top}")
    bad += check_session(con, ans, "corpus", "doc_id", "token_estimate",
                         "count(*), min(doc_id), max(doc_id), min(token_estimate), "
                         "max(token_estimate)", n, epoch)
    return bad


def run(workload, plan, inputs, out, res, epoch):
    con = _con()
    try:
        check = check_medallion if workload == "medallion" else check_corpus
        return check(con, plan, inputs, out, res, datetime.date.fromisoformat(epoch))
    finally:
        con.close()
