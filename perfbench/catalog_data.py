"""Seeded TPC-H-style tables for the catalog requests of the query_mix workload.

Writes one parquet file per table (`<dir>/<table>.parquet`), with the
column names and types the catalog entries read: orders, lineitem,
events and documents. The row counts are those of the sf0.01 tier of the
catalog's TPC-H-style test tables; the value distributions (uniform keys
and amounts, 15% near-duplicate documents, 150 users) are this
generator's own choice. The same seed gives the same files.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table, and the key ranges of the tables the orders and line
# items refer to (customer, part, supplier); the sf0.01 tier's sizes
SIZES = {"orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
         "customer": 1500, "part": 2000, "supplier": 100}
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the join hash row batch scan customer column filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark group part big sort query fast").split()
STOPWORDS = {"en": "the of and to in is", "fr": "le les des et est dans",
             "de": "der die und ist mit den", "es": "el los que y por con",
             "it": "il di che per non sono"}
LANGS = sorted(STOPWORDS)


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts, langs = [], []
    for i in range(n):
        if i > 20 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words edited
            words = texts[rng.integers(0, i)].split()
            for _ in range(int(rng.integers(1, 4))):
                words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            words.append("dup")
            lang = langs[-1]
        else:
            lang = LANGS[rng.integers(0, len(LANGS))]
            vocab = WORDS + STOPWORDS[lang].split() * 2
            words = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
        langs.append(lang)
    return texts, langs


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    out = {}
    out["orders"] = {
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000, 450000, n["orders"]),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", 2400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])]}
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900, 2000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, m, "1995-01-02", 2400)}
    e = n["events"]
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    out["events"] = {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, e),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(60.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    texts, langs = _documents(rng, n["documents"])
    out["documents"] = {
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts, "lang": langs,
        "source": [f"src{i}" for i in rng.integers(0, 20, n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    return out


def write(directory, seed):
    """Write every table under `directory`; returns {table: rows}."""
    rows = {}
    for name, cols in tables(seed).items():
        table = pa.table(cols)
        pq.write_table(table, f"{directory}/{name}.parquet")
        rows[name] = table.num_rows
    return rows
