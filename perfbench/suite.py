"""The ``queries`` layer: the eleven suite queries of ``queries.py`` over
tables generated from the run's seed, in the traced run only.

``generate`` writes the ten tables the queries read, with the schema
and value ranges of the repository's sf0.01 test data, as one parquet
file each. ``check`` tests every query against its DuckDB oracle from
``ORACLES`` (one untimed pass that also warms the plans up), then
``timed_pass`` times one pass with a noop sink.

The pinned ``minhash_pairs_docs`` oracle holds the pairs of the fixed
test documents, not of generated ones, so that query is checked against
exact all-pairs Jaccard instead (``exact_pairs``, the shingling of the
``jaccard_pairs_docs`` oracle): every pair it returns must be an exact
pair with the same Jaccard, and no pair at 0.8 or above may be missed
(planted near-duplicates guarantee some).
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

SUITE = (
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "events_sessionize", "topk_per_user", "seen_antijoin",
    "dedup_exact_docs", "token_stats", "quality_per_doc",
    "minhash_pairs_docs", "embedding_topk",
)

# rows per table, about sf0.01
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_ORDERS = 15_000
N_EVENTS = 10_000
N_DOCS = 500
N_VECTORS = 500

_WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small customer "
          "query big stream group filter vector the a of and to is").split()
_LANGS = ("en", "zh", "de", "fr", "es")


def _ts(base: str, offsets_s) -> np.ndarray:
    return (np.datetime64(base, "us")
            + (np.asarray(offsets_s) * 1e6).astype("timedelta64[us]"))


def _tables(seed: int) -> dict:
    """{table: {column: array}} for one seed."""
    rng = np.random.default_rng(seed)
    nc, ns, no = N_CUSTOMERS, N_SUPPLIERS, N_ORDERS
    day = 86_400
    t: dict = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }
    order_day = rng.integers(0, 6 * 365, no)
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts("1995-01-01", order_day * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no),
    }
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = len(okey)
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, 2000, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": (np.arange(nl) + 1 - np.repeat(
            np.cumsum(lines) - lines, lines)).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts("1995-01-01", (np.repeat(order_day, lines)
                                         + rng.integers(1, 122, nl)) * day),
    }
    # users step by 9 up to past the last customer key, so the
    # anti-join against customers keeps some of them
    ne = N_EVENTS
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        # whole seconds: Spark's unix_timestamp drops the fraction that
        # DuckDB's epoch keeps, which would split sessions differently
        # at a gap of 1800.x s
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day, ne))),
        "user_id": rng.integers(0, 200, ne) * 9,
        "event_type": rng.choice(["click", "view", "purchase", "signup",
                                  "error"], ne),
        "value": np.round(rng.exponential(50, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.04:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
            continue
        toks = list(rng.choice(_WORDS, rng.integers(8, 90)))
        if i > 20 and rng.random() < 0.08:  # near-duplicate: last word differs
            src = texts[rng.integers(0, i)].split()
            last = _WORDS.index(src[-1].rstrip(".!,?"))
            toks = src[:-1] + [_WORDS[(last + 1) % len(_WORDS)]]
        if rng.random() < 0.2:
            toks[-1] += rng.choice([".", "!", ",", "?"])
        texts.append(" ".join(toks))
    t["documents"] = {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, N_DOCS, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    label = rng.integers(0, 10, N_VECTORS).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[label] + rng.normal(0, 0.6, (N_VECTORS, 64))) / 8
    t["embeddings"] = {
        "vec_id": np.arange(N_VECTORS, dtype=np.int64),
        "embedding": [v for v in vecs.astype(np.float32)],
        "label": label,
    }
    return t


def generate(path: str, seed: int) -> None:
    """Write the suite's tables under ``path`` as ``<table>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for name, cols in _tables(seed).items():
        arrays = {}
        for col, values in cols.items():
            if col == "embedding":
                arrays[col] = pa.array([list(v) for v in values],
                                       type=pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(values)
        pq.write_table(pa.table(arrays), os.path.join(path, f"{name}.parquet"))


def _cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.7g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, np.generic):
        return _cell(v.item())
    return repr(v)


def _rows(pdf) -> tuple[list[str], list[tuple]]:
    """Column names and rows, both sorted: order-insensitive, floats to
    seven significant digits."""
    cols = sorted(pdf.columns)
    return cols, sorted(tuple(_cell(r[c]) for c in cols)
                        for r in pdf.to_dict("records"))


def _diff(name: str, got, want) -> list[str]:
    (gc, gr), (wc, wr) = _rows(got), _rows(want)
    if gc != wc:
        return [f"{name}: columns {gc} != oracle {wc}"]
    if gr != wr:
        return [f"{name}: {len(gr)} rows differ from the oracle's {len(wr)}"]
    return []


def exact_pairs(texts: list[str], threshold: float = 0.5) -> dict:
    """{(id_a, id_b): Jaccard rounded to 6 places} of every document
    pair at or above ``threshold``, over distinct word 3-gram shingles
    as the ``jaccard_pairs_docs`` oracle forms them, all pairs compared."""
    shingles = []
    for text in texts:
        toks = " ".join(text.lower().split()).split(" ")
        shingles.append({" ".join(toks[i:i + 3])
                         for i in range(max(len(toks) - 2, 1))})
    out = {}
    for a, sa in enumerate(shingles):
        for b in range(a + 1, len(shingles)):
            sb = shingles[b]
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                out[(a, b)] = round(j, 6)
    return out


def _minhash_errors(got, want: dict) -> list[str]:
    errors = []
    for a, b, j in got[["id_a", "id_b", "jaccard"]].itertuples(index=False):
        if abs(want.get((int(a), int(b)), -1.0) - float(j)) > 1e-6:
            errors.append(f"minhash_pairs_docs: ({a}, {b}, {j}) is not an "
                          "exact Jaccard pair")
            break
    found = {(int(a), int(b)) for a, b in
             got[["id_a", "id_b"]].itertuples(index=False)}
    missed = [k for k, j in want.items() if j >= 0.8 and k not in found]
    if missed:
        errors.append(f"minhash_pairs_docs missed {len(missed)} pairs at "
                      f"Jaccard >= 0.8, e.g. {missed[:3]}")
    if not any(j >= 0.8 for j in want.values()):
        errors.append("minhash_pairs_docs: no planted near-duplicate pair")
    return errors


def check(spark, path: str) -> list[str]:
    """Every suite query against its DuckDB oracle; the violations."""
    import duckdb

    from crawler_to_md_spark.queries import ORACLES, QUERIES

    con = duckdb.connect()
    try:
        for f in os.listdir(path):
            table = f.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(path, f)}'")
        errors = []
        for name in SUITE:
            got = QUERIES[name](spark, path).toPandas()
            if name == "minhash_pairs_docs":
                texts = con.sql("SELECT text FROM documents ORDER BY doc_id")
                errors += _minhash_errors(
                    got, exact_pairs([r[0] for r in texts.fetchall()]))
            else:
                errors += _diff(name, got, con.sql(ORACLES[name]).df())
        return errors
    finally:
        con.close()


def timed_pass(spark, path: str) -> dict[str, float]:
    """Seconds of each suite query, written to a noop sink."""
    from crawler_to_md_spark.queries import QUERIES

    out = {}
    for name in SUITE:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, path)
        df.write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t0
    return out


def layer_times(spark, path: str, seed: int, run_checked) -> dict:
    """{``queries.<name>_s``: (seconds, 1)} of one warm pass, after the
    checked pass over freshly generated tables."""
    generate(path, seed)
    run_checked(lambda: {"errors": check(spark, path)})
    return {f"queries.{name}_s": (s, 1)
            for name, s in timed_pass(spark, path).items()}
