"""Seeded inputs for the benchmark's workloads, and the expected outputs the
ETL run is checked against.

Everything here is a pure function of the seed: the same seed writes the same
pages, the same fixture and the same query list.
"""
import datetime
import glob
import json
import os
import random

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

# --------------------------------------------------------------------- ETL

# Sizes per ETL workload; the batch count comes from the run length.
# `banks_per_page` x `pages` rows per batch from a key universe
# `bank_universe` wide; each later batch swaps `swap` of last batch's keys
# for absent ones, changes a cap with `p_change` and malforms one with
# `p_bad`. `etl_reference` is the reference's own batch: one 10-row bank
# page and one 39-row rates page.
ETL_SIZES = {
    "etl_reference": dict(pages=1, banks_per_page=10, bank_universe=14,
                          swap=2, rates=39, p_change=0.3, p_rate_change=0.3,
                          p_bad=0.04),
    "etl_scaled": dict(pages=10, banks_per_page=800, bank_universe=10000,
                       swap=600, rates=2000, p_change=0.2, p_rate_change=0.2,
                       p_bad=0.002),
}

MALFORMED_CAPS = ["n/a", "", "1,234.50", "TBD"]
ENRICH_RATES = [("United Kingdom", "Pound"), ("Euro Zone", "Euro"),
                ("India", "Rupee")]
RATES_YEAR = "2023"
START_DATE = datetime.date(2024, 8, 21)


def _cap(rng):
    return f"{rng.uniform(5, 600):.2f}"


def _bank_page(rows, date, rank0):
    cells = "\n".join(
        f'<tr><td>{rank0 + i + 1}</td><td><a href="/wiki/B{rank0 + i}">'
        f"{name}</a></td><td>{cap}</td></tr>"
        for i, (name, cap) in enumerate(rows))
    return (
        "<html><body>\n"
        "<table><tbody><tr><td>navigation</td></tr></tbody></table>\n"
        "<table><tbody><tr><td>infobox</td></tr></tbody></table>\n"
        '<table class="wikitable"><tbody>\n'
        "<tr><th>Rank</th><th>Bank name</th>"
        "<th>Market cap (US$ billion)</th></tr>\n"
        f"{cells}\n</tbody></table>\n"
        '<footer><ul><li id="footer-info-lastmod"> This page was last edited '
        f"on {date.day} {date.strftime('%B %Y')}, at 10:15"
        "<span>(UTC)</span>.</li></ul></footer>\n</body></html>\n")


def _rates_page(rows):
    body = "\n".join(f"<tr><td>{c}</td><td>{cur}</td><td>{r}</td></tr>"
                     for c, cur, r in rows)
    return ("<html><body><table>\n<thead><tr><th>Country</th><th>Currency</th>"
            f"<th>{RATES_YEAR}</th></tr></thead>\n<tbody>\n{body}\n"
            "</tbody></table></body></html>\n")


def etl_batches(sizes, seed):
    """The feed of every batch: [(bank_rows, rate_rows)], bank_rows a list of
    (name, cap text) and rate_rows a list of (country, currency, rate text).
    Key churn — new, changed, absent, returning and malformed — is drawn from
    the seed.
    """
    rng = random.Random(seed)
    s = sizes
    per_batch = s["pages"] * s["banks_per_page"]
    universe = [f"Bank {i:06d} Holdings" for i in range(s["bank_universe"])]
    last_cap = {}
    current = list(range(per_batch))
    rate_keys = ENRICH_RATES + [(f"Country {i:05d}", f"Currency {i:05d}")
                                for i in range(s["rates"] - len(ENRICH_RATES))]
    extra_rate = len(rate_keys)
    rate_val = {}
    out = []
    for b in range(s["batches"]):
        if b > 0:
            present = set(current)
            absent = [i for i in range(len(universe)) if i not in present]
            drop = set(rng.sample(current, s["swap"]))
            current = [i for i in current if i not in drop] + \
                rng.sample(absent, s["swap"])
        banks = []
        for i in current:
            name = universe[i]
            if rng.random() < s["p_bad"]:
                banks.append((name, rng.choice(MALFORMED_CAPS)))
                continue
            if name not in last_cap or rng.random() < s["p_change"]:
                last_cap[name] = _cap(rng)
            banks.append((name, last_cap[name]))
        if b > 0:
            # one rate row leaves the feed (carry) and one new one arrives
            rate_keys.pop(rng.randrange(len(ENRICH_RATES), len(rate_keys)))
            rate_keys.append((f"Country {extra_rate:05d}",
                              f"Currency {extra_rate:05d}"))
            extra_rate += 1
        rates = []
        for k in rate_keys:
            if k not in rate_val or rng.random() < s["p_rate_change"]:
                rate_val[k] = f"{rng.uniform(0.1, 150):.3f}"
            rates.append((k[0], k[1], rate_val[k]))
        out.append((banks, rates))
    return out


def batch_date(b):
    return START_DATE + datetime.timedelta(days=b)


def write_etl(sizes, seed, root):
    """Write every batch's pages under `root`; return the harness's batch
    list. The clock advances one day per batch.
    """
    batches = []
    for b, (banks, rates) in enumerate(etl_batches(sizes, seed)):
        d = batch_date(b)
        bdir = os.path.join(root, f"batch_{b + 1:04d}")
        banks_dir = os.path.join(bdir, "banks")
        os.makedirs(banks_dir, exist_ok=True)
        n = sizes["banks_per_page"]
        nbytes = 0
        for p in range(sizes["pages"]):
            html = _bank_page(banks[p * n:(p + 1) * n], d, p * n)
            with open(os.path.join(banks_dir, f"page_{p:03d}.html"), "w") as f:
                f.write(html)
            nbytes += len(html.encode())
        rates_page = os.path.join(bdir, "rates.html")
        html = _rates_page(rates)
        with open(rates_page, "w") as f:
            f.write(html)
        nbytes += len(html.encode())
        batches.append({
            "id": f"batch-{b + 1:04d}", "banks_dir": banks_dir,
            "rates_page": rates_page, "date": d.isoformat(),
            "ts": f"{d.isoformat()} 10:00:00", "pages": sizes["pages"],
            "rows": len(banks) + len(rates), "input_bytes": nbytes})
    return batches


def _parses(cap):
    try:
        float(cap)
        return cap.strip() != ""
    except ValueError:
        return False


def expected_etl(feed):
    """Key-level model of the SCD merge decision table (SURVEY §2.5), quirks
    included: inserts and new versions carry no `updated_at`, so they cannot
    be deactivated until a later batch updates them; only rows stamped before
    the batch's day are deactivated; rates are a Type-1 upsert that never
    deactivates. Malformed caps go to quarantine and count as absent keys.

    Returns per-batch counters {(batch_id, table): {counter: n}}, per-batch
    quarantine counts and the final bank state's active / inactive / history
    row counts and rate row count.
    """
    banks = {}   # name -> list of rows {value, batch, active, upd}
    rates = {}   # (country, currency) -> value
    counters, quarantine = {}, {}
    for b, (bank_rows, rate_rows) in enumerate(feed):
        bid = f"batch-{b + 1:04d}"
        good = {n: float(c) for n, c in bank_rows if _parses(c)}
        quarantine[bid] = sum(1 for _, c in bank_rows if not _parses(c))
        tags = dict.fromkeys(["no_change", "update", "insert", "reactivate",
                              "version", "deactivate"], 0)
        for name in set(banks) | set(good):
            rows = banks.get(name, [])
            if not rows:
                banks[name] = [dict(value=good[name], batch=b, active=True,
                                    upd=None)]
                tags["insert"] += 1
                continue
            cur = max(rows, key=lambda r: (r["active"], r["upd"] is not None,
                                           r["upd"] or 0, r["value"]))
            if name not in good:
                stale = cur["upd"] is not None and cur["upd"] < b \
                    and cur["batch"] != b
                if cur["active"] and stale:
                    cur.update(active=False, upd=b)
                    tags["deactivate"] += 1
                continue
            v = good[name]
            if cur["active"]:
                if cur["value"] == v:
                    tags["no_change"] += 1
                else:
                    cur.update(value=v, batch=b, upd=b)
                    tags["update"] += 1
            elif cur["value"] == v:
                cur.update(active=True, batch=b, upd=b)
                tags["reactivate"] += 1
            else:
                rows.append(dict(value=v, batch=b, active=True, upd=None))
                tags["version"] += 1
        counters[(bid, "world_bank_data")] = tags
        rtags = dict.fromkeys(tags, 0)
        for country, currency, r in rate_rows:
            k, v = (country, currency), float(r)
            if k not in rates:
                rtags["insert"] += 1
            elif rates[k] == v:
                rtags["no_change"] += 1
            else:
                rtags["update"] += 1
            rates[k] = v
        counters[(bid, "exchanges_rates")] = rtags
    active = inactive = history = 0
    for rows in banks.values():
        cur = max(rows, key=lambda r: (r["active"], r["upd"] is not None,
                                       r["upd"] or 0, r["value"]))
        active += sum(r["active"] for r in rows)
        inactive += 0 if cur["active"] else 1
        history += len(rows) - 1
    return counters, quarantine, dict(active=active, inactive=inactive,
                                      history=history, rates=len(rates))


COUNTER_COLUMNS = {"no_change": "no_update_count", "update": "update_count",
                   "insert": "new_inserts_count",
                   "reactivate": "reactivate_count",
                   "version": "version_count",
                   "deactivate": "deactivate_count"}


def check_etl(feed, result):
    """Compare the sinks' read-back against the model. Returns
    [(batch id, message)]; the final state belongs to the last batch.
    """
    counters, quarantine, final = expected_etl(feed)
    last = f"batch-{len(feed):04d}"
    fails = []
    got = {(r["batch_id"], r["table_name"]): r for r in result["counters"]}
    for (bid, table), tags in sorted(counters.items()):
        row = got.get((bid, table))
        if row is None:
            fails.append((bid, f"{table} counters missing"))
            continue
        for tag, column in COUNTER_COLUMNS.items():
            if row[column] != tags[tag]:
                fails.append((bid, f"{table} {column}: expected {tags[tag]}, "
                                   f"got {row[column]}"))
    for bid, table in set(got) - set(counters):
        fails.append((bid, f"{table} counters not expected"))
    for bid, n in sorted(quarantine.items()):
        if result["quarantine"].get(bid, 0) != n:
            fails.append((bid, f"quarantine: expected {n}, "
                               f"got {result['quarantine'].get(bid, 0)}"))
    for k, v in final.items():
        if result["final"][k] != v:
            fails.append((last, f"final {k}: expected {v}, "
                                f"got {result['final'][k]}"))
    return fails


# --------------------------------------------------------------- query_mix

POOL_FILE = os.path.join(HERE, "query_pool.json")


def family(name):
    """Operator family of a registered query: the reference-parity core is
    `q<n>_...`, every other family is the name's first `_` segment."""
    if name[0] == "q" and name[1:2].isdigit():
        return "q"
    return name.split("_", 1)[0]


# Families query_mix draws from: the relational core, the three families
# whose operators build shared memos (Dedup, Similarity, Graph) and
# streaming. All 17 families do not fit the run time.
QUERY_FAMILIES = ["q", "dedup", "sim", "graph", "stream"]


def sample_queries(pool, per_family, seed, families=QUERY_FAMILIES):
    """`per_family` queries from each of `families`, drawn from the seed, in
    family order. The pool maps family -> list of names. The order is not
    shuffled: whichever query runs first in a fresh JVM pays most of the JIT
    warm-up, and a seed-drawn order moved the cold pass by 22% between seeds.
    """
    rng = random.Random(seed)
    picked = []
    for fam in sorted(families):
        names = sorted(pool[fam])
        picked += sorted(rng.sample(names, min(per_family, len(names))))
    return picked


def load_pool():
    """Family -> candidate queries. The pool file also lists every registered
    query's measured (cold, warm, oracle) seconds on this benchmark's fixture
    and the queries left out of the pool, each with its reason.
    """
    with open(POOL_FILE) as f:
        return json.load(f)["pool"]


ADJ = ["small", "red", "large", "new", "blue", "hot", "old", "cold"]
NOUN = ["widget", "gizmo", "plate", "gear", "rod", "anvil", "bolt", "ring"]
WORDS = ("the a fast slow big small key value data table row column query "
         "join filter group sort merge hash scan window order line part "
         "customer batch stream spark vector agg").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _dates(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(int)
    hi = np.datetime64(end, "D").astype(int)
    return pd.to_datetime(rng.integers(lo, hi + 1, n).astype("datetime64[D]")) \
        .astype("datetime64[us]")


def write_fixture(root, seed, sf=0.001):
    """A TPC-H-shaped star schema plus `events`, `documents` and `embeddings`,
    with the column names and parquet types the query registry reads.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_ord, n_line = int(150000 * sf), int(1500000 * sf), int(6000000 * sf)
    n_part, n_supp, n_ev = int(200000 * sf), int(10000 * sf), int(1000000 * sf)
    n_docs = n_emb = 500

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32")}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04")}),
    }
    start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span_us = 30 * 86400 * 10**6
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.sort(start + rng.integers(0, span_us, n_ev))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n_ev).astype("int64"),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": money(0, 500, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 90)))
             for _ in range(n_docs)]
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": [v.astype("float32") for v in vecs],
        "label": labels.astype("int32")})
    for name, df in tables.items():
        df.to_parquet(os.path.join(root, f"{name}.parquet"), index=False)


def fixture_rows(root):
    """Row count of every fixture table, from the parquet footers."""
    import pyarrow.parquet as pq
    return {os.path.basename(p)[:-len(".parquet")]: pq.ParquetFile(p).metadata.num_rows
            for p in sorted(glob.glob(os.path.join(root, "*.parquet")))}
