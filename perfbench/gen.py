"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is made here from the seed: the
bibliographic CSV queue of the MetaProcess workload and the ten parquet
tables of the operator suite. The same seed always gives byte-identical
inputs.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CSV_COLUMNS = ["id", "title", "author", "pub_date", "venue", "volume",
               "issue", "page", "type", "publisher", "editor"]

TITLE_WORDS = ["analysis", "review", "model", "protein", "climate", "neural",
               "network", "quantum", "gene", "expression", "imaging",
               "optimization", "distributed", "systems", "learning",
               "statistical", "methods", "large-scale", "data", "folding",
               "prediction", "survey", "theory", "algorithms"]
SURNAMES = ["Smith", "Johnson", "Williams", "Brown", "Garcia", "Chen",
            "Kumar", "Anderson", "Martinez", "Lee", "Rossi", "Muller",
            "Silva", "Kowalski", "Nakamura", "Okafor", "Dubois", "Larsen"]
GIVEN = ["John", "Emily", "David", "Sarah", "Maria", "Wei", "Raj", "Lisa",
         "Carlos", "Yuki", "Anna", "Marco", "Ines", "Piotr", "Kenji", "Ada"]
TYPES = ["journal article", "journal article", "journal article",
         "book chapter", "proceedings article"]


def orcid(n: int) -> str:
    """A valid ORCID (ISO 7064 11,2 check digit) for a 15-digit body."""
    body = f"{n:015d}"
    total = 0
    for ch in body:
        total = (total + int(ch)) * 2
    check = (12 - total % 11) % 11
    digits = body + ("X" if check == 10 else str(check))
    return "-".join(digits[i:i + 4] for i in range(0, 16, 4))


def issn(n: int) -> str:
    """A valid ISSN (mod-11 check digit) for a 7-digit body."""
    body = f"{n:07d}"
    s = sum((8 - i) * int(ch) for i, ch in enumerate(body))
    check = (11 - s % 11) % 11
    return f"{body[:4]}-{body[4:]}{'X' if check == 10 else check}"


def _write_csv(path: str, rows) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_ALL)
        w.writerow(CSV_COLUMNS)
        for r in rows:
            w.writerow([r[c] for c in CSV_COLUMNS])


def queue_inputs(out_dir: str, seed: int, n_store: int, n_batch: int,
                 n_batches: int) -> dict:
    """The MetaProcess queue: one fresh CSV that fills the empty store, and
    `n_batches` enrichment CSVs of `n_batch` records each.

    About a third of the store records are partial (no venue, volume, issue,
    pages or pmid). An enrichment batch is half complete versions of such
    partial records and half new records that share authors, venues and
    publishers with the store. Returns the file paths; the caller queues a
    re-submission of the first enrichment batch last, under a new name.
    """
    rnd = np.random.default_rng(seed)
    n_auth = max(20, n_store // 8)
    n_venue = max(5, n_store // 100)
    authors = []
    for i in range(n_auth):
        name = f"{SURNAMES[i % len(SURNAMES)]}{i // len(SURNAMES)}, " \
               f"{GIVEN[rnd.integers(len(GIVEN))]}"
        authors.append(f"{name} [orcid:{orcid(seed * 1000003 + i)}]")
    venues = [f"Journal of {TITLE_WORDS[i % len(TITLE_WORDS)].title()} "
              f"{i} [issn:{issn(1000000 + (seed * 7919 + i) % 8999999)}]"
              for i in range(n_venue)]
    publishers = [f"Publisher {i} [crossref:{100 + i}]" for i in range(8)]

    def record(k: int, partial: bool) -> dict:
        title = " ".join(TITLE_WORDS[j] for j in
                         rnd.choice(len(TITLE_WORDS), 6, replace=False))
        auth = "; ".join(authors[j] for j in
                         rnd.choice(n_auth, int(rnd.integers(1, 5)),
                                    replace=False))
        start = int(rnd.integers(1, 900))
        return {
            "doi": f"doi:10.{1000 + seed % 9000}/bench.{k:07d}",
            "pmid": f"pmid:{20000000 + seed % 1000 * 100000 + k}",
            "title": title.capitalize(), "author": auth,
            "pub_date": f"{2000 + int(rnd.integers(25))}-"
                        f"{int(rnd.integers(1, 13)):02d}",
            "venue": venues[int(rnd.integers(n_venue))],
            "volume": str(int(rnd.integers(1, 60))),
            "issue": str(int(rnd.integers(1, 13))),
            "page": f"{start}-{start + int(rnd.integers(4, 30))}",
            "type": TYPES[int(rnd.integers(len(TYPES)))],
            "publisher": publishers[int(rnd.integers(len(publishers)))],
            "partial": partial,
        }

    def row(r: dict, complete: bool) -> dict:
        full = complete or not r["partial"]
        return {
            "id": f"{r['doi']} {r['pmid']}" if full else r["doi"],
            "title": r["title"], "author": r["author"],
            "pub_date": r["pub_date"],
            "venue": r["venue"] if full else "",
            "volume": r["volume"] if full else "",
            "issue": r["issue"] if full else "",
            "page": r["page"] if full else "",
            "type": r["type"], "publisher": r["publisher"], "editor": "",
        }

    store = [record(k, partial=rnd.random() < 0.35) for k in range(n_store)]
    os.makedirs(out_dir, exist_ok=True)
    fresh = os.path.join(out_dir, "q0000_fresh.csv")
    _write_csv(fresh, (row(r, False) for r in store))

    partial = [r for r in store if r["partial"]]
    rnd.shuffle(partial)
    n_upd = n_batch // 2
    batches = []
    next_k = n_store
    for b in range(n_batches):
        completed = partial[b * n_upd:(b + 1) * n_upd]
        new = [record(next_k + j, partial=False)
               for j in range(n_batch - len(completed))]
        next_k += len(new)
        path = os.path.join(out_dir, f"q{b + 1:04d}_enrich.csv")
        _write_csv(path, [row(r, True) for r in completed + new])
        batches.append(path)
    return {"fresh": fresh, "batches": batches, "n_store": n_store,
            "n_batch": n_batch}


DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate",
             "gizmo"]


def _ts(rnd, lo: str, hi: str, n: int, unit: str):
    a = np.datetime64(lo, unit).astype(np.int64)
    b = np.datetime64(hi, unit).astype(np.int64)
    return rnd.integers(a, b, n).astype(f"datetime64[{unit}]")


def _write_table(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def query_tables(out_dir: str, seed: int, sf: float) -> None:
    """The ten TPC-H-like tables the operator suite reads, in the layout of
    the repository's test tables (TESTDATA.md): one single-row-group
    parquet file each, same column names and types, independent uniform
    columns, and one document in twenty a near-duplicate of another.
    `documents` and `embeddings` keep 500 rows below sf 0.1, as those
    tables do."""
    rnd = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = 500 if sf < 0.1 else int(50000 * sf)
    n_vec = 500 if sf < 0.1 else int(20000 * sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    money = lambda lo, hi, n: np.round(rnd.uniform(lo, hi, n), 2)  # noqa: E731

    _write_table(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write_table(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32)})
    _write_table(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rnd.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": rnd.choice(["MACHINERY", "AUTOMOBILE", "BUILDING",
                                    "HOUSEHOLD", "FURNITURE"], n_cust)})
    _write_table(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rnd.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    _write_table(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rnd.integers(0, 8, n_part), rnd.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rnd.integers(1, 26, n_part)],
        "p_type": rnd.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO",
                              "SMALL", "MEDIUM"], n_part),
        "p_size": pa.array(rnd.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000)
                                           * 0.1, 2), f64)})
    _write_table(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rnd.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rnd.choice(["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(
            _ts(rnd, "1995-01-01", "2001-08-02", n_ord, "D")
            .astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": rnd.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write_table(out_dir, "lineitem", {
        "l_orderkey": pa.array(rnd.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rnd.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rnd.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rnd.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rnd.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 105000, n_line), f64),
        "l_discount": pa.array(rnd.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rnd.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": rnd.choice(["A", "N", "R"], n_line),
        "l_linestatus": rnd.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(
            _ts(rnd, "1995-02-01", "2001-10-28", n_line, "D")
            .astype("datetime64[us]"), pa.timestamp("us"))})
    gaps = rnd.exponential(259.0, n_ev)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    _write_table(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array((ts0 + np.cumsum(gaps * 1e6).astype(np.int64))
                       .astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rnd.integers(0, max(150, n_ev // 667), n_ev), i64),
        "event_type": rnd.choice(["click", "signup", "error", "view",
                                  "purchase"], n_ev),
        "value": pa.array(money(0.01, 490, n_ev), f64),
        "props": [f'{{"k": {k}}}' for k in rnd.integers(0, 100, n_ev)]})
    texts = [" ".join(rnd.choice(DOC_WORDS, int(rnd.integers(10, 100))))
             for _ in range(n_doc)]
    # one document in twenty is a near-duplicate: an earlier one plus "dup"
    for k in range(1, n_doc):
        if rnd.random() < 0.05:
            texts[k] = texts[int(rnd.integers(k))] + " dup"
    _write_table(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rnd.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{s}" for s in rnd.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rnd.normal(size=(n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write_table(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rnd.integers(0, 10, n_vec), i32)})
