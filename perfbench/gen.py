"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + PyArrow, single-threaded and free of wall
clocks, so one seed always produces byte-identical files.

- ``star_schema``: the ten catalog tables (``catalog.TABLES``) with the
  column names, physical types and value ranges of the TPC-H-shaped
  test data the qkeys are written against, at any scale factor
  (lineitem = 6M x sf rows), one row group per table like the stock
  test data.
- ``etl_inputs``: the reference DAGs' inputs: hw-shaped CSV with
  nulls, the ragged airtravel/grades CSV pair, REST ``posts`` records
  with duplicate ids and invalid bodies, and HTML pages. The returned
  manifest carries every count a replay must report, computed here
  from the generated values rather than by Spark.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "green", "large", "small", "hot", "cold",
            "shiny", "dull", "smooth", "rough", "light", "dark"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = ["a", "the", "batch", "part", "spark", "line", "column", "order",
         "small", "big", "sort", "fast", "slow", "value", "scan", "hash",
         "group", "agg", "filter", "query", "key", "window", "row", "table",
         "stream", "merge", "data", "vector", "join", "customer"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
_EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
_WRITE_OPTS = dict(compression="snappy", write_statistics=True)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform money values with exactly two decimals."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    idx = pa.array(rng.integers(0, len(choices), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(choices, pa.string())).cast(pa.string())


def _days(rng: np.random.Generator, start: int, n_days: int, n: int) -> pa.Array:
    us = start + rng.integers(0, n_days, n).astype(np.int64) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _write(table: pa.Table, path: str) -> None:
    """One row group, written under a temporary name and renamed."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, len(table)), **_WRITE_OPTS)
    os.replace(tmp, path)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale ``sf`` as Arrow tables."""
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_doc = max(1, round(50_000 * sf))
    n_vec = max(1, round(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })

    r = _rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_supp)),
    })

    r = _rng(seed, 3)
    keys = np.arange(n_part, dtype=np.int64)
    pname = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": _pick(r, pname, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
    })

    r = _rng(seed, 4)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_cents(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(r, _EPOCH_1995, 2404, n_ord),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = _rng(seed, 5)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(r, 900.0, 104999.99, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _days(r, _EPOCH_1995 + _US_PER_DAY, 2498, n_line),
    })

    r = _rng(seed, 6)
    ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _US_PER_DAY, n_ev).astype(np.int64))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": _pick(r, [f'{{"k": {k}}}' for k in range(100)], n_ev),
    })

    t["documents"] = _documents(_rng(seed, 7), n_doc)
    t["embeddings"] = _embeddings(_rng(seed, 8), n_vec)
    return t


def _documents(r: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts; ~10% are near-duplicates of an earlier
    document (one word replaced), so MinHash dedup has pairs to find."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and r.random() < 0.1:
            toks = texts[int(r.integers(0, i))].split(" ")
            toks[int(r.integers(0, len(toks)))] = str(words[r.integers(0, len(words))])
        else:
            toks = list(words[r.integers(0, len(words), int(r.integers(8, 100)))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, n),
        "source": _pick(r, [f"src{i}" for i in range(20)], n),
        "n_chars": pa.array(np.asarray([len(s) for s in texts], dtype=np.int64)),
    })


def _embeddings(r: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten label centroids. The centroids
    come from a fixed stream, so the LSH bucket structure, and with it
    the work an ANN query does, is the same for every seed."""
    centroids = _rng(0, 99).standard_normal((10, dim))
    labels = r.integers(0, 10, n)
    vecs = centroids[labels] + 0.7 * r.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def star_schema(out_dir: str, seed: int, sf: float, tables: list[str] | None = None) -> str:
    """Write the catalog tables as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        if tables is None or name in tables:
            _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ------------------------------------------------------------------ ETL

POSTS_SCHEMA = "userId BIGINT, id BIGINT, title STRING, body STRING"
HW_HEADER = "Index,Height(Inches),Weight(Pounds)"
AIR_HEADER = "Month,1958,1959,1960"
GRADES_HEADER = "Last name,First name,SSN,Final,Grade"
# Links per page the scrape replay keeps.
MAX_LINKS = 10
MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
          "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]


def _hw_csv(r: np.random.Generator, path: str, start: int, n: int) -> int:
    """One hw_200-shaped CSV; returns rows with no missing value."""
    h = np.round(r.normal(68.0, 1.9, n), 2)
    w = np.round(r.normal(127.0, 11.6, n), 2)
    h_null = r.random(n) < 0.05
    w_null = r.random(n) < 0.05
    lines = [HW_HEADER]
    for i in range(n):
        hs = "" if h_null[i] else repr(float(h[i]))
        ws = "" if w_null[i] else repr(float(w[i]))
        lines.append(f"{start + i},{hs},{ws}")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return int(n - np.count_nonzero(h_null | w_null))


def _air_csv(r: np.random.Generator, path: str, n: int) -> int:
    """airtravel shape with ~5% all-empty rows; returns non-empty rows."""
    empty = r.random(n) < 0.05
    vals = r.integers(300, 700, (n, 3))
    lines = [AIR_HEADER]
    for i in range(n):
        if empty[i]:
            lines.append(",,,")
        else:
            lines.append(f"{MONTHS[i % 12]},{vals[i, 0]},{vals[i, 1]},{vals[i, 2]}")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return int(n - np.count_nonzero(empty))


def _grades_csv(r: np.random.Generator, path: str, n: int) -> int:
    """grades shape (no column shared with airtravel), ~5% all-empty."""
    empty = r.random(n) < 0.05
    final = np.round(r.uniform(20.0, 100.0, n), 1)
    lines = [GRADES_HEADER]
    for i in range(n):
        if empty[i]:
            lines.append(",,,,")
        else:
            grade = "ABCDF"[min(4, int((100.0 - final[i]) // 16))]
            lines.append(f"Last{i},First{i},{i:03d}-{i % 97:02d}-{i % 9973:04d},"
                         f"{final[i]},{grade}")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return int(n - np.count_nonzero(empty))


def _posts(r: np.random.Generator, n: int) -> tuple[list[dict], dict[str, int]]:
    """REST ``posts`` records: ~10% re-deliver an earlier id, ~5% lack a
    body or a title (invalid under the required-keys contract)."""
    records: list[dict] = []
    next_id = 1
    for i in range(n):
        if records and r.random() < 0.10:
            pid = records[int(r.integers(0, len(records)))]["id"]
        else:
            pid, next_id = next_id, next_id + 1
        rec = {"userId": int(r.integers(1, 11)), "id": pid,
               "title": f"post {pid} rev {i}", "body": f"body of post {pid} " * 3}
        roll = r.random()
        if roll < 0.03:
            rec["body"] = None
        elif roll < 0.05:
            del rec["title"]
        records.append(rec)
    valid = [p for p in records if p.get("title") is not None and p.get("body") is not None]
    return records, {
        "records": len(records),
        "valid": len(valid),
        "invalid": len(records) - len(valid),
        "distinct_valid_ids": len({p["id"] for p in valid}),
        "titled": sum(1 for p in records if p.get("title") is not None),
    }


def _pages(r: np.random.Generator, n: int) -> tuple[pa.Table, int]:
    """HTML pages with 0-3 h1s and 0-20 links; returns the page table
    and the number of scraped messages (h1s + first ``MAX_LINKS``)."""
    ids, html, total = [], [], 0
    for i in range(n):
        n_h1 = int(r.integers(0, 4))
        n_a = int(r.integers(0, 21))
        body = [f"<h1> Title {i}.{k} </h1><p>para {k}</p>" for k in range(n_h1)]
        body += [f'<a href="https://site{i % 50}.example/p/{i}/{k}">l{k}</a>'
                 for k in range(n_a)]
        body.append('<a name="no-href">skip</a>')
        ids.append(f"page-{i}")
        html.append("<html><body>" + "".join(body) + "</body></html>")
        total += n_h1 + min(n_a, MAX_LINKS)
    return pa.table({"page_id": pa.array(ids, pa.string()),
                     "html": pa.array(html, pa.string())}), total


def etl_inputs(out_dir: str, seed: int, hw_rows: int, hw_files: int, ragged_rows: int,
               posts: int, pages: int) -> dict:
    """Write the ETL replay inputs under ``out_dir``; returns the
    manifest (file names relative to ``out_dir`` plus every expected
    count)."""
    os.makedirs(out_dir, exist_ok=True)
    hw_dir = os.path.join(out_dir, "hw")
    os.makedirs(hw_dir, exist_ok=True)
    r = _rng(seed, 20)
    per_file = hw_rows // hw_files
    hw_complete = 0
    for f in range(hw_files):
        hw_complete += _hw_csv(r, os.path.join(hw_dir, f"hw_{f}.csv"), f * per_file, per_file)
    air = os.path.join(out_dir, "airtravel.csv")
    grades = os.path.join(out_dir, "grades.csv")
    ragged_kept = _air_csv(_rng(seed, 21), air, ragged_rows)
    ragged_kept += _grades_csv(_rng(seed, 22), grades, ragged_rows)

    records, post_counts = _posts(_rng(seed, 23), posts)
    posts_path = os.path.join(out_dir, "posts.json")
    with open(posts_path, "w", encoding="utf-8") as fh:
        json.dump(records, fh, sort_keys=True)

    page_table, scraped = _pages(_rng(seed, 24), pages)
    pages_path = os.path.join(out_dir, "pages.parquet")
    _write(page_table, pages_path)

    manifest = {
        "hw_dir": "hw",
        "hw_rows": per_file * hw_files,
        "hw_complete": hw_complete,
        "air_csv": "airtravel.csv",
        "grades_csv": "grades.csv",
        "ragged_kept": ragged_kept,
        "posts_json": "posts.json",
        "posts": post_counts,
        "pages_parquet": "pages.parquet",
        "pages": pages,
        "scraped_messages": scraped,
    }
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, sort_keys=True, indent=1)
    return manifest
