"""Workload definitions: inputs, the operation list, and output checks.

An operation is one qkey (build the lazy plan, count + order-insensitive
xxhash64 checksum action, result) or one pipeline replay writing to a
fresh path. ``Operation.fn`` returns the value the per-operation check
compares; the once-per-run checks (``Operation.verify``) run untimed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

import gen

# Registry keys of the floor-bound mix (a subset of the bench headline
# list): distinct plans, each about a second or less at sf0.1, covering
# filter/as-of join/window/top-k shapes plus the Arrow
# UDF, LSH and chunking paths. Keys whose results run to 10^5+ rows are left
# out: the untimed oracle comparison collects every row in Python.
MIXED_KEYS = [
    "q_filter_pred", "q_topk", "q_win_rank", "q_chunk_docs", "q_udf", "q_join_asof",
    "q_knn_lsh",
]

ETL_SIZES = dict(hw_rows=50_000, hw_files=4, ragged_rows=1_000, posts=2_000, pages=500)

# Generated star schema per workload: scale factor and tables.
WORKLOADS = {
    "sf0.1-mixed": {"sf": 0.1, "tables": None},
    "etl-replay": {"sf": 0.01, "tables": ["events"]},
}

# Untimed passes after the checked one. Counted, not timed: the JIT
# settles after a number of calls, and a slow machine must not get a
# colder start. Measured on 4 vCPUs, mixed passes fall 4.2 -> 3.2 s over
# the first three after the checked pass. Replay passes fall only ~8%
# from the first to the second, less than a warm pass (~8 s) is worth
# in a run's time budget.
WARM_PASSES = {"sf0.1-mixed": 2, "etl-replay": 0}


@dataclass
class Operation:
    name: str
    layer: str  # "plans" for qkeys, "pipelines" for replays
    fn: Callable[[Any, str], Any]  # (spark, out_path) -> checked value
    # Untimed checks run once per process: (spark, value, out_path) ->
    # failure message or None.
    verify: Callable[[Any, Any, str], str | None] | None = None
    source_bytes: int = 0
    meta: dict = field(default_factory=dict)


def prepare_inputs(workload: str, seed: int, cache_dir: str) -> tuple[dict, bool, str]:
    """Generate (or reuse) the seeded inputs; returns the description,
    whether it was generated in this call, and its cache entry name."""
    spec = WORKLOADS[workload]
    # The key names every generator parameter, so a resized input set
    # is never served from an older cache entry.
    params = json.dumps([spec, ETL_SIZES if workload == "etl-replay" else None], sort_keys=True)
    key = f"{workload}-s{seed}-{hashlib.sha1(params.encode()).hexdigest()[:10]}"
    root = os.path.join(cache_dir, key)
    done = os.path.join(root, "DONE")
    # Paths are rebuilt from ``root`` on every call, so a moved checkout
    # keeps its cache.
    desc: dict = {"sf_dir": os.path.join(root, "tables"), "etl_dir": os.path.join(root, "etl")}
    if os.path.exists(done):
        with open(done, encoding="utf-8") as fh:
            desc["etl"] = json.load(fh)["etl"]
        return desc, False, key
    shutil.rmtree(root, ignore_errors=True)
    gen.star_schema(desc["sf_dir"], seed, spec["sf"], spec["tables"])
    manifest = None
    if workload == "etl-replay":
        manifest = gen.etl_inputs(desc["etl_dir"], seed, **ETL_SIZES)
    desc["etl"] = manifest
    with open(done, "w", encoding="utf-8") as fh:
        json.dump({"etl": manifest}, fh)
    return desc, True, key


def checksum_df(df):
    """``(rows, order-insensitive hash)`` as a one-row aggregate."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.types import MapType  # noqa: PLC0415

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        # Hash functions reject maps; hash their sorted entries instead.
        cols.append(F.array_sort(F.map_entries(c)) if isinstance(f.dataType, MapType) else c)
    return df.select(F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(*cols)).alias("h"))


class ParityChecker:
    """Oracle parity with the comparison of ``tools/check_parity.py``
    (type gate, row count, column names, canonical order-insensitive
    values), applied to an operation's own result frame so the check
    re-runs no plan build or streaming query."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb  # noqa: PLC0415

        from tools import check_parity  # noqa: PLC0415

        self.check_parity = check_parity
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for name in sorted(os.listdir(sf_dir)):
            if name.endswith(".parquet"):
                path = os.path.join(sf_dir, name)
                self.con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")

    def __call__(self, key: str, df, rows: int) -> str | None:
        from pipeline_airflow_docker_spark import plans  # noqa: PLC0415

        cp = self.check_parity
        srows, scols = df.collect(), df.columns
        if len(srows) != rows:
            return f"{key}: checksum counted {rows} rows, collect returned {len(srows)}"
        oracle = plans.ORACLES.get(key)
        if oracle is None:
            return None
        rel = self.con.sql(oracle)
        ocols = list(rel.columns)
        if viol := cp.oracle_type_violations(ocols, list(rel.types)):
            return f"{key}: ORACLE_TYPE {'; '.join(viol)}"
        orows = rel.fetchall()
        if sorted(scols) != sorted(ocols):
            return f"{key}: SCHEMA_MISMATCH spark={sorted(scols)} oracle={sorted(ocols)}"
        if len(srows) != len(orows):
            return f"{key}: ROWCOUNT_MISMATCH spark={len(srows)} oracle={len(orows)}"
        if cp._rows_canon(scols, srows) != cp._rows_canon(ocols, orows):
            return f"{key}: VALUE_MISMATCH"
        return None


def _query_op(key: str, sf_dir: str, parity: ParityChecker, build_hook=None,
              collect_hook=None) -> Operation:
    from pipeline_airflow_docker_spark import plans  # noqa: PLC0415

    last = {}

    def fn(spark, _out):
        build = plans.QUERIES[key]
        df = build_hook(build, spark, sf_dir) if build_hook else build(spark, sf_dir)
        agg = checksum_df(df)
        row = (collect_hook(agg) if collect_hook else agg.collect())[0]
        last["df"] = df
        return (int(row["n"]), int(row["h"] or 0))

    def verify(_spark, value, _out):
        return parity(key, last.pop("df"), value[0])

    return Operation(key, "plans", fn, verify)


def _file_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _readback(expected_rows: int):
    def verify(spark, _value, out):
        got = spark.read.parquet(out).count()
        return None if got == expected_rows else f"read back {got} rows, expected {expected_rows}"
    return verify


def _etl_ops(desc: dict, fetch_hook=None) -> list[Operation]:
    from pipeline_airflow_docker_spark import pipelines  # noqa: PLC0415

    m, root = desc["etl"], desc["etl_dir"]
    hw = os.path.join(root, m["hw_dir"])
    air = os.path.join(root, m["air_csv"])
    grades = os.path.join(root, m["grades_csv"])
    pages = os.path.join(root, m["pages_parquet"])
    with open(os.path.join(root, m["posts_json"]), encoding="utf-8") as fh:
        posts = json.load(fh)
    pc = m["posts"]

    def fetch(_url):
        return fetch_hook(posts) if fetch_hook else posts

    ops = [
        Operation("etl_data_pipeline", "pipelines",
                  lambda spark, out: pipelines.etl_data_pipeline(spark, hw, out),
                  _readback(m["hw_complete"]), _file_bytes(hw),
                  {"expect": {"rows_loaded": m["hw_complete"]}}),
        Operation("etl_data_pipeline_mongodb", "pipelines",
                  lambda spark, out: pipelines.etl_data_pipeline_mongodb(spark, hw, out),
                  _readback(m["hw_complete"]), _file_bytes(hw),
                  {"expect": {"rows_loaded": m["hw_complete"]}}),
        Operation("etl_data_pipeline_mongodb_complex", "pipelines",
                  lambda spark, out: pipelines.etl_data_pipeline_mongodb_complex(
                      spark, air, grades, out, min_rows=10),
                  _readback(m["ragged_kept"]), _file_bytes(air) + _file_bytes(grades),
                  {"expect": {"nb_lignes": m["ragged_kept"], "rows_loaded": m["ragged_kept"],
                              "branch": "load"}}),
        # Bounded consume at the generated batch size: the reference's
        # bounded-consume semantics (see perfbench/README.md for the
        # known defect with a bound far above the batch).
        Operation("kafka_to_mongo_pipeline_enhanced", "pipelines",
                  lambda spark, out: pipelines.kafka_to_mongo_pipeline_enhanced(
                      spark, "http://api.invalid/posts", gen.POSTS_SCHEMA, out,
                      max_messages=pc["records"], fetch=fetch),
                  _readback(pc["distinct_valid_ids"]), 0,
                  {"expect": {"processed_items": pc["valid"],
                              "stored_items": pc["distinct_valid_ids"],
                              "invalid_items": pc["invalid"]}}),
        Operation("data_pipeline_workflow", "pipelines",
                  lambda spark, out: pipelines.data_pipeline_workflow(
                      spark, "http://api.invalid/posts", gen.POSTS_SCHEMA, out, fetch=fetch),
                  _readback(pc["records"]), 0,
                  {"expect": {"data_count": pc["records"], "processed_count": pc["records"]}}),
        Operation("scrap_to_kafka_to_mongo_pipeline", "pipelines",
                  lambda spark, out: pipelines.scrap_to_kafka_to_mongo_pipeline(
                      spark, spark.read.parquet(pages), out, max_links=gen.MAX_LINKS),
                  _readback(m["scraped_messages"]), _file_bytes(pages),
                  {"expect": {"messages_processed": m["scraped_messages"]}}),
    ]
    return ops


def operations(workload: str, desc: dict, build_hook=None, collect_hook=None,
               fetch_hook=None) -> list[Operation]:
    """The workload's operation list (one pass, unordered)."""
    parity = ParityChecker(desc["sf_dir"])
    if workload == "etl-replay":
        keys, extra = ["q_stream_bounded"], _etl_ops(desc, fetch_hook)
    else:
        keys, extra = MIXED_KEYS, []
    return extra + [_query_op(k, desc["sf_dir"], parity, build_hook, collect_hook)
                    for k in keys]


def pass_order(ops: list[Operation], rng: random.Random) -> list[Operation]:
    """One pass: every operation once, interleaved in a seeded order."""
    order = list(ops)
    rng.shuffle(order)
    return order


def check_value(op: Operation, value: Any, reference: Any = None) -> str | None:
    """Per-operation output check: a replay must return the metrics the
    generator predicts; a qkey must reproduce the (rows, checksum) pair
    of its checked warm-up run (``reference``, when there is one)."""
    expect = op.meta.get("expect")
    if expect is not None and value != expect:
        return f"{op.name}: returned {value}, expected {expect}"
    if reference is not None and value != reference:
        return f"{op.name}: result {value} differs from the checked run {reference}"
    return None
