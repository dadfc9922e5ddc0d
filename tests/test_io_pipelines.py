"""Batch sources/sinks (SURVEY.md §2 A.1/A.6) + reference-DAG replays.

Fixture shapes come from FIXTURES.md §1 (posts / hw_200 / airtravel /
grades / scraped), the reference's actual inputs.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pipeline_airflow_docker_spark import pipelines
from pipeline_airflow_docker_spark.sinks import (
    kafka_payload,
    write_csv,
    write_json_records,
    write_parquet_partitioned,
)
from pipeline_airflow_docker_spark.sources import (
    fetch_url_to_staging,
    read_csv,
    read_json_records,
    read_rest_json,
    scrape_records,
)
from pipeline_airflow_docker_spark.sources.scrape import parse_page

POSTS_SCHEMA = "userId BIGINT, id BIGINT, title STRING, body STRING"

# FIXTURES.md §1.1 — the jsonplaceholder /posts contract, with one
# invalid record (missing body) for the validation filter.
POSTS = [
    {"userId": 1, "id": 1, "title": "alpha", "body": "first body"},
    {"userId": 1, "id": 2, "title": "beta", "body": "second body"},
    {"userId": 2, "id": 3, "title": "gamma", "body": None},
]

HTML_PAGE = """
<html><body>
  <h1> Main Title </h1>
  <p>noise</p>
  <h1>Second <b>Title</b></h1>
  <a href="https://a.example/1">one</a>
  <a name="anchor-no-href">skip me</a>
  <a href="/rel/2">two</a>
</body></html>
"""


@pytest.fixture(scope="module")
def hw_csv(spark, tmp_path_factory) -> str:
    """FIXTURES.md §1.2 hw_200 shape, with missing values for dropna."""
    p = tmp_path_factory.mktemp("io") / "hw.csv"
    p.write_text(
        "Index,Height(Inches),Weight(Pounds)\n"
        "1,65.78,112.99\n"
        "2,71.52,\n"
        "3,,102.09\n"
        "4,68.22,142.34\n"
    )
    return str(p)


def test_fetch_url_to_staging_retries(tmp_path):
    calls = []

    def flaky(url, timeout):
        calls.append(url)
        if len(calls) < 3:
            raise OSError("transient")
        return b"Index,V\n1,2\n"

    dest = str(tmp_path / "data.csv")
    out = fetch_url_to_staging("http://x/data.csv", dest, opener=flaky)
    assert out == dest and len(calls) == 3
    assert open(dest).read().startswith("Index,V")

    with pytest.raises(OSError, match="3 attempts"):
        fetch_url_to_staging(
            "http://x/y", dest, opener=lambda u, t: (_ for _ in ()).throw(OSError()),
        )


def test_csv_roundtrip_and_schema_first(spark, hw_csv, tmp_path):
    inferred = read_csv(spark, hw_csv)
    assert dict(inferred.dtypes)["Height(Inches)"] == "double"
    typed = read_csv(spark, hw_csv, schema="`Index` INT, `Height(Inches)` DOUBLE, `Weight(Pounds)` DOUBLE")
    assert typed.count() == 4

    out = str(tmp_path / "csv_out")
    write_csv(typed.coalesce(1), out)
    back = read_csv(spark, out, schema="`Index` INT, `Height(Inches)` DOUBLE, `Weight(Pounds)` DOUBLE")
    assert sorted(r["Index"] for r in back.collect()) == [1, 2, 3, 4]


def test_json_records_reads_jsonl_and_array_files(spark, tmp_path):
    jsonl = tmp_path / "recs.jsonl"
    jsonl.write_text("\n".join(json.dumps(p) for p in POSTS))
    array_file = tmp_path / "recs_array.json"  # pandas orient="records"
    array_file.write_text(json.dumps(POSTS))
    # Pretty-printed array: the record spans many lines, so only a
    # multiLine read parses it. With an explicit schema Spark never
    # synthesizes _corrupt_record, so this case needs the byte probe
    # (a per-line read yields all-null rows, one per text line).
    pretty_file = tmp_path / "recs_pretty.json"
    pretty_file.write_text(json.dumps(POSTS, indent=2))

    for path in (jsonl, array_file, pretty_file):
        for schema in (POSTS_SCHEMA, None):
            df = read_json_records(spark, str(path), schema=schema)
            assert df.count() == 3, path
            assert {r["title"] for r in df.collect()} == {"alpha", "beta", "gamma"}

    out = str(tmp_path / "json_out")
    write_json_records(read_json_records(spark, str(jsonl), POSTS_SCHEMA), out)
    assert read_json_records(spark, out, POSTS_SCHEMA).count() == 3


def test_read_rest_json_with_injected_fetch(spark):
    df = read_rest_json(spark, "http://api/posts", POSTS_SCHEMA, fetch=lambda u: POSTS)
    assert df.count() == 3 and df.columns == ["userId", "id", "title", "body"]

    attempts = []

    def flaky(url):
        attempts.append(1)
        if len(attempts) < 2:
            raise OSError("boom")
        return POSTS

    assert read_rest_json(spark, "http://api/posts", POSTS_SCHEMA, fetch=flaky).count() == 3


def test_parse_page_matches_reference_shape():
    recs = parse_page(HTML_PAGE)
    # h1 text is stripped (ref :59) incl. nested tags and emitted with
    # the reference's type="title" tag; hrefs in order; anchor without
    # href skipped; 1-based index per type (ref :58,65).
    assert recs[:2] == [
        {"type": "title", "index": 1, "content": "Main Title"},
        {"type": "title", "index": 2, "content": "Second Title"},
    ]
    assert [r["content"] for r in recs if r["type"] == "link"] == [
        "https://a.example/1", "/rel/2",
    ]
    # first-10-links cap (ref :65)
    many = "".join(f'<a href="/l{i}">x</a>' for i in range(25))
    assert sum(r["type"] == "link" for r in parse_page(many)) == 10
    assert parse_page(None) == []


def test_scrape_records_explodes_corpus(spark):
    pages = spark.createDataFrame(
        [("p1", HTML_PAGE), ("p2", "<h1>Solo</h1>"), ("p3", "<p>nothing</p>")],
        "page_id STRING, html STRING",
    )
    out = scrape_records(pages).orderBy("page_id", "type", "index")
    rows = out.collect()
    assert out.columns == ["page_id", "type", "index", "content"]
    assert len(rows) == 5  # p1: 2 h1 + 2 links, p2: 1 h1, p3: none
    assert [r["content"] for r in rows if r["page_id"] == "p2"] == ["Solo"]


def test_kafka_payload_roundtrip(spark):
    df = spark.createDataFrame([Row(**p) for p in POSTS[:2]])
    payload = kafka_payload(df, key_cols=["userId", "id"])
    assert payload.columns == ["key", "value"]
    first = payload.orderBy("key").first()
    assert first["key"] == "1|1" and json.loads(first["value"])["title"] == "alpha"

    back = payload.select(F.from_json("value", POSTS_SCHEMA).alias("r")).select("r.*")
    assert sorted(r["id"] for r in back.collect()) == [1, 2]


def test_write_parquet_partitioned_layout(spark, sf_dir, tmp_path):
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = str(tmp_path / "events_by_type")
    write_parquet_partitioned(events, out, partition_by=["event_type"])
    subdirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    assert len(subdirs) >= 2  # hive layout -> partition pruning works
    # partition pruning: the filter must land in PartitionFilters, not
    # a post-scan Filter (that is the whole point of the layout)
    pruned = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1][:200]
    assert events.count() == spark.read.parquet(out).count()


# ------------------------------------------------------------------
# Reference-DAG replays (one lazy job each)
# ------------------------------------------------------------------

def test_etl_data_pipeline_replay(spark, hw_csv, tmp_path):
    m = pipelines.etl_data_pipeline(spark, hw_csv, str(tmp_path / "cleaned"))
    assert m == {"rows_loaded": 2}  # rows 2,3 have a missing value


def test_etl_mongodb_complex_replay_branches(spark, tmp_path):
    air = tmp_path / "airtravel.csv"  # FIXTURES.md §1.3
    air.write_text("Month,1958,1959,1960\nJAN,340,360,417\nFEB,318,342,391\n")
    grades = tmp_path / "grades.csv"  # FIXTURES.md §1.4, zero overlap
    grades.write_text('Last name,First name,SSN,Final,Grade\nAlfalfa,Aloysius,123-45-6789,49.0,D-\n')

    coll = str(tmp_path / "coll")
    m = pipelines.etl_data_pipeline_mongodb_complex(spark, str(air), str(grades), coll, min_rows=10)
    assert m == {"nb_lignes": 3, "rows_loaded": 0, "branch": "skip"}
    assert not os.path.exists(coll)  # skip branch: nothing written

    m2 = pipelines.etl_data_pipeline_mongodb_complex(spark, str(air), str(grades), coll, min_rows=2)
    assert m2["branch"] == "load" and m2["rows_loaded"] == 3
    loaded = spark.read.parquet(coll)
    # ragged concat semantics: union of both column sets, nulls filled
    assert set(loaded.columns) == {"Month", "1958", "1959", "1960",
                                   "Last name", "First name", "SSN", "Final", "Grade"}


def test_kafka_to_mongo_pipeline_replay(spark, tmp_path):
    coll = str(tmp_path / "posts_coll")
    m = pipelines.kafka_to_mongo_pipeline(
        spark, "http://api/posts", POSTS_SCHEMA, coll,
        max_messages=2, fetch=lambda u: POSTS,
    )
    assert m == {"messages_processed": 2}
    got = spark.read.parquet(coll)
    assert got.columns == ["title"]  # projected (ref :76)
    assert {r["title"] for r in got.collect()} == {"ALPHA", "BETA"}


def test_enhanced_pipeline_upsert_and_metrics(spark, tmp_path):
    dupes = POSTS + [
        {"userId": 9, "id": 1, "title": "alpha-v2", "body": "rewritten"},
    ]
    coll = str(tmp_path / "upserted")
    m = pipelines.kafka_to_mongo_pipeline_enhanced(
        spark, "http://api/posts", POSTS_SCHEMA, coll,
        fetch=lambda u: dupes, ts=F.to_timestamp(F.lit("2024-01-01 00:00:00")),
    )
    # record with null body fails required-keys validation (ref :31-42)
    assert m["invalid_items"] == 1 and m["processed_items"] == 3
    got = spark.read.parquet(coll)
    assert m["stored_items"] == got.count() == 2  # id=1 deduped
    winner = {r["id"]: r["title"] for r in got.collect()}
    # last-writer-wins by key: tie on ts resolved by tiebreak col
    assert winner[1] == "alpha-v2" and winner[2] == "beta"
    assert set(got.columns) >= {"processed_timestamp", "source", "data_status"}


def test_scrape_pipeline_replay_fixes_key_bug(spark, tmp_path):
    pages = spark.createDataFrame([("p1", HTML_PAGE)], "page_id STRING, html STRING")
    coll = str(tmp_path / "scraped")
    m = pipelines.scrap_to_kafka_to_mongo_pipeline(spark, pages, coll)
    assert m == {"messages_processed": 4}
    got = {r["content"] for r in spark.read.parquet(coll).collect()}
    # bug 2 fixed: content projected+uppercased (not the missing 'title')
    assert "MAIN TITLE" in got and "HTTPS://A.EXAMPLE/1" in got


def test_data_pipeline_workflow_nested_wrap(spark, tmp_path):
    coll = str(tmp_path / "wrapped")
    m = pipelines.data_pipeline_workflow(
        spark, "http://api/posts", POSTS_SCHEMA, coll,
        fetch=lambda u: POSTS, ts=F.to_timestamp(F.lit("2024-01-01 00:00:00")),
    )
    assert m == {"data_count": 3, "processed_count": 3}
    got = spark.read.parquet(coll)
    assert got.columns == ["original_data", "processed_at", "status"]
    r = got.filter(F.col("original_data.id") == 1).first()
    assert r["original_data"]["title"] == "alpha" and r["status"] == "processed"


def test_kafka_to_mongo_bounded_decode(spark, tmp_path):
    msgs = spark.createDataFrame(
        [(json.dumps(p).encode("utf-8"),) for p in POSTS[:2]], "value BINARY",
    )
    coll = str(tmp_path / "decoded")
    m = pipelines.kafka_to_mongo(spark, msgs, POSTS_SCHEMA, coll)
    assert m == {"messages_processed": 2}
    assert spark.read.parquet(coll).count() == 2


# ---- observed replay metrics: values and job counts -----------------

def _ts():
    return F.to_timestamp(F.lit("2024-01-01 00:00:00"))


# 100 REST records over 7 ids; every 5th body is NULL (20 invalid).
HOSTILE_POSTS = [
    {"userId": 1, "id": i % 7, "title": f"t{i}", "body": None if i % 5 == 0 else "b"}
    for i in range(100)
]


def _count_jobs(spark, fn) -> int:
    """Run ``fn()`` inside a fresh job group; return the number of
    Spark jobs it started (listener bus drained first)."""
    sc = spark.sparkContext
    group = f"count-jobs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_observed_counts_on_empty_rest_batch(spark, tmp_path):
    m = pipelines.data_pipeline_workflow(
        spark, "http://api/posts", POSTS_SCHEMA, str(tmp_path / "wf"),
        fetch=lambda u: [], ts=_ts(),
    )
    assert m == {"data_count": 0, "processed_count": 0}
    m = pipelines.kafka_to_mongo_pipeline_enhanced(
        spark, "http://api/posts", POSTS_SCHEMA, str(tmp_path / "enh"),
        fetch=lambda u: [], ts=_ts(),
    )
    assert m == {"processed_items": 0, "stored_items": 0, "invalid_items": 0}


@pytest.mark.parametrize("max_messages, expected", [
    # the first 10 rows by id all carry id 0 -> one stored document
    (10, {"processed_items": 10, "stored_items": 1, "invalid_items": 20}),
    (1000, {"processed_items": 80, "stored_items": 7, "invalid_items": 20}),
])
def test_enhanced_observed_counts_hostile_batch(spark, tmp_path, max_messages, expected):
    coll = str(tmp_path / "enh")
    m = pipelines.kafka_to_mongo_pipeline_enhanced(
        spark, "http://api/posts", POSTS_SCHEMA, coll,
        max_messages=max_messages, fetch=lambda u: HOSTILE_POSTS, ts=_ts(),
    )
    assert m == expected
    assert spark.read.parquet(coll).count() == expected["stored_items"]


def test_enhanced_rejects_empty_consume_bound(spark, tmp_path):
    # limit(0) would prune the observed raw/valid nodes from the plan.
    with pytest.raises(ValueError, match="max_messages"):
        pipelines.kafka_to_mongo_pipeline_enhanced(
            spark, "http://api/posts", POSTS_SCHEMA, str(tmp_path / "enh"),
            max_messages=0, fetch=lambda u: POSTS,
        )


@pytest.mark.parametrize("replay", ["etl_data_pipeline", "data_pipeline_workflow"])
def test_failed_write_raises_without_blocking_on_observation(spark, hw_csv, tmp_path, replay):
    import threading

    blocker = tmp_path / "regular_file"
    blocker.write_text("not a directory")
    out = str(blocker / "out")
    run = {
        "etl_data_pipeline": lambda: pipelines.etl_data_pipeline(spark, hw_csv, out),
        "data_pipeline_workflow": lambda: pipelines.data_pipeline_workflow(
            spark, "http://api/posts", POSTS_SCHEMA, out, fetch=lambda u: POSTS, ts=_ts()),
    }[replay]
    outcome = {}

    def target():
        try:
            outcome["value"] = run()
        except Exception as exc:  # noqa: BLE001 - the outcome under test
            outcome["error"] = exc

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout=180)
    assert not t.is_alive(), "replay blocked after a failed write"
    assert "error" in outcome and "value" not in outcome


def test_replay_job_counts(spark, hw_csv, tmp_path):
    """The metrics are observed inside the write job, so a replay of a
    REST batch or DataFrame runs exactly one job. The CSV replays add
    only compat mode's header + inferSchema jobs per scanned source
    and, for the branching DAG, its branch count."""
    air = tmp_path / "airtravel.csv"
    air.write_text("Month,1958,1959,1960\nJAN,340,360,417\nFEB,318,342,391\n")
    grades = tmp_path / "grades.csv"
    grades.write_text('Last name,First name,SSN,Final,Grade\nAlfalfa,Aloysius,123-45-6789,49.0,D-\n')
    pages = spark.createDataFrame([("p1", HTML_PAGE)], "page_id STRING, html STRING")
    msgs = spark.createDataFrame(
        [(json.dumps(p).encode("utf-8"),) for p in POSTS], "value BINARY",
    )
    fetch = lambda u: HOSTILE_POSTS  # noqa: E731
    cases = {
        "kafka_to_mongo_pipeline_enhanced": (1, lambda o: pipelines.kafka_to_mongo_pipeline_enhanced(
            spark, "http://api/posts", POSTS_SCHEMA, o, max_messages=10, fetch=fetch, ts=_ts())),
        "data_pipeline_workflow": (1, lambda o: pipelines.data_pipeline_workflow(
            spark, "http://api/posts", POSTS_SCHEMA, o, fetch=fetch, ts=_ts())),
        "scrap_to_kafka_to_mongo_pipeline": (1, lambda o: pipelines.scrap_to_kafka_to_mongo_pipeline(
            spark, pages, o)),
        "kafka_to_mongo_pipeline": (1, lambda o: pipelines.kafka_to_mongo_pipeline(
            spark, "http://api/posts", POSTS_SCHEMA, o, max_messages=10, fetch=fetch)),
        "kafka_to_mongo": (1, lambda o: pipelines.kafka_to_mongo(spark, msgs, POSTS_SCHEMA, o)),
        "etl_data_pipeline": (3, lambda o: pipelines.etl_data_pipeline(spark, hw_csv, o)),
        "etl_data_pipeline_mongodb": (3, lambda o: pipelines.etl_data_pipeline_mongodb(
            spark, hw_csv, o)),
        "etl_data_pipeline_mongodb_complex": (7, lambda o: pipelines.etl_data_pipeline_mongodb_complex(
            spark, str(air), str(grades), o, min_rows=2)),
    }
    got = {
        name: _count_jobs(spark, lambda: run(str(tmp_path / name)))
        for name, (_, run) in cases.items()
    }
    assert got == {name: jobs for name, (jobs, _) in cases.items()}


def test_jdbc_replace_live_roundtrip(spark, tmp_path):
    """K6 executed against a real database, not just option-plumbed:
    embedded Derby (bundled with Spark for the Hive metastore) gives a
    genuine JDBC write path. Covers the reference's
    to_sql(if_exists="replace") semantics [ref
    dags/etl_data_pipeline.py:32-34]: create, read-back, then
    drop-and-recreate on overwrite."""
    from pipeline_airflow_docker_spark.sinks.batch import write_jdbc_replace

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    def read_back():
        df = (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "cleaned")
        )
        for k, v in props.items():
            df = df.option(k, v)
        return df.load()

    first = spark.createDataFrame(
        [(1, 65.8), (2, 71.5), (3, 69.4)], "idx INT, height DOUBLE"
    )
    write_jdbc_replace(first, url, "cleaned", props)
    assert sorted(r["idx"] for r in read_back().collect()) == [1, 2, 3]

    replacement = spark.createDataFrame([(9, 60.0)], "idx INT, height DOUBLE")
    write_jdbc_replace(replacement, url, "cleaned", props)
    rows = read_back().collect()
    assert [(r["idx"], r["height"]) for r in rows] == [(9, 60.0)]


def test_mongo_writer_options_insert_and_upsert():
    """K4/K5 connector plumbing, tested the way the Kafka sink's
    options are: insert_many shape vs keyed-upsert shape [ref
    dags/kafka_to_mongo_pipeline_enchanced.py:141-145]."""
    from pipeline_airflow_docker_spark.sinks.batch import mongo_writer_options

    plain = mongo_writer_options("mongodb://h:27017", "etl", "posts")
    assert plain == {
        "connection.uri": "mongodb://h:27017",
        "database": "etl",
        "collection": "posts",
        "ordered": "false",
    }
    upsert = mongo_writer_options(
        "mongodb://h:27017", "etl", "posts", id_cols=["userId", "id"]
    )
    assert upsert["idFieldList"] == "userId,id"
    assert upsert["operationType"] == "replace"
    assert upsert["upsertDocument"] == "true"


def test_append_documents_mongo_falls_back_without_connector(spark, tmp_path):
    """The connector jar isn't bundled; with a fallback path the write
    lands in the parquet stand-in, without one the error propagates."""
    import pytest

    from pipeline_airflow_docker_spark.sinks.batch import append_documents_mongo

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING")
    out = str(tmp_path / "mongo_standin")
    route = append_documents_mongo(
        df, "mongodb://h:27017", "etl", "posts", fallback_path=out
    )
    assert route == "parquet"
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 2]

    with pytest.raises(Exception, match="mongodb|DATA_SOURCE|ClassNotFound"):
        append_documents_mongo(df, "mongodb://h:27017", "etl", "posts")


# ---- ORC / binaryFile / compaction (round 2) -------------------------


def test_orc_roundtrip_preserves_rows_and_schema(spark, tmp_path):
    from pipeline_airflow_docker_spark.sinks.batch import write_orc
    from pipeline_airflow_docker_spark.sources.batch import read_orc

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dest = str(tmp_path / "docs_orc")
    write_orc(src, dest)
    back = read_orc(spark, dest)
    assert back.schema == src.schema
    assert back.count() == src.count()
    a = {r["doc_id"]: r["text"] for r in src.collect()}
    b = {r["doc_id"]: r["text"] for r in back.collect()}
    assert a == b


def test_orc_scan_pushes_filters(spark, tmp_path):
    from pipeline_airflow_docker_spark.sinks.batch import write_orc
    from pipeline_airflow_docker_spark.sources.batch import read_orc

    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dest = str(tmp_path / "docs_orc_pf")
    write_orc(src, dest)
    plan = (
        read_orc(spark, dest)
        .filter("n_chars > 500")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,500)]" in plan


def test_binary_files_ingest_feeds_multimodal_ops(spark, tmp_path):
    from pipeline_airflow_docker_spark.sources.batch import read_binary_files

    media = tmp_path / "media"
    media.mkdir()
    payloads = {f"clip_{i}.bin": bytes(range(i, i + 16)) for i in range(3)}
    for name, body in payloads.items():
        (media / name).write_bytes(body)
    (media / "ignore.txt").write_text("not media")

    df = read_binary_files(spark, str(media), glob="*.bin")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 3
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"]) for r in rows}
    assert got == payloads
    assert all(r["length"] == 16 for r in rows)


def test_compact_files_reduces_file_count(spark, tmp_path):
    from pipeline_airflow_docker_spark.sinks.batch import compact_files

    src = str(tmp_path / "fragmented")
    dest = str(tmp_path / "compacted")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(32).write.parquet(src)
    n_before = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    assert n_before == 32

    n_target = compact_files(spark, src, dest, target_file_bytes=256 * 1024 * 1024)
    n_after = len([f for f in os.listdir(dest) if f.endswith(".parquet")])
    assert n_target == 1 and n_after == 1
    assert spark.read.parquet(dest).count() == docs.count()


# ---- round-3 format/robustness hardening ----------------------------


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution on read: two batches with different columns
    union under mergeSchema; the missing side null-fills. The
    lakehouse 'column added mid-history' case."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id LONG, v STRING").write.mode(
        "append"
    ).parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id LONG, v STRING, score DOUBLE"
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_parquet_codecs_roundtrip(spark, tmp_path):
    """zstd and snappy parquet round-trip identically — codec is a
    storage knob, never semantics."""
    src = spark.range(1000).withColumn("v", F.col("id") * 2)
    got = {}
    for codec in ("snappy", "zstd"):
        p = str(tmp_path / codec)
        src.write.option("compression", codec).mode("overwrite").parquet(p)
        got[codec] = sorted(
            (r.id, r.v) for r in spark.read.parquet(p).collect()
        )
    assert got["snappy"] == got["zstd"] and len(got["zstd"]) == 1000


def test_operators_tolerate_empty_input(spark):
    """Empty-frame robustness: the round-3 operators must return empty
    results (same schema), not crash — the 'no data arrived today'
    backfill case."""
    from pipeline_airflow_docker_spark.operators.intervals import (
        scd2_intervals,
        sessionize,
    )
    from pipeline_airflow_docker_spark.operators.reconcile import table_diff
    from pipeline_airflow_docker_spark.operators.splits import (
        mix_corpora,
        shard_assign,
    )

    empty = spark.createDataFrame(
        [], "user_id LONG, event_id LONG, ts TIMESTAMP"
    )
    assert sessionize(empty, ["user_id"], "ts", 60).count() == 0
    assert scd2_intervals(empty, ["user_id"], "ts").count() == 0
    assert shard_assign(empty, "event_id", 4).count() == 0
    assert mix_corpora({"a": (empty, 0.5)}, key_col="event_id").count() == 0
    kv = spark.createDataFrame([], "k LONG, v STRING")
    assert table_diff(kv, kv, keys=["k"]).count() == 0
