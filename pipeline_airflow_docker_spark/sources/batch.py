"""File / API batch sources (S1-S4).

The reference spools everything through ``/tmp`` files and re-parses at
every stage (SURVEY.md §4.1 "Pipelining: none"). Here a source returns a
lazy DataFrame once and the whole downstream pipeline stays one Catalyst
plan — no intermediate materialization.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def fetch_url_to_staging(
    url: str,
    dest_path: str,
    timeout: float = 10.0,
    max_retries: int = 3,
    opener: Callable[[str, float], bytes] | None = None,
) -> str:
    """S1: GET ``url`` and spool the body to ``dest_path``.

    Reference shape: ``requests.get`` then write to ``/tmp/data.csv``
    [ref dags/etl_data_pipeline.py:9-14], with the enhanced DAG's
    retry loop [ref dags/kafka_to_mongo_pipeline_enchanced.py:44-63]
    (3 attempts, 10 s timeout) folded in.

    This is a driver/edge-side helper by design: HTTP fetch of a single
    small file does not parallelize. At scale the staging area is object
    storage and this step is owned by the orchestration layer; the
    engine starts at ``read_csv``/``read_json_records`` over staging.

    ``opener`` injects the transport (tests pass a fake; default is
    urllib so the engine has zero hard deps beyond pyspark).
    """
    if opener is None:
        def opener(u: str, t: float) -> bytes:  # pragma: no cover - network
            import urllib.request

            with urllib.request.urlopen(u, timeout=t) as resp:
                if getattr(resp, "status", 200) >= 400:
                    raise OSError(f"HTTP {resp.status} for {u}")
                return resp.read()

    last_err: Exception | None = None
    for _ in range(max_retries):
        try:
            body = opener(url, timeout)
            break
        except Exception as exc:  # retry transient fetch failures
            last_err = exc
    else:
        raise OSError(f"fetch failed after {max_retries} attempts: {url}") from last_err
    with open(dest_path, "wb") as fh:
        fh.write(body)
    return dest_path


# Reader half of the engine's LOSSLESS CSV dialect (see
# sinks/batch.py:CSV_LOSSLESS_WRITE for the writer half and the full
# contract). multiLine is load-bearing: quoted embedded newlines are
# records, not row splits — the cost is that each FILE becomes the
# split unit (a multiLine file can't be chunked mid-file), so writers
# targeting this dialect should emit many files (one per partition,
# which write_csv already does). emptyValue/nullValue keep '' and NULL
# distinct (the default dialect collapses both to NULL). lineSep is
# load-bearing too: without it the multiLine parser auto-detects the
# record separator and SWALLOWS a NUL byte that immediately follows a
# quoted embedded '\n' ('\n\x00' read back as '\n' — found by the r16
# Hypothesis sweep); pinning '\n' restores exact fidelity for control
# bytes adjacent to separators. The writer half pins the same lineSep.
# charToEscapeQuoteEscaping is load-bearing as well: with escape ==
# quote == '"', Spark defaults it to '\0', so univocity treats NUL as
# the escape-escape character and DROPS every NUL in a quoted field
# that also holds a doubled quote ('-\x00"' is written correctly as
# "-\x00""" but read back as '-"'). Pinning it to '"' leaves NUL as
# plain data.
CSV_LOSSLESS_READ: dict[str, str | bool] = {
    "multiLine": True,
    "escape": '"',
    "charToEscapeQuoteEscaping": '"',
    "nullValue": "\\N",
    "emptyValue": "",
    "lineSep": "\n",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
}


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    dialect: str = "compat",
) -> DataFrame:
    """S2: CSV scan [ref dags/etl_data_pipeline.py:18 ``pd.read_csv``].

    Schema-first by default; ``schema=None`` falls back to the
    reference's inference behavior (``inferSchema`` is an extra full
    pass over the data — acceptable compat mode, wrong default at
    100 TB).

    ``dialect="compat"`` (default) reads external CSV the way the
    reference's ``pd.read_csv`` broadly does: splittable line-records,
    empty fields are NULL, backslash escapes. ``dialect="lossless"``
    reads engine-written hand-offs (``sinks.batch.write_csv`` with the
    same dialect) with exact string fidelity — see
    ``sinks/batch.py:CSV_LOSSLESS_WRITE`` for the contract and its one
    documented collision.
    """
    reader = spark.read.option("header", header)
    if dialect == "lossless":
        for k, v in CSV_LOSSLESS_READ.items():
            reader = reader.option(k, v)
    elif dialect != "compat":
        raise ValueError(f"unknown CSV dialect {dialect!r}; known: compat, lossless")
    if schema is None:
        reader = reader.option("inferSchema", True)
    else:
        reader = reader.schema(schema)
    return reader.csv(path)


def _probe_json_array(path: str) -> bool | None:
    """Peek at the first non-whitespace byte of the first data file
    under ``path`` (literal file, directory, or glob). ``True`` = the
    file is a JSON *array* document (pandas ``orient="records"``) that
    needs ``multiLine``; ``False`` = line-delimited; ``None`` = could
    not probe (non-local path) — caller falls back to plan-level
    detection. Driver-side, bounded: one open() of <=4 KiB.
    """
    import glob as _glob  # noqa: PLC0415
    import os  # noqa: PLC0415

    try:
        local = path.removeprefix("file://")
        candidates = sorted(_glob.glob(local)) or [local]
        first = candidates[0]
        if os.path.isdir(first):
            inner = sorted(
                f for f in os.listdir(first) if not f.startswith((".", "_"))
            )
            if not inner:
                return None
            first = os.path.join(first, inner[0])
        with open(first, "rb") as fh:
            head = fh.read(4096).lstrip()
        return head.startswith(b"[")
    except OSError:
        return None


def read_json_records(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """S3: JSON scan [ref dags/etl_data_pipeline_mongodb.py:35
    ``pd.read_json``].

    Reads JSONL and also ``orient="records"`` array files (the
    reference's format). Array files are detected up-front by probing
    the first bytes for ``[`` — this works with or without an explicit
    schema (the old corrupt-column heuristic was schema-inference-only:
    with a schema Spark never synthesizes ``_corrupt_record``, and a
    pretty-printed array silently read as one all-null row per line).
    For non-local paths where the probe can't see the bytes, the
    corrupt-column fallback still covers the inference case. Bad
    records are quarantined in ``_corrupt_record`` instead of crashing
    the job (the reference crashes on the first malformed message —
    SURVEY.md §1.3).
    """
    multiline = _probe_json_array(path)
    reader = spark.read
    if multiline:
        reader = reader.option("multiLine", True)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    if multiline is None and "_corrupt_record" in df.columns and len(df.columns) == 1:
        # Probe couldn't run and the whole file parsed as corrupt => a
        # JSON array document, not JSONL: re-read multiLine.
        reader = spark.read.option("multiLine", True)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.json(path)
    return df


def read_rest_json(
    spark: SparkSession,
    url: str,
    schema: StructType | str,
    fetch: Callable[[str], Sequence[dict[str, Any]]] | None = None,
    timeout: float = 10.0,
    max_retries: int = 3,
) -> DataFrame:
    """S4: REST JSON array-of-objects endpoint -> DataFrame.

    Reference shape: ``requests.get(url).json()`` -> list[dict]
    [ref producer.py:12-20; dags/kafka_to_mongo_pipeline.py:38-48],
    with the retry variant's bounded attempts
    [ref dags/kafka_to_mongo_pipeline_enchanced.py:44-63].

    A REST page is driver-sized by definition (the reference's is 100
    records), so ``createDataFrame`` is the honest mapping. For
    *partitioned* API reads at scale the idiomatic Spark 4 path is a
    Python Data Source (``pyspark.sql.datasource.DataSource``) that
    splits the keyspace across executors — that variant only differs in
    who calls ``fetch``, so it shares this signature.

    ``schema`` is required: schema-on-read inference from a remote
    payload is how the reference gets crash-on-bad-record behavior.
    """
    if fetch is None:
        def fetch(u: str) -> Sequence[dict[str, Any]]:  # pragma: no cover - network
            import urllib.request

            with urllib.request.urlopen(u, timeout=timeout) as resp:
                return json.loads(resp.read().decode("utf-8"))

    last_err: Exception | None = None
    for _ in range(max_retries):
        try:
            records = list(fetch(url))
            break
        except Exception as exc:
            last_err = exc
    else:
        raise OSError(f"API fetch failed after {max_retries} attempts: {url}") from last_err
    return spark.createDataFrame(records, schema=schema)


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Columnar ORC scan — same predicate-pushdown / column-pruning /
    vectorized-read properties as the parquet path (ORC support is
    built into Spark). Completes the format matrix next to CSV/JSON/
    parquet so a warehouse exporting ORC plugs in without conversion."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Raw-file ingest for multimodal corpora: one row per file with
    ``(path, modificationTime, length, content: binary)`` via Spark's
    built-in ``binaryFile`` source — the input end of the
    `operators/multimodal.py` pipeline (attach_binary_payload /
    extract_features consume exactly this shape).

    Scale notes: the source parallelizes per-file (fine for media
    corpora of many files); `spark.sql.files.maxPartitionBytes` does
    not split single files, so one giant file = one task — shard at
    produce time. Push a path glob down instead of filtering
    post-scan so listing prunes before any byte is read.
    """
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
