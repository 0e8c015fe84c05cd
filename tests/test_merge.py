"""SCD1 / append / upsert invariants (SURVEY §5.4): key uniqueness,
latest-wins, idempotence, re-ingest no-op, deterministic ties."""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from redshift_etl_spark.operators import merge as M

SCHEMA = "id string, val string, lmd timestamp"


def _df(spark, rows):
    return spark.createDataFrame(
        [(i, v, datetime(2024, 1, d)) for i, v, d in rows], SCHEMA
    )


def _as_set(df):
    return {(r["id"], r["val"], r["lmd"].day) for r in df.collect()}


def test_scd1_latest_wins_and_inserts(spark):
    target = _df(spark, [("a", "old", 1), ("b", "keep", 5)])
    source = _df(spark, [("a", "new", 3), ("b", "stale", 2), ("c", "ins", 1)])
    out = M.merge_scd1(target, source, "id", "lmd")
    assert _as_set(out) == {("a", "new", 3), ("b", "keep", 5), ("c", "ins", 1)}


def test_scd1_equal_recency_keeps_target(spark):
    # P6 uses strict `>` (`Salesforce/Task/SP_litify_task.sql:9-11`)
    target = _df(spark, [("a", "tgt", 3)])
    source = _df(spark, [("a", "src", 3)])
    out = M.merge_scd1(target, source, "id", "lmd")
    assert _as_set(out) == {("a", "tgt", 3)}


def test_scd1_multirow_source_deduped(spark):
    # SURVEY §7 risk 2: staging may hold several rows per key; newest
    # wins, ties broken deterministically
    target = _df(spark, [])
    source = _df(spark, [("a", "v1", 1), ("a", "v2", 4), ("a", "v3", 2)])
    out = M.merge_scd1(target, source, "id", "lmd")
    assert _as_set(out) == {("a", "v2", 4)}


def test_scd1_idempotent(spark):
    target = _df(spark, [("a", "old", 1), ("b", "keep", 5)])
    source = _df(spark, [("a", "new", 3), ("c", "ins", 1)])
    once = M.merge_scd1(target, source, "id", "lmd")
    twice = M.merge_scd1(once, source, "id", "lmd")
    assert _as_set(once) == _as_set(twice)


def test_append_new_anti_join(spark):
    target = _df(spark, [("a", "x", 1)])
    source = _df(spark, [("a", "dup", 2), ("b", "new", 2), ("b", "newer", 3)])
    out = M.append_new(target, source, "id")
    assert _as_set(out) == {("a", "x", 1), ("b", "newer", 3)}


def test_upsert_if_changed_composite_key(spark):
    # J5 — `Google Sheets/Goals/lambda_legal_goals_upsert.py:48-77`
    schema = "email string, week string, goal double"
    target = spark.createDataFrame(
        [("a@x", "w1", 10.0), ("b@x", "w1", 20.0)], schema
    )
    source = spark.createDataFrame(
        [("a@x", "w1", 15.0), ("b@x", "w1", 20.0), ("c@x", "w1", 5.0)], schema
    )
    out = M.upsert_if_changed(
        target, source, ["email", "week"], compare_cols=["goal"]
    )
    assert {(r["email"], r["goal"]) for r in out.collect()} == {
        ("a@x", 15.0), ("b@x", 20.0), ("c@x", 5.0),
    }


def test_latest_per_key_null_recency_loses_and_ties_use_quoted_names(spark):
    # nulls last on the recency, then each tiebreaker descending, nulls
    # last — with column names that only work backtick-quoted
    df = spark.createDataFrame(
        [
            ("a", None, "z", 9),  # null recency never beats a real one
            ("a", 2, "b", 1),
            ("a", 2, "c", None),  # recency tie → larger `tie col` wins
            ("b", None, None, 5),  # all-null recency: tiebreakers decide
            ("b", None, "m", 1),
            ("b", None, "m", 2),  # `tie col` tie → larger `we``ird`
        ],
        "`my key` string, `Rec ency` int, `tie col` string, `we``ird` int",
    )
    out = M.latest_per_key(df, "my key", "Rec ency", ["tie col", "we`ird"])
    assert out.columns == df.columns
    assert {tuple(r) for r in out.collect()} == {("a", 2, "c", None), ("b", None, "m", 2)}


def test_changed_or_new_filter(spark):
    target = _df(spark, [("a", "t", 5), ("b", "t", 5)])
    source = _df(spark, [("a", "older", 3), ("b", "newer", 7), ("c", "new", 1)])
    out = M.changed_or_new(source, target, "id", "lmd")
    assert _as_set(out) == {("b", "newer", 7), ("c", "new", 1)}


def _wide_df(spark, rows, width):
    """(id, val, lmd) plus ``width - 3`` filler columns derived from val,
    so the filler tiebreakers order rows exactly as val does."""
    fill = [f"f{j:02d}" for j in range(width - 3)]
    schema = SCHEMA + "".join(f", {c} string" for c in fill)
    return spark.createDataFrame(
        [
            (i, v, None if d is None else datetime(2024, 1, d),
             *[f"{v}.{j}" for j in range(len(fill))])
            for i, v, d in rows
        ],
        schema,
    )


@pytest.mark.slow
@pytest.mark.parametrize("width", [3, 24, 25])
@settings(max_examples=10, deadline=None)
@example(tgt=[("a", 5)], src=[("a", 5), ("b", None)])  # tie: target stays
@example(tgt=[("a", 3), ("a", 7), ("b", None)], src=[("a", 5), ("b", 2)])
@example(tgt=[("a", None)], src=[("a", None), ("a", 4), ("c", None)])
@given(
    tgt=st.lists(
        st.tuples(st.sampled_from("abcd"), st.none() | st.integers(1, 9)),
        max_size=6,
    ),
    src=st.lists(
        st.tuples(st.sampled_from("abcd"), st.none() | st.integers(1, 9)),
        max_size=6,
    ),
)
def test_scd1_matches_reference_model(spark, width, tgt, src):
    """Property: merge == a trivial Python model of the MERGE, on both
    sides of merge_scd1's 24-column gate, with null recencies and
    duplicate target keys. Source dedup: newest recency wins (nulls
    last), ties → larger val. A source winner replaces every target
    row of its key iff it is strictly newer than at least one of them
    (NULL compares unknown), and is emitted once per such target row
    (once for a new key)."""
    from collections import Counter

    tgt = [(k, f"t{d}", d) for k, d in tgt]
    src = [(k, f"s{d}", d) for k, d in src]
    out = M.merge_scd1(
        _wide_df(spark, tgt, width), _wide_df(spark, src, width), "id", "lmd"
    )
    got = Counter(
        (r["id"], r["val"], r["lmd"].day if r["lmd"] else None)
        for r in out.collect()
    )

    best_src: dict[str, tuple[str, int | None]] = {}
    for k, v, d in src:
        cur = best_src.get(k)
        rank = (d is not None, d or 0, v)
        if cur is None or rank > (cur[1] is not None, cur[1] or 0, cur[0]):
            best_src[k] = (v, d)
    winners = []
    for k, (v, d) in best_src.items():
        older = [td for tk, _, td in tgt if tk == k]
        if not older:
            winners.append((k, v, d))
        elif d is not None:
            winners += [(k, v, d)] * sum(td is not None and d > td for td in older)
    won = {k for k, _, _ in winners}
    want = Counter([r for r in tgt if r[0] not in won] + winners)
    assert got == want


def _scd2_frames(spark):
    from datetime import datetime

    def ts(day):
        return datetime(2024, 1, day)

    target = spark.createDataFrame(
        [
            ("a", 10.0, ts(1), None),
            ("b", 20.0, ts(1), None),
            ("c", 30.0, ts(1), None),
        ],
        "id string, v double, valid_from timestamp, valid_to timestamp",
    )
    source = spark.createDataFrame(
        [
            ("a", 11.0, ts(5)),   # changed → close + open
            ("b", 20.0, ts(5)),   # identical → no-op
            ("d", 40.0, ts(5)),   # new key → insert
        ],
        "id string, v double, ts timestamp",
    )
    return target, source


def test_scd2_paths_and_invariants(spark):
    target, source = _scd2_frames(spark)
    out = M.merge_scd2(target, source, "id", "ts")
    rows = {(r["id"], r["v"], r["valid_from"].day,
             r["valid_to"].day if r["valid_to"] else None)
            for r in out.collect()}
    assert rows == {
        ("a", 10.0, 1, 5),    # closed old version
        ("a", 11.0, 5, None), # opened new version
        ("b", 20.0, 1, None), # unchanged → untouched
        ("c", 30.0, 1, None), # no source → untouched
        ("d", 40.0, 5, None), # fresh insert
    }
    # invariant: exactly one current (valid_to IS NULL) row per key
    cur = out.filter("valid_to IS NULL").groupBy("id").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_scd1_merge_at_matter_width(spark):
    """The reference's widest merge is ~250 columns
    (`Salesforce/Matter/SP_litify_matter.sql:307-595`). merge_scd1 must
    stay schema-driven at that width: plan construction must not blow
    up in analysis/codegen, and merge semantics must hold column-for-
    column (value correctness vs the DuckDB oracle is covered by
    test_oracle_parity on `scd1_merge_wide`)."""
    import time

    from redshift_etl_spark.queries import relational as R

    from .conftest import SF_ORACLE

    t0 = time.monotonic()
    df = R.QUERIES["scd1_merge_wide"](spark, SF_ORACLE)
    build = time.monotonic() - t0
    assert len(df.columns) == 250
    # generous canary: a codegen/analysis blowup at width shows up as
    # minutes, not seconds (warm session builds this in ~2 s)
    assert build < 30, f"wide merge plan build took {build:.1f}s"
    rows = df.collect()
    assert len({r["o_orderkey"] for r in rows}) == len(rows)
    # an updated key carries the full modified payload: status-derived
    # wide strings flip to the source's 'R' prefix
    updated = next(r for r in rows if r["o_orderkey"] % 2 == 0)
    assert updated["o_orderstatus"] == "R"
    assert updated["w001"] == "R_1"
    assert updated["w000"] == updated["o_orderkey"] * 1000


def test_scd2_idempotent(spark):
    target, source = _scd2_frames(spark)
    once = M.merge_scd2(target, source, "id", "ts")
    twice = M.merge_scd2(once, source, "id", "ts")

    def snap(df):
        return {
            (r["id"], r["v"], r["valid_from"], r["valid_to"])
            for r in df.collect()
        }

    assert snap(twice) == snap(once)


def test_apply_cdc_paths(spark):
    target = spark.createDataFrame(
        [("a", 1.0, 1), ("b", 2.0, 1), ("c", 3.0, 1)],
        "id string, v double, ts long",
    )
    changes = spark.createDataFrame(
        [
            ("b", 9.0, 2, "U"),   # update
            ("c", 0.0, 2, "D"),   # delete
            ("d", 4.0, 2, "I"),   # insert
            ("e", 5.0, 2, "I"),   # insert then newer delete → gone
            ("e", 0.0, 3, "D"),
            ("f", 6.0, 3, "U"),   # delete then newer update → present
            ("f", 0.0, 2, "D"),
        ],
        "id string, v double, ts long, op string",
    )
    out = {
        r["id"]: (r["v"], r["ts"])
        for r in M.apply_cdc(target, changes, "id", "ts").collect()
    }
    assert out == {
        "a": (1.0, 1),   # untouched
        "b": (9.0, 2),
        "d": (4.0, 2),
        "f": (6.0, 3),
    }


def test_apply_cdc_same_instant_tie_pins_update_over_delete(spark):
    target = spark.createDataFrame([], "id string, v double, ts long")
    changes = spark.createDataFrame(
        [("x", 1.0, 5, "D"), ("x", 2.0, 5, "U")],
        "id string, v double, ts long, op string",
    )
    out = M.apply_cdc(target, changes, "id", "ts").collect()
    assert [(r["id"], r["v"]) for r in out] == [("x", 2.0)]


def test_scd2_from_cdc_versions_and_delete_closure(spark):
    from redshift_etl_spark.operators import merge as M

    feed = spark.createDataFrame(
        [
            (1, "a", 10.0, "I"),   # v1: closed by the update (ts 20)
            (1, "b", 20.0, "U"),   # v2: closed by the delete (ts 30)
            (1, None, 30.0, "D"),  # closes v2, opens nothing
            (2, "x", 1.0, "I"),    # still current
            (3, "y", 2.0, "I"),    # v1 closed by update; v2 current
            (3, "z", 3.0, "U"),
        ],
        ["k", "v", "ts", "op"],
    )
    hist = {
        (r["k"], r["v"]): (r["valid_to"], r["is_current"])
        for r in M.scd2_from_cdc(feed, "k", "ts").collect()
    }
    assert hist[(1, "a")] == (20.0, False)
    assert hist[(1, "b")] == (30.0, False)
    assert hist[(2, "x")] == (None, True)
    assert hist[(3, "y")] == (3.0, False)
    assert hist[(3, "z")] == (None, True)
    # exactly one current row per surviving key, none for deleted key 1
    currents = [k for (k, _), (_, cur) in hist.items() if cur]
    assert sorted(currents) == [2, 3]


def test_merge_scd1_write_concurrent_reader_contract(spark, tmp_path):
    """The parquet fallback's isolation contract (README 'Design
    rules'): the directory swap is WRITER-atomic — a reader either
    resolves its file listing entirely before the swap (and, if it
    materializes before the old files are GC'd, sees the complete
    pre-merge table) or entirely after (complete post-merge table). A
    reader whose cached listing straddles the swap FAILS FAST with a
    missing-file error on the vanished part-files; it can never return
    a torn mix of old and new rows, because the swap replaces the whole
    directory (old and new part-file names never coexist under the
    store path). Retry re-resolves the listing and succeeds. This is
    the no-transaction-log tradeoff vs the reference's Redshift MERGE
    (Salesforce/Task/SP_litify_task.sql:14) — Delta/Iceberg would give
    lock-free snapshot reads behind the same merge algebra."""
    import pytest
    from py4j.protocol import Py4JJavaError

    path = str(tmp_path / "store")
    t0 = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], ["k", "v", "ts"]
    )
    t0.write.parquet(path)

    # reader resolves its file listing NOW (InMemoryFileIndex is built
    # when the DataFrame is defined and cached in the plan)
    stale_reader = spark.read.parquet(path)
    assert stale_reader.count() == 2  # pre-merge view is complete

    src = spark.createDataFrame([(2, "B", 2), (3, "c", 2)], ["k", "v", "ts"])
    M.merge_scd1_write(path, spark.read.parquet(path), src, "k", "ts")

    # fresh reader: complete post-merge table, atomically visible
    fresh = {
        (r["k"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert fresh == {(1, "a"), (2, "B"), (3, "c")}

    # stale reader: the cached listing names part-files the swap
    # removed -> fail fast (never a torn view). Spark surfaces the
    # FileNotFound either as a wrapped Py4J error or an AnalysisException
    # depending on when re-listing happens; both are the contract's
    # "fail, retry re-resolves".
    with pytest.raises(Exception) as exc_info:
        stale_reader.collect()
    msg = str(exc_info.value)
    assert (
        "FileNotFound" in msg
        or "does not exist" in msg
        or "PATH_NOT_FOUND" in msg
        or "FILE_NOT_EXIST" in msg
    ), msg


# --- table-format dispatch (r07: optional transactional backend) -----------


def _delta_runtime():
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def test_merge_scd1_write_unknown_format_raises(spark, tmp_path):
    import pytest

    t = spark.createDataFrame([(1, "a", 1)], ["id", "v", "ts"])
    s = spark.createDataFrame([(1, "b", 2)], ["id", "v", "ts"])
    with pytest.raises(ValueError, match="table_format"):
        M.merge_scd1_write(
            str(tmp_path / "t"), t, s, "id", "ts", table_format="iceberg"
        )


def test_merge_scd1_write_delta_fails_loudly_without_runtime(spark, tmp_path):
    """Without the delta-spark runtime the delta path must refuse (not
    silently fall back to parquet and drop the transactional
    contract). On a delta-enabled cluster this test is vacuous and the
    delta suite below runs instead."""
    import pytest

    if _delta_runtime() and M.delta_available(spark):
        pytest.skip("delta runtime present — covered by the delta suite")
    t = spark.createDataFrame([(1, "a", 1)], ["id", "v", "ts"])
    s = spark.createDataFrame([(1, "b", 2)], ["id", "v", "ts"])
    with pytest.raises(RuntimeError, match="delta-spark"):
        M.merge_scd1_write(
            str(tmp_path / "t"), t, s, "id", "ts", table_format="delta"
        )


def test_merge_scd1_write_delta_backend(spark, tmp_path):
    """Delta-gated: same row-level semantics as merge_scd1, idempotent
    on replay, and a reader holding a pre-merge snapshot succeeds
    ACROSS the merge without retry (the transactional upgrade over the
    parquet fail-fast contract)."""
    import pytest

    if not _delta_runtime() or not M.delta_available(spark):
        # Vendoring was attempted in r08 and is NOT possible in this
        # sandbox: `pip download delta-spark` reaches no index ("No
        # matching distribution found"), and the runtime jars come
        # from Maven (network) even when the wheel is present. The
        # loud-failure probe test above covers the no-runtime
        # contract; this suite activates unmodified on any
        # delta-enabled cluster.
        pytest.skip("delta-spark runtime not on this classpath")
    path = str(tmp_path / "t")
    t = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], ["id", "v", "ts"]
    )
    s = spark.createDataFrame(
        [(1, "a2", 20), (1, "a1", 15), (3, "c", 5)], ["id", "v", "ts"]
    )
    M.merge_scd1_write(path, t, s, "id", "ts", table_format="delta")
    reader = spark.read.format("delta").load(path)  # snapshot pinned
    want = sorted(
        (r["id"], r["v"], r["ts"])
        for r in M.merge_scd1(t, s, "id", "ts").collect()
    )
    got = sorted(
        (r["id"], r["v"], r["ts"])
        for r in spark.read.format("delta").load(path).collect()
    )
    assert got == want
    # replay idempotence through the transactional path
    M.merge_scd1_write(path, t, s, "id", "ts", table_format="delta")
    got2 = sorted(
        (r["id"], r["v"], r["ts"])
        for r in spark.read.format("delta").load(path).collect()
    )
    assert got2 == want
    # the pre-merge reader still completes (no vanished-file retry)
    assert reader.count() == len(want)


# --- CDC apply --------------------------------------------------------------


def _cdc_fixture(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10), (4, "d", 10)],
        ["id", "v", "ts"],
    )
    log = spark.createDataFrame(
        [
            (1, "a1", 11, 1, "U"),   # superseded
            (1, "a2", 12, 2, "U"),   # winner: update
            (2, "x", 11, 1, "U"),    # superseded
            (2, "x", 12, 2, "D"),    # winner: delete
            (5, "e", 11, 1, "I"),    # insert new key
            (6, "f", 11, 1, "I"),    # insert then delete -> never lands
            (6, "f", 12, 2, "D"),
        ],
        ["id", "v", "ts", "seq", "op"],
    )
    return target, log


def test_apply_cdc_semantics(spark):
    target, log = _cdc_fixture(spark)
    got = sorted(
        (r["id"], r["v"], r["ts"])
        for r in M.apply_cdc(target, log, "id", "seq").collect()
    )
    assert got == [
        (1, "a2", 12),  # latest update applied
        (3, "c", 10),   # untouched passthrough
        (4, "d", 10),
        (5, "e", 11),   # insert
    ]


def test_apply_cdc_collapse_and_replay_idempotent(spark):
    target, log = _cdc_fixture(spark)
    once = M.apply_cdc(target, log, "id", "seq")
    # apply(log) == apply(latest-per-key(log)) — intermediate changes
    # collapse without being applied
    collapsed = M.apply_cdc(
        target, M.latest_per_key(log, "id", "seq"), "id", "seq"
    )
    key = lambda r: (r["id"], r["v"], r["ts"])  # noqa: E731
    assert sorted(map(key, once.collect())) == sorted(
        map(key, collapsed.collect())
    )
    # replaying the same batch onto the applied state is a no-op
    # (delete winners target already-absent keys, upserts rewrite
    # identical rows)
    twice = M.apply_cdc(once, log, "id", "seq")
    assert sorted(map(key, twice.collect())) == sorted(
        map(key, once.collect())
    )
