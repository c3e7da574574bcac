"""MATCH_RECOGNIZE aggregations in DEFINE and MEASURES, plus the
start-order (leftmost) skip-strategy preferment they expose.

Reference: docs/dev/table/streaming/match_recognize.md:263-331 (the
Aggregations section — its published 12-row AVG example is replayed
verbatim below), flink-cep/.../nfa/NFA.java:364
(processMatchesAccordingToSkipStrategy — completed matches are held in
a start-ordered priority queue until no earlier-started partial match
is alive), MatchCodeGenerator.scala (aggregate codegen)."""

from __future__ import annotations

import datetime as dt
import tempfile

import pytest
from pyspark.sql import functions as F


def _events(spark, rows):
    return (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))


def _run(spark, df, sql):
    # batch path: execute_match_recognize_sql replays the frame as one
    # micro-batch and closes each key at end of input (the bounded job's
    # final watermark) — held skip-strategy matches and trailing-greedy
    # runs flush there
    from flink_release_1_10_0_spark.sql_match import (
        execute_match_recognize_sql)
    return execute_match_recognize_sql(spark, sql, batch_df=df)


def test_reference_flagship_avg_example(spark):
    """The reference docs' own 12-row example
    (match_recognize.md:278-330): PATTERN (A+ B), A AS AVG(A.price) <
    15 — expected output is published in the docs: two matches,
    (10:00:00..10:00:03, 14.5) and (10:00:05..10:00:10, 13.5).  The
    second match also locks leftmost preferment: a younger run (start
    10:00:07) completes FIRST and must be discarded, not emitted."""
    base = dt.datetime(2011, 4, 1, 10, 0, 0)
    prices = [12, 17, 13, 16, 25, 2, 4, 10, 15, 25, 25, 30]
    rows = [(i, str(base + dt.timedelta(seconds=i)), 1, "t", float(p))
            for i, p in enumerate(prices)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, start_t, end_t, avg_price
        FROM ticker MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.ts) AS start_t, LAST(A.ts) AS end_t,
                   AVG(A.value) AS avg_price
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+ B)
          DEFINE A AS AVG(A.value) < 15
        )""").orderBy("start_t").collect()
    got = [(r.start_t.second, r.end_t.second, r.avg_price) for r in out]
    assert got == [(0, 3, 14.5), (5, 10, 13.5)]


def test_define_aggregate_expression_and_measures_expression(spark):
    """SUM over an EXPRESSION argument in both DEFINE and MEASURES
    (match_recognize.md:326: valid iff a single pattern variable):
    A AS SUM(A.value * A.value) < 100 accumulates squares."""
    rows = [(1, "2024-01-01 10:00:00", 1, "t", 3.0),   # ss 9
            (2, "2024-01-01 10:00:01", 1, "t", 5.0),   # ss 34
            (3, "2024-01-01 10:00:02", 1, "t", 7.0),   # ss 83
            (4, "2024-01-01 10:00:03", 1, "t", 9.0),   # ss 164 -> B
            (5, "2024-01-01 10:00:04", 1, "t", 11.0)]  # ss 121 -> no A
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, ss, n_a FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES SUM(A.value * A.value) AS ss, COUNT(A.*) AS n_a
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+ B)
          DEFINE A AS SUM(A.value * A.value) < 100
        )""").collect()
    assert [(r.ss, r.n_a) for r in out] == [(83.0, 3)]


def test_define_min_max_range(spark):
    """MAX - MIN between two aggregates in one DEFINE predicate:
    A AS MAX(A.value) - MIN(A.value) < 10 bounds the run's spread."""
    rows = [(1, "2024-01-01 10:00:00", 1, "t", 20.0),
            (2, "2024-01-01 10:00:01", 1, "t", 25.0),   # spread 5 ok
            (3, "2024-01-01 10:00:02", 1, "t", 14.0),   # spread 11 -> B
            (4, "2024-01-01 10:00:03", 1, "t", 15.0),
            (5, "2024-01-01 10:00:04", 1, "t", 16.0)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, lo, hi, n_a FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES MIN(A.value) AS lo, MAX(A.value) AS hi,
                   COUNT(A.*) AS n_a
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+ B)
          DEFINE A AS MAX(A.value) - MIN(A.value) < 10
        )""").orderBy("n_a").collect()
    # first match: A={20,25} B=14; resume at 15: A={15,16} never closes
    assert [(r.lo, r.hi, r.n_a) for r in out] == [(20.0, 25.0, 2)]


def test_count_star_vs_count_var(spark):
    """COUNT(*) counts every row of the candidate match across all
    variables; COUNT(A.*) only A's rows; COUNT(A.col) only non-null
    values.  C AS COUNT(*) = 3 closes the match at total length 3."""
    rows = [(1, "2024-01-01 10:00:00", 1, "a", 1.0),
            (2, "2024-01-01 10:00:01", 1, "b", 2.0),
            (3, "2024-01-01 10:00:02", 1, "c", 3.0),
            (4, "2024-01-01 10:00:03", 1, "a", 4.0)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, n_all FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES COUNT(*) AS n_all
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B C)
          DEFINE A AS event_type = 'a',
                 B AS event_type = 'b',
                 C AS event_type = 'c' AND COUNT(*) = 3
        )""").collect()
    assert [r.n_all for r in out] == [3]


def test_default_true_define(spark):
    """A pattern variable with no DEFINE defaults to TRUE
    (match_recognize.md:257) — the reference's flagship example leaves
    B undefined."""
    rows = [(1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:00:01", 1, "view", 2.0)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, b_val FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES LAST(B.value) AS b_val
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A B)
          DEFINE A AS event_type = 'click'
        )""").collect()
    assert [r.b_val for r in out] == [2.0]


def test_held_match_discarded_by_older_match(spark):
    """Leftmost preferment under SKIP TO NEXT ROW: a younger-start
    match held while an older run extends is KEPT (skip-to-next prunes
    only same-start matches), and both emit in start order."""
    # user 1: values 10, 1, 100 with threshold 15 -> the run from e2
    # completes at e3 first; the run from e1 completes at e3 too
    rows = [(1, "2024-01-01 10:00:00", 1, "t", 10.0),
            (2, "2024-01-01 10:00:01", 1, "t", 1.0),
            (3, "2024-01-01 10:00:02", 1, "t", 100.0)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, n_a FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES COUNT(A.*) AS n_a
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A+ B)
          DEFINE A AS AVG(A.value) < 15
        )""").collect()
    # start e1: A={10,1} B=100; start e2: A={1} B=100 — both emit
    assert sorted(r.n_a for r in out) == [1, 2]


def test_aggregate_state_survives_microbatches(spark):
    """The per-run (count, sum, min, max) accumulator round-trips
    through the state store: an A+ run split across two micro-batches
    keeps its running average.  A caller's stream has no end-of-input
    close; B closes the match, so none is needed."""
    from flink_release_1_10_0_spark.sql_match import (
        execute_match_recognize_sql)

    rows1 = [(1, "2024-01-01 10:00:00", 1, "t", 12.0),
             (2, "2024-01-01 10:00:01", 1, "t", 17.0)]
    rows2 = [(3, "2024-01-01 10:00:02", 1, "t", 13.0),
             # avg(12,17,13,100)=35.5 breaks -> B
             (4, "2024-01-01 10:00:03", 1, "t", 100.0)]
    df1, df2 = _events(spark, rows1), _events(spark, rows2)
    batch = df1.unionByName(df2)
    src = tempfile.mkdtemp(prefix="mragg_batch_")
    df1.coalesce(1).write.mode("append").parquet(src)
    df2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(df1.schema).option(
        "maxFilesPerTrigger", 1).parquet(src)
    out = execute_match_recognize_sql(spark, """
        SELECT user_id, avg_a, n_a FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES AVG(A.value) AS avg_a, COUNT(A.*) AS n_a
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+ B)
          DEFINE A AS AVG(A.value) < 15
        )""", batch_df=batch, stream_df=stream).collect()
    assert [(r.avg_a, r.n_a) for r in out] == [(14.0, 3)]


def test_refusals(spark):
    """Loud narrowings, all matching the reference's documented rules:
    DISTINCT (md:331), multi-variable arguments (md:326), nested
    aggregates, navigation inside an argument, unqualified columns."""
    from flink_release_1_10_0_spark.streaming.navexpr import (
        compile_nav_predicate)

    with pytest.raises(NotImplementedError, match="DISTINCT"):
        compile_nav_predicate("COUNT(DISTINCT A.value) > 2", "A", ["A"])
    with pytest.raises(NotImplementedError, match="exactly one"):
        compile_nav_predicate("AVG(A.value * B.value) < 5", "A",
                              ["A", "B"])
    with pytest.raises(NotImplementedError, match="nested"):
        compile_nav_predicate("SUM(AVG(A.value)) < 5", "A", ["A"])
    with pytest.raises(NotImplementedError, match="navigation inside"):
        compile_nav_predicate("SUM(LAST(A.value)) < 5", "A", ["A"])
    with pytest.raises(NotImplementedError, match="unqualified"):
        compile_nav_predicate("SUM(value) < 5", "A", ["A"])
    with pytest.raises(NotImplementedError, match="only COUNT"):
        compile_nav_predicate("SUM(A.*) > 1", "A", ["A"])


def test_measures_distinct_refusal(spark):
    """DISTINCT in a MEASURES aggregate refuses loudly too."""
    from flink_release_1_10_0_spark.streaming.cep import _parse_measure

    with pytest.raises(NotImplementedError, match="DISTINCT"):
        _parse_measure("SUM(DISTINCT A.value * A.value)")


def test_count_nonnull_column(spark):
    """COUNT(A.col) counts only rows where the argument is non-null —
    exercised through the navexpr closure directly (the NFA feeds
    per-row values the same way)."""
    from flink_release_1_10_0_spark.streaming.navexpr import (
        compile_nav_predicate)

    p = compile_nav_predicate("COUNT(A.value) >= 2", "A", ["A"])
    # simulate: one prior A row with value 5 already accumulated
    akey = next(iter(p.aggs["A"]))
    nav = {"A": {akey: (1, 5.0, 5.0, 5.0)}}
    assert p.fn({"value": 7.0}, nav, {"A": 1}, []) is True   # 2 non-null
    assert p.fn({"value": None}, nav, {"A": 1}, []) is False  # still 1


def test_match_rowtime_and_proctime(spark):
    """MATCH_ROWTIME() returns the LAST mapped row's timestamp
    (match_recognize.md:1036); MATCH_PROCTIME() refuses (no
    processing-time attribute in an event-time replay)."""
    rows = [(1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:07:00", 1, "purchase", 2.0)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, mrt FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES MATCH_ROWTIME() AS mrt
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A B)
          DEFINE A AS event_type = 'click',
                 B AS event_type = 'purchase'
        )""").collect()
    assert [r.mrt.minute for r in out] == [7]
    with pytest.raises(NotImplementedError, match="MATCH_PROCTIME"):
        _run(spark, _events(spark, rows), """
            SELECT user_id, pt FROM ev MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES MATCH_PROCTIME() AS pt
              ONE ROW PER MATCH
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (A B)
              DEFINE A AS event_type = 'click'
            )""")


def test_pattern_facade_iterative_condition(spark):
    """The Pattern-API analog of the reference's IterativeCondition
    (IterativeCondition.java:56, ctx.getEventsForPattern): where()
    text with navigation/aggregates compiles to a per-run closure.
    Greedy click-loop bounded by a running SUM, closed by purchase."""
    import tempfile

    from flink_release_1_10_0_spark.streaming.cep import Pattern
    from flink_release_1_10_0_spark.streaming.core import (
        run_to_completion)

    rows = [(1, "2024-01-01 10:00:00", 1, "click", 40.0),
            (2, "2024-01-01 10:01:00", 1, "view", 5.0),
            (3, "2024-01-01 10:02:00", 1, "click", 30.0),   # sum 70
            (4, "2024-01-01 10:03:00", 1, "click", 50.0),   # 120 breaks
            (5, "2024-01-01 10:04:00", 1, "click", 20.0),   # 90 fits
            (6, "2024-01-01 10:05:00", 1, "purchase", 1.0)]
    df = (spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
              "event_type string, value double")
        .withColumn("ts", F.col("ts").cast("timestamp")))
    src = tempfile.mkdtemp(prefix="cepnav_src_")
    df.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    pat = (Pattern.begin("click").one_or_more().greedy()
           .where("SUM(click.value) < 100")
           .followed_by("purchase"))
    out = run_to_completion(
        pat.match_stream(stream, after_match="skip_past_last"), "append")
    # run from e1: clicks 40, 30 taken; 50 breaks (ignored); 20 fits
    # (sum 90); purchase closes -> ids (1, 3, 5, 6)
    assert sorted(tuple(r.ev_ids) for r in out.collect()) == [(1, 3, 5, 6)]


def test_pattern_facade_nav_refusals(spark):
    """Facade navigation narrowings refuse loudly: or_() alongside a
    nav where(), nav in until(), duplicate event types."""
    from flink_release_1_10_0_spark.streaming.cep import Pattern

    with pytest.raises(NotImplementedError, match="or_"):
        (Pattern.begin("click").where("SUM(click.value) < 9")
         .or_("value > 3").followed_by("purchase")
         ._compile_nfa_stages())
    with pytest.raises(NotImplementedError, match="until"):
        (Pattern.begin("click").one_or_more()
         .where("SUM(click.value) < 9").until("value > LAST(click.value)")
         .followed_by("purchase")._compile_nfa_stages())
    with pytest.raises(NotImplementedError, match="UNIQUE"):
        (Pattern.begin("click").where("SUM(click.value) < 9")
         .followed_by("click")._compile_nfa_stages())


def test_sql_pattern_groups(spark):
    """SQL PATTERN groups (EXCEEDS-reference: match_recognize.md:1106
    lists them unsupported): exact groups unroll, variable-rep groups
    compile to NFA group quantifiers, and the narrowings refuse."""
    from flink_release_1_10_0_spark.streaming.cep import (
        compile_match_pattern)

    d = {v: "true" for v in "ABCD"}
    st = compile_match_pattern("A (B C){2} D", d)
    assert [s.name for s in st] == ["A", "B", "C", "B", "C", "D"]
    assert all(s.group_start is None for s in st)
    st = compile_match_pattern("A (B C){1,3} D", d)
    assert [s.name for s in st] == ["A", "B", "C", "D"]
    assert (st[2].group_start, st[2].group_min, st[2].group_max) == (1, 1, 3)
    with pytest.raises(NotImplementedError, match="optional/star"):
        compile_match_pattern("A (B C)? D", d)
    with pytest.raises(NotImplementedError, match="pattern end"):
        compile_match_pattern("A (B C)+", d)
    with pytest.raises(NotImplementedError, match="nested"):
        compile_match_pattern("A ((B C) D)+ A", d)
    with pytest.raises(NotImplementedError, match="reluctant"):
        compile_match_pattern("A (B C)+? D", d)
    # plain grouping and single-var groups are sugar
    assert [s.name for s in compile_match_pattern("A (B C) D", d)] == \
        ["A", "B", "C", "D"]
    one = compile_match_pattern("A (B)+ D", d)
    assert (one[1].min_times, one[1].max_times) == (1, None)


def test_sql_pattern_group_end_to_end(spark):
    """H (L M)+ T with partitioned value classes: the rep count is
    deterministic under strict contiguity — 2 reps here, and the run
    whose alternation breaks emits nothing."""
    vals = [60, 10, 30, 15, 35, 70,    # H L M L M T -> 2 reps
            5, 25, 80,                 # L M H (no anchor before) ...
            90, 10, 99]                # H L then 99 breaks (not M)
    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, "t", float(v))
            for i, v in enumerate(vals)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, start_id, end_id, n_pairs
        FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(H.event_id) AS start_id,
                   LAST(T.event_id) AS end_id, COUNT(L.*) AS n_pairs
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (H (L M)+ T)
          DEFINE H AS value >= 45,
                 L AS value < 25,
                 M AS value >= 25 AND value < 45,
                 T AS value >= 45
        )""").collect()
    got = sorted((r.start_id, r.end_id, r.n_pairs) for r in out)
    # anchor 0: 2 reps ending at 70(id5); anchor 5: (5,25) one rep,
    # T=80(id8); anchor 8: L=90? no (90 is H) -> no; anchor 9: 10 L,
    # 99 not M -> dies
    assert got == [(0, 5, 2), (5, 8, 1)]


def test_pattern_exclusion_all_rows(spark):
    """SQL:2016 exclusion `{- B+ -}` (EXCEEDS-reference,
    match_recognize.md:1115): B rows match and feed the measures but
    are dropped from the ALL ROWS output; ONE ROW output ignores the
    marker entirely."""
    rows = [(1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:00:01", 1, "view", 2.0),
            (3, "2024-01-01 10:00:02", 1, "view", 3.0),
            (4, "2024-01-01 10:00:03", 1, "purchase", 50.0)]
    sql_all = """
        SELECT event_id, classifier, n_b FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES COUNT(B.*) AS n_b
          ALL ROWS PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (A {- B+ -} C)
          DEFINE A AS event_type = 'click',
                 B AS event_type = 'view',
                 C AS event_type = 'purchase'
        )"""
    out = _run(spark, _events(spark, rows), sql_all).collect()
    got = sorted((r.event_id, r.classifier, r.n_b) for r in out)
    # B rows (2, 3) excluded from output; COUNT(B.*) still sees them
    assert got == [(1, "A", 2), (4, "C", 2)]
    sql_one = sql_all.replace("ALL ROWS PER MATCH", "ONE ROW PER MATCH") \
        .replace("SELECT event_id, classifier, n_b",
                 "SELECT user_id, n_b")
    out1 = _run(spark, _events(spark, rows), sql_one).collect()
    assert [r.n_b for r in out1] == [2]


def test_compound_same_variable_measure_keeps_filters(spark):
    """`MAX(X.v) - MIN(X.v)` is a COMPOUND expression (two fragments),
    not a single aggregate over 'v) - MIN(v' — the prefix-depth
    fragment detector routes it to the compound path, where EACH
    fragment keeps its classifier filter."""
    from flink_release_1_10_0_spark.streaming.cep import _measure_sql_any

    sql = _measure_sql_any("MAX(X.v) - MIN(X.v)", valid_vars=["X"])
    assert sql.count("FILTER (WHERE var = 'X')") == 2
    # and end-to-end: spread measure over only A's rows
    rows = [(1, "2024-01-01 10:00:00", 1, "a", 10.0),
            (2, "2024-01-01 10:00:01", 1, "a", 30.0),
            (3, "2024-01-01 10:00:02", 1, "b", 999.0)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, spread FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES MAX(A.value) - MIN(A.value) AS spread
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A{2} B)
          DEFINE A AS event_type = 'a', B AS event_type = 'b'
        )""").collect()
    assert [r.spread for r in out] == [20.0]   # 999 (B) must not leak in


def test_eos_windowed_blocker_expires_held_match(spark):
    """A held match blocked by a WINDOWED unsatisfied partial emits at
    end-of-stream: the final watermark expires the blocker first (the
    reference's advanceTime), unlike the unwindowed case where the
    blocked match is discarded."""
    # user 1: values 10(A-run never closes), 1, 100: run from e2
    # completes {A=1, B=100} at e3 and is HELD behind the run from e1
    # (avg(10,1,100)=37 >= 40? 37 < 40 -> still extending at EOS)
    rows = [(1, "2024-01-01 10:00:00", 1, "t", 10.0),
            (2, "2024-01-01 10:00:01", 1, "t", 1.0),
            (3, "2024-01-01 10:00:02", 1, "t", 100.0)]
    sql = """
        SELECT user_id, n_a FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES COUNT(A.*) AS n_a
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A+ B)
          {WITHIN}
          DEFINE A AS AVG(A.value) < 40
        )"""
    # run from e2: avg(1)=1 ok; e3: avg(1,100)=50.5 >= 40 -> B -> held.
    # UNWINDOWED: blocked by the e1 run at EOS -> discarded
    out = _run(spark, _events(spark, rows),
               sql.replace("{WITHIN}", "")).collect()
    assert out == []
    # WINDOWED: the e1 partial expires at the EOS watermark -> emits
    out = _run(spark, _events(spark, rows),
               sql.replace("{WITHIN}", "WITHIN INTERVAL '1' HOUR")).collect()
    assert [r.n_a for r in out] == [1]


def test_single_var_group_inner_quantifier_refuses(spark):
    """((B{2}))+ would silently become B+ under the (B)+ == B+ sugar —
    it refuses instead."""
    from flink_release_1_10_0_spark.streaming.cep import (
        compile_match_pattern)

    with pytest.raises(NotImplementedError, match="compose"):
        compile_match_pattern("A (B{2})+ C", {v: "true" for v in "ABC"})


def test_exclusion_variable_reuse_refuses(spark):
    """An excluded variable appearing OUTSIDE the {- -} span refuses
    (exclusion here is per variable, SQL:2016's is per span)."""
    rows = [(1, "2024-01-01 10:00:00", 1, "a", 1.0)]
    with pytest.raises(NotImplementedError, match="OUTSIDE"):
        _run(spark, _events(spark, rows), """
            SELECT user_id FROM ev MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES COUNT(B.*) AS n_b
              ALL ROWS PER MATCH
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (A {- B -} C B)
              DEFINE A AS event_type = 'a',
                     B AS event_type = 'b',
                     C AS event_type = 'c'
            )""")


def test_pattern_alternation(spark):
    """SQL:2016 alternation (EXCEEDS-reference, match_recognize.md:1108)
    as a branch union: (A B | C D) T with disjoint heads — measures
    over the other branch's variables yield 0/NULL; non-disjoint heads
    and non-skip-to-next strategies refuse."""
    vals = [10, 30, 60, 35, 5, 70, 12, 14, 90]
    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, "t", float(v))
            for i, v in enumerate(vals)]
    sql = """
        SELECT user_id, end_id, n_a, n_c FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES LAST(T.event_id) AS end_id,
                   COUNT(A.*) AS n_a, COUNT(C.*) AS n_c
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN ((A B | C D) T)
          DEFINE A AS value < 25,
                 B AS value >= 25 AND value < 45,
                 C AS value >= 25 AND value < 45,
                 D AS value < 25,
                 T AS value >= 45
        )"""
    out = _run(spark, _events(spark, rows), sql).collect()
    got = sorted((r.end_id, r.n_a, r.n_c) for r in out)
    assert got == [(2, 1, 0), (5, 0, 1)]   # L M H via A B; M L H via C D
    # non-disjoint heads (same predicate class) refuse at runtime
    with pytest.raises(Exception, match="NOT disjoint"):
        _run(spark, _events(spark, rows),
             sql.replace("A AS value < 25", "A AS value < 45")).collect()
    # skip past last row refuses (cross-branch pruning unmodeled)
    with pytest.raises(NotImplementedError, match="SKIP TO NEXT"):
        _run(spark, _events(spark, rows),
             sql.replace("SKIP TO NEXT ROW", "SKIP PAST LAST ROW"))
    from flink_release_1_10_0_spark.sql_match import _expand_alternation
    with pytest.raises(NotImplementedError, match="uantified alternation"):
        _expand_alternation("X (A B | C D)+ Y")
    with pytest.raises(NotImplementedError, match="multiple alternation"):
        _expand_alternation("(A | B) (C | D)")
    # min-0 quantifier at the divergence position refuses (executor-
    # level: the divergence row must be mandatory to select a branch)
    with pytest.raises(NotImplementedError, match="divergence"):
        _run(spark, _events(spark, rows),
             sql.replace("PATTERN ((A B | C D) T)",
                         "PATTERN ((A? B | C D) T)"))


def test_permute(spark):
    """PERMUTE (A, B) rewrites to (A B | B A); n outside 2..3 refuses;
    divergence pairs beyond heads are checked (same-head PERMUTE(3)
    branches diverge at position 2)."""
    vals = [10, 30, 35, 5]       # A B (match), B A (match from row 2)
    rows = [(i, f"2024-01-01 10:{i:02d}:00", 1, "t", float(v))
            for i, v in enumerate(vals)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, first_id FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES MIN(S.event_id) AS first_id
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN (PERMUTE (A, B))
          SUBSET S = (A, B)
          DEFINE A AS value < 25,
                 B AS value >= 25 AND value < 45
        )""").collect()
    assert sorted(r.first_id for r in out) == [0, 2]
    with pytest.raises(NotImplementedError, match="PERMUTE"):
        _run(spark, _events(spark, rows), """
            SELECT user_id FROM ev MATCH_RECOGNIZE (
              PARTITION BY user_id
              ORDER BY ts
              MEASURES COUNT(*) AS n
              ONE ROW PER MATCH
              AFTER MATCH SKIP TO NEXT ROW
              PATTERN (PERMUTE (A, B, C, D))
              DEFINE A AS value < 10, B AS value >= 10 AND value < 20,
                     C AS value >= 20 AND value < 30, D AS value >= 30
            )""")


def test_anchors(spark):
    """SQL:2016 anchors ^/$ on bounded replays (the reference refuses
    them as streaming-meaningless, match_recognize.md:1113 — a bounded
    partition has a well-defined start/end): ^ keeps only the match
    starting at the partition's first row, $ only the one ending at
    its last; $ under SKIP PAST LAST ROW refuses."""
    rows = [(1, "2024-01-01 10:00:00", 1, "a", 1.0),
            (2, "2024-01-01 10:00:01", 1, "b", 2.0),
            (3, "2024-01-01 10:00:02", 1, "a", 3.0),
            (4, "2024-01-01 10:00:03", 1, "b", 4.0)]
    base = """
        SELECT user_id, a_val FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES FIRST(A.value) AS a_val
          ONE ROW PER MATCH
          AFTER MATCH SKIP TO NEXT ROW
          PATTERN ({PAT})
          DEFINE A AS event_type = 'a', B AS event_type = 'b'
        )"""
    # unanchored: two A B matches
    out = _run(spark, _events(spark, rows),
               base.replace("{PAT}", "A B")).collect()
    assert sorted(r.a_val for r in out) == [1.0, 3.0]
    # ^ keeps only the partition-initial match
    out = _run(spark, _events(spark, rows),
               base.replace("{PAT}", "^ A B")).collect()
    assert [r.a_val for r in out] == [1.0]
    # $ keeps only the partition-final match
    out = _run(spark, _events(spark, rows),
               base.replace("{PAT}", "A B $")).collect()
    assert [r.a_val for r in out] == [3.0]
    # both
    out = _run(spark, _events(spark, rows),
               base.replace("{PAT}", "^ A B $")).collect()
    assert out == []    # no single match spans the whole partition
    with pytest.raises(NotImplementedError, match="SKIP TO NEXT"):
        _run(spark, _events(spark, rows),
             base.replace("{PAT}", "A B $")
                 .replace("SKIP TO NEXT ROW", "SKIP PAST LAST ROW"))
    with pytest.raises(NotImplementedError, match="pattern ends"):
        _run(spark, _events(spark, rows),
             base.replace("{PAT}", "A $ B"))


def test_count_star_only_define_no_column_refs(spark):
    """A DEFINE that is PURE navigation with no row-column references
    ('C AS COUNT(*) = 3'): navexpr sets count_all without adding any
    row_cols, so the NFA's per-chunk row transpose has zero columns —
    the r10 vectorized prologue built an EMPTY rowdicts list there and
    indexed past it (r10 ADVICE #1).  Every stage below is either
    nav-free SQL or column-free navigation."""
    rows = [(1, "2024-01-01 10:00:00", 1, "a", 1.0),
            (2, "2024-01-01 10:00:01", 1, "b", 2.0),
            (3, "2024-01-01 10:00:02", 1, "b", 3.0),
            (4, "2024-01-01 10:00:03", 1, "b", 4.0)]
    out = _run(spark, _events(spark, rows), """
        SELECT user_id, n_all FROM ev MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts
          MEASURES COUNT(*) AS n_all
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (A C)
          DEFINE C AS COUNT(*) = 2
        )""").collect()
    # A defaults to TRUE; C closes each match at total length 2
    assert sorted(r.n_all for r in out) == [2, 2]
