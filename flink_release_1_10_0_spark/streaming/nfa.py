"""General CEP NFA over ``applyInPandasWithState`` — arbitrary-length
pattern sequences with quantifiers, or-conditions, until, greedy, and
mid-pattern negation.

Reference semantics: ``flink-libraries/flink-cep/.../pattern/
Pattern.java:50-542`` (begin/next/followedBy/followedByAny/notNext/
notFollowedBy, times/timesOrMore/oneOrMore/optional/greedy/until/within)
compiled and executed per key like ``nfa/NFA.java:85`` inside
``CepOperator.java:82``.

Execution model (Spark-first):

- Stage predicates are **SQL boolean expressions evaluated JVM-side**:
  each stage's ``pred`` (and ``until``) is attached as a precomputed
  boolean column by ``F.expr`` *before* the stateful operator, so the
  Python loop never evaluates predicates row-at-a-time — it walks
  precomputed bit vectors (the analog of the reference's codegen'd
  IterativeConditions).  Predicates with MATCH_RECOGNIZE *navigation*
  (``LAST(A.price)`` of another variable, ``PREV``) additionally carry
  a compiled per-run closure (``navexpr.py``) ANDed with the SQL bit —
  runs then track the bounded first/last values each navigation
  references (never the event history), like the reference's
  per-variable match buffer.
- Per key, a list of partial-match *runs* evolves event-by-event in
  (ts, event_id) order; state is the run list (typed Arrow arrays),
  bounded by the within-window and a hard run cap — never the event
  history.
- Transitions per event mirror the reference NFA's edge set
  (``NFACompiler.java:827`` conditions walked by ``NFA.java``'s
  decision graph): TAKE (consume into the current stage or any
  PROCEED-reachable later stage), IGNORE (a relaxed stage keeps its
  branch whenever the event was not consumed INTO it — so advancing
  out of a satisfied loop also leaves the loop branch alive to match
  later closings), STOP (strict contiguity at the CURRENT stage, or a
  negation guard, kills the branch).  The PROCEED state of a satisfied
  non-greedy loop persists through the next stage's IGNORE edge: when
  the loop takes another event (or a strict loop dies on a foreign
  event), the closed-loop prefix is forked to the next stage, so
  ``a b+ c`` over ``a b1 b2 c`` emits both ``{a b1 c}`` and
  ``{a b1 b2 c}`` — the reference's relaxed/consecutive contiguity
  table.  ``followedByAny`` keeps the pre-TAKE run alive even when the
  stage consumed the event (SKIP_TILL_ANY); ``greedy`` suppresses the
  advance branch while the loop stage still matches and guards PROCEED
  with NOT(take) (``updateWithGreedyCondition``), which is what makes
  the SQL-quantifier tier emit single maximal matches.
- After-match skip: ``no_skip`` (the reference's default — every match
  emits immediately, completion order), ``skip_to_next``
  (AfterMatchSkipStrategy.skipToNext — one preferred match per start
  position, SQL's AFTER MATCH SKIP TO NEXT ROW), ``skip_past_last``
  (skipPastLastEvent — kills runs begun at/before the match end and
  suppresses new runs there), or ``("skip_to_first"|"skip_to_last",
  var)`` (skipToFirst/skipToLast — kills runs begun before the
  first/last event the match mapped to ``var``; the surviving parallel
  runs are the resume positions).  Under every skip strategy (not
  no_skip), a completed match is HELD until no EARLIER-STARTED partial
  run remains alive, then emitted in start order with the strategy's
  pruning applied to both the partial runs and the other held matches —
  the reference's completedMatches priority queue
  (``NFA.java:364 processMatchesAccordingToSkipStrategy``), which is
  what makes preferment leftmost-start (SQL:2016), not
  completion-order: a younger match that completes first while an
  older run is still extending (e.g. under a running-aggregate DEFINE)
  waits, and is discarded when the older match's pruning id covers its
  start.

Trailing-stage emission (the reference's partial-match surface,
``flink-cep/.../pattern/Pattern.java:246`` optional / ``:306``
oneOrMore):
- a trailing NON-greedy loop (``oneOrMore``/``timesOrMore``/bounded
  ``times`` last) emits one match per extension — ``A B+`` yields
  ``A B1``, ``A B1 B2``, … — exactly Flink's partial-match emission;
  an ``until`` event (or window expiry) just stops the loop, the
  prefixes are already out.
- a trailing GREEDY loop emits only the maximal match, when the loop
  *closes* — on an ``until`` event, bounded saturation, a strict-inner
  violation, the within-window expiring on the run (the window closing
  IS a closing condition: nothing can extend the run anymore, so the
  consumed maximum emits as a NORMAL match, not a timeout), or the
  end-of-input close (bounded replays; see ``match_nfa(end_of_input=)``).
  This is the SQL-quantifier tier (``PATTERN (A B+)`` compiles greedy):
  SQL:2016 greedy quantifiers produce the single maximal match.
- a trailing NON-greedy ``optional`` emits both the short and the long
  match (``Pattern.optional`` at pattern end emits both in the
  reference); more generally, whenever a run satisfies a stage whose
  remaining consuming stages are all optional, the current prefix is
  emitted and the run keeps extending.

Quantified GROUP patterns (``GroupPattern.java:30``, ``Quantifier``
applied to ``Pattern.begin/next/followedBy(Pattern)``): a contiguous
stage span can repeat — the span's last stage carries ``group_start``/
``group_min``/``group_max``, and a run completing the span holds both
the LOOP-BACK edge (re-enter the span's first stage, rep count below
max) and the PROCEED edge (past the span, rep count at least min), like
the reference's group middle states.  Min-0 (optional) groups add a
whole-group SKIP edge; advancing into a skippable group materializes
one explicit run per skip-chain position, so the entered-group branch
and the skipped-past branch evolve separately (the reference's
per-PROCEED computation states).  Trailing group loops emit one prefix
match per completed repetition (partial-match semantics).  Narrowings
(loud): groups are non-nested spans of >= 2 plain consuming stages with
exact inner quantifiers (no negation/until/navigation/greedy/
followedByAny inside); optional groups need relaxed seams.

Scope notes (documented narrowings vs the reference):
- events are processed per key in ``(ts, *order_tiebreakers, id)``
  order WITHIN one micro-batch: the state function joins all of a key's
  Arrow chunks of the batch and sorts them once.  Across micro-batches
  the order is arrival order — an event arriving in a later batch with
  an earlier timestamp than one already processed is not re-ordered
  (the reference buffers until the watermark passes; a replay that
  needs exact order must deliver each key's events in one batch).
- end of input: with ``match_nfa(..., end_of_input=True)`` the caller
  states that the micro-batch holding a key's rows is its last.  After
  the key's last row the NFA closes it like the final +inf watermark of
  a bounded reference job — satisfied trailing-greedy runs emit as
  NORMAL matches, other partials time out (``emit_timeouts``) or are
  dropped, held skip-strategy matches drain as far as no unsatisfied
  partial blocks them — and removes the key's state instead of storing
  it.  The close is exact only when the whole input arrives in ONE
  micro-batch (``availableNow`` over files without
  ``maxFilesPerTrigger``); ``run_to_completion(..., single_batch=True)``
  raises when a run took more.
- a trailing ``notFollowedBy`` is supported only via the dedicated
  watermark-timer operator (``stateful.cep_not_followed_by``) that the
  ``Pattern`` facade routes to; the generic engine supports negation
  **between** consuming stages (guards) and ``notNext``.
- a negation's neighbor stages must be non-optional, and the stage
  before it non-looping (the guard window is then exactly "between the
  two consumed events", matching the reference for these shapes).
- a trailing GREEDY unbounded RELAXED loop needs ``until()`` or a
  ``within`` window, and a trailing GREEDY ``optional`` is rejected:
  maximal-match emission would need lookahead ("no more loop events
  will come"), which an unbounded stream cannot decide without a
  closing condition; the non-greedy forms above are the
  reference-faithful alternative.
- window expiry has two drivers: same-key event-time advance (always
  on; plus the end-of-input close for bounded replays), and — with
  ``match_nfa(..., watermark_timers=...)`` — real cross-key event-time
  timers (``GroupStateTimeout.EventTimeTimeout``), so a key that goes
  silent forever still flushes its satisfied trailing-greedy maximal
  match when the GLOBAL watermark passes its window, the reference's
  ``CepOperator.java:82`` onEventTime semantics.  Timers require a
  ``within`` window and a streaming source; bounded replays use the
  end-of-input close (batch has no watermark clock).
- at end-of-stream, a HELD skip-strategy match still blocked by an
  older UNSATISFIED partial run is discarded, exactly like the
  reference's bounded-job close (the completedMatches queue is never
  drained past a live partial).  Full SQL:2016 batch semantics would
  backtrack the blocked run (re-binding its tail rows to the later
  pattern stages, e.g. ``A+ B`` handing A's last row to B) — a
  divergence this engine shares with the reference; with a ``within``
  window the blocked partial expires and the held match emits, on both.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

MAX_RUNS_PER_KEY = 512

# Bumped whenever ``state_schema`` below changes shape (v1: runs only;
# v2: + r_nav/prev_rows navigation fields; v3: + r_greps group-pattern
# rep counters; v4: + c_* held-completed-match fields for start-order
# skip-strategy emission).  Spark's state store rejects a checkpoint
# whose schema doesn't match — an explicit version makes that an
# announced format break, not a surprise.
NFA_STATE_FORMAT_VERSION = 4

NO_SKIP = "no_skip"                    # AfterMatchSkipStrategy.noSkip (default)
SKIP_TO_NEXT = "skip_to_next"          # AfterMatchSkipStrategy.skipToNext
SKIP_PAST_LAST = "skip_past_last"      # AfterMatchSkipStrategy.skipPastLastEvent
SKIP_TO_FIRST = "skip_to_first"        # AfterMatchSkipStrategy.skipToFirst(var)
SKIP_TO_LAST = "skip_to_last"          # AfterMatchSkipStrategy.skipToLast(var)


@dataclass
class NfaStage:
    """One pattern stage.  ``pred``/``until`` are Spark SQL boolean
    expressions over the event row (e.g. ``"event_type = 'click' AND
    value < 50"``) — or-conditions (``Pattern.where(...).or(...)``) are
    plain SQL ``OR`` inside ``pred``.

    ``nav`` (a ``navexpr.NavPred``) is the per-run refinement for
    predicates with MATCH_RECOGNIZE navigation (``LAST(A.price)`` of
    another variable, ``PREV(...)``): the SQL ``pred`` bit is still
    precomputed JVM-side (set it to the nav-free residual, or ``true``)
    and the nav closure is ANDed per (event, run) inside the stateful
    operator — the reference's IterativeCondition evaluated against the
    match buffer (``flink-cep/.../nfa/NFA.java:85``)."""

    pred: str
    name: str = ""
    contiguity: str = "relaxed"      # OUTER strategy (stage entry seam)
    min_times: int = 1
    max_times: int | None = 1        # None = unbounded loop
    greedy: bool = False
    until: str | None = None         # loop stop condition
    negated: bool = False            # guard stage: consumes nothing
    nav: Any = None                  # navexpr.NavPred | None
    # INNER strategy — contiguity BETWEEN loop iterations
    # (Quantifier.getInnerConsumingStrategy: consecutive() = strict,
    # allowCombinations() = relaxed_nd).  None = same as the outer
    # knob, with ONE compat reading: a bare relaxed_nd LOOP means
    # allowCombinations (inner ANY, outer relaxed) — set ``inner``
    # explicitly to override.
    inner: str | None = None
    # Quantified GROUP pattern support (GroupPattern.java:30 compiled
    # via NFACompiler's middle states): set ON THE GROUP'S LAST STAGE.
    # ``group_start`` = index of the group's first stage; the group is
    # the contiguous stage span [group_start .. this stage], repeated
    # ``group_min``..``group_max`` times (None = unbounded).  A run
    # completing the span either loops back to ``group_start`` (rep
    # count below max) or proceeds past the group (rep count at least
    # min) — both edges offered non-deterministically, like the
    # reference's group middle state.
    group_start: int | None = None
    group_min: int = 1
    group_max: int | None = 1

    def is_loop(self) -> bool:
        return self.max_times is None or self.max_times > 1

    def edge_strategies(self) -> tuple[str, str]:
        """(outer, inner) consuming strategies, compat rule applied."""
        if self.inner is None:
            if self.is_loop() and self.contiguity == "relaxed_nd":
                return "relaxed", "relaxed_nd"
            return self.contiguity, self.contiguity
        return self.contiguity, self.inner


def _validate(stages: list[NfaStage], has_window: bool = False) -> None:
    n = len(stages)
    if not stages:
        raise ValueError("empty pattern")
    if stages[0].negated or stages[-1].negated:
        raise NotImplementedError(
            "negation must sit between two consuming stages (trailing "
            "notFollowedBy routes to stateful.cep_not_followed_by)")
    last = stages[-1]
    if (last.greedy and last.is_loop() and last.until is None
            and not has_window
            and (last.max_times is None
                 or last.max_times > last.min_times)
            and last.edge_strategies()[1] != "strict"):
        # strict inner contiguity decides closure at the first foreign
        # event (the SQL tier — the maximal match emits there), and a
        # within-window decides it when it expires on the run; a
        # RELAXED greedy trailing loop with NEITHER can always be
        # extended by a later event, so emission is undecidable without
        # a closing condition
        raise NotImplementedError(
            "trailing GREEDY relaxed loop needs until(), within(), "
            "strict contiguity, or an exact quantifier: maximal-match "
            "emission requires a loop-closing condition (the non-greedy "
            "form emits one match per extension instead)")
    # the trailing optional chain: every consuming stage in it must be
    # non-greedy — a greedy optional at pattern end would need lookahead
    # to decide between the short and long match
    for j in range(n - 1, -1, -1):
        if stages[j].negated:
            continue
        if stages[j].min_times != 0:
            break
        if stages[j].greedy:
            raise NotImplementedError(
                "trailing GREEDY optional stage: SQL-tier maximal-match "
                "semantics need lookahead; use a non-greedy optional "
                "(both the short and long match are then emitted, like "
                "the reference) or make the stage mandatory")
    # leading optional/star stages are supported: the start state
    # PROCEEDs through them, so a run can begin at any stage reachable
    # from stage 0 through leading min-0 stages (the reference's start
    # state does the same; the SQL MATCH_RECOGNIZE tier keeps its own
    # rejection in compile_match_pattern — SQL emits ONE preferred
    # match per start row, which needs greedy backtracking across the
    # start alternatives, while the CEP tier emits every branch).
    # quantified GROUP patterns (GroupPattern.java:30): validate the
    # span layout and the documented inner-stage narrowing — each
    # refusal is loud, never a silent reinterpretation
    open_g: int | None = None
    for i, s in enumerate(stages):
        if s.group_start is not None:
            gs_, gmn_, gmx_ = s.group_start, s.group_min, s.group_max
            if not (0 <= gs_ < i):
                raise ValueError(
                    f"group end at stage {i}: group_start {gs_} must "
                    "point at an EARLIER stage (single-stage groups are "
                    "plain stage quantifiers)")
            if open_g is not None and gs_ <= open_g:
                raise NotImplementedError(
                    "nested/overlapping group patterns are not "
                    "supported (the reference compiles nesting via "
                    "recursive middle states; flatten or unroll)")
            if gmn_ < 0 or (gmx_ is not None and gmx_ < max(1, gmn_)):
                raise ValueError("bad group quantifier bounds")
            if gmn_ == 0 and (stages[gs_].contiguity == "strict"
                              or (i + 1 < n
                                  and stages[i + 1].contiguity == "strict")):
                raise NotImplementedError(
                    "optional (min-0) group with a STRICT seam: the "
                    "engine rests runs at the skippable group's start, "
                    "so both seams must be relaxed")
            if gmn_ == 0 and gs_ > 0 and (
                    stages[gs_ - 1].is_loop()
                    or stages[gs_ - 1].until is not None
                    or stages[gs_ - 1].negated):
                raise NotImplementedError(
                    "optional (min-0) group directly after a loop/"
                    "until/negation stage: the loop's stop-early edges "
                    "cannot target a skippable group (insert a "
                    "mandatory stage between them)")
            for k in range(gs_, i + 1):
                sk = stages[k]
                if k > gs_ and sk.group_start is not None and k < i:
                    raise NotImplementedError(
                        "nested group patterns are not supported")
                if (gmn_, gmx_) != (1, 1):
                    if sk.min_times != (sk.max_times
                                        if sk.max_times is not None
                                        else -1):
                        raise NotImplementedError(
                            "stages inside a QUANTIFIED group need "
                            "exact quantifiers (min == max): a "
                            "satisfied-but-extendable inner loop makes "
                            "the rep boundary ambiguous")
                    if (sk.negated or sk.until is not None
                            or sk.greedy or sk.nav is not None
                            or sk.contiguity == "relaxed_nd"
                            or sk.inner is not None):
                        raise NotImplementedError(
                            "stages inside a QUANTIFIED group must be "
                            "plain consuming stages (no negation/until/"
                            "navigation/greedy/followedByAny)")
            open_g = i
        if s.contiguity not in ("strict", "relaxed", "relaxed_nd"):
            raise ValueError(f"bad contiguity {s.contiguity!r}")
        if s.inner is not None and s.inner not in (
                "strict", "relaxed", "relaxed_nd"):
            raise ValueError(f"bad inner contiguity {s.inner!r}")
        if s.inner is not None and not s.is_loop():
            raise ValueError("inner contiguity applies to loop stages "
                             "only (it governs BETWEEN-iteration edges)")
        if s.negated:
            if s.nav is not None:
                raise NotImplementedError(
                    "navigation predicates on negation guards are not "
                    "supported (guards are evaluated against every "
                    "in-between event, not a consuming edge)")
            if s.is_loop() or s.min_times != 1 or s.until:
                raise NotImplementedError("negation stages take no quantifier")
            if stages[i - 1].is_loop() or stages[i - 1].min_times == 0 \
                    or (i + 1 < n and stages[i + 1].min_times == 0):
                raise NotImplementedError(
                    "negation neighbors must be non-optional, preceding "
                    "stage non-looping (guard window = between the two "
                    "consumed events)")
        if s.until is not None and not s.is_loop():
            raise NotImplementedError("until() applies to loop stages only")
        if s.min_times < 0 or (s.max_times is not None
                               and s.max_times < max(1, s.min_times)):
            raise ValueError("bad quantifier bounds")


def _sort_permutation(pdf, sort_cols, asc):
    """np.lexsort permutation equal to ``pdf.sort_values(sort_cols,
    ascending=asc)`` when every key casts to a numeric/datetime dtype;
    None when a key needs object comparison (the caller then falls back
    to pandas).  The NFA's composite key ends in the unique event id, so
    the order is total and sort stability is irrelevant; NaN sorts last
    under both engines (ascending: numpy end-sorts NaN; descending via
    negation: -NaN is still NaN, and pandas keeps na_position='last'
    for both directions)."""
    keys_np = []
    for c, a in zip(sort_cols, asc):
        arr = pdf[c].to_numpy()
        k = arr.dtype.kind
        if k in "Mm":
            if np.isnat(arr).any():
                return None     # NaT casts to int64-min (would sort
                                # first); pandas puts NaT last — fall back
            if k == "M":
                arr = arr.astype("datetime64[us]")
            arr = arr.astype("int64")
        elif k in "bui":
            if k == "u" and arr.size and \
                    int(arr.max()) > np.iinfo(np.int64).max:
                return None     # uint64 >= 2**63 would wrap negative
                                # under the int64 cast (silent mis-sort)
            arr = arr.astype("int64")
        elif k != "f":
            return None
        if not a and arr.dtype.kind == "i" and arr.size and \
                int(arr.min()) == np.iinfo(np.int64).min:
            return None         # negating INT64_MIN overflows — fall back
        keys_np.append(arr if a else -arr)
    # np.lexsort takes least-significant key first
    return np.lexsort(tuple(reversed(keys_np)))


def _bool_list(arr):
    """__m/__u predicate bits to a plain Python bool list: bool dtype
    when null-free; the float NA form maps NaN to False via elementwise
    ==True; the object NA form (None from Arrow's default conversion,
    or pd.NA off a nullable BooleanDtype) tests identity against the NA
    sentinels first — pd.NA == True returns pd.NA, whose truth value
    raises, so a vectorized ==True cannot cover it."""
    if arr.dtype == np.bool_:
        return arr.tolist()
    if arr.dtype == object:
        return [v is not None and v is not pd.NA and bool(v == True)
                for v in arr.tolist()]          # noqa: E712
    return (arr == True).tolist()               # noqa: E712


def match_nfa(events: DataFrame, stages: list[NfaStage],
              within_minutes: float | None = None,
              key: str | list[str] = "user_id",
              after_match: str = NO_SKIP,
              ts_col: str = "ts", id_col: str = "event_id",
              order_tiebreakers: list[str] | None = None,
              emit_timeouts: bool = False,
              watermark_timers: str | None = None,
              end_of_input: bool = False) -> DataFrame:
    """Run the NFA over a keyed event stream.

    Returns an append stream: one row per completed match with the
    consumed event ids / stage indexes (``ev_ids``/``ev_stages``) plus
    scalar start/end columns for oracle-friendly projection.

    ``key`` is one column name or a list — composite partition keys
    (e.g. ``(tenant, symbol)``) shuffle and run exactly like single
    ones (the reference keys its NFA by an arbitrary collation,
    ``physical/stream/StreamExecMatch.scala:69``); each key column is
    carried into the match output with its input type.

    ``order_tiebreakers`` are extra ORDER BY columns after the event
    time: processing order per key becomes ``(ts, *tiebreakers, id)``.
    Each entry is a column name, optionally suffixed `` DESC`` (or
    `` ASC``) — the reference accepts arbitrary collations after the
    rowtime (``StreamExecMatch.scala:69``), so descending tiebreakers
    order same-timestamp events in reverse.  The within-window and
    after-match cut positions remain event-time + id granular (the
    reference's collation handling uses the time attribute for both as
    well).

    ``emit_timeouts=True`` additionally emits TIMED-OUT PARTIAL matches
    (the reference's ``TimedOutPartialMatchHandler`` /
    ``PatternStream.flatSelect(timeoutTag, ...)``,
    ``flink-libraries/flink-cep/.../functions/TimedOutPartialMatchHandler.java``):
    when the within-window expires a partial run — i.e. an event for the
    same key arrives with event time past ``run_start + within`` — the
    run's consumed prefix is emitted with ``timed_out = true`` instead of
    being dropped silently; completed matches carry ``timed_out =
    false``.  Requires ``within_minutes``.

    ``watermark_timers`` (a watermark delay string, e.g. ``"0 seconds"``)
    arms CROSS-KEY event-time timers (``GroupStateTimeout.
    EventTimeTimeout`` + ``setTimeoutTimestamp`` — the reference's
    ``CepOperator.java:82`` onEventTime): when the GLOBAL watermark
    passes ``run_start + within`` for a key that has gone silent, the
    key's expired runs flush without any same-key arrival — a satisfied
    trailing-greedy run emits its maximal match as a NORMAL match,
    other partials go to the timeout output (with ``emit_timeouts``) or
    are dropped, and held skip-strategy matches unblock.  Requires
    ``within_minutes`` (only a window makes a silent run decidable) and
    a streaming source; ``withWatermark(ts_col, watermark_timers)`` is
    applied here.  Without it, expiry is driven by same-key event-time
    advance only (plus the end-of-input close on bounded replays) —
    the right mode for batch replays, where there is no cross-key clock.

    ``end_of_input=True`` says the micro-batch carrying a key's rows is
    the last one: after the key's last row its pending runs are closed
    (see the module's scope notes) and its state row is removed.  The
    caller must deliver the whole input in one micro-batch and check it
    (``run_to_completion(..., single_batch=True)``).

    ``after_match`` is ``no_skip``, ``skip_to_next``,
    ``skip_past_last``, or a tuple
    ``("skip_to_first"|"skip_to_last", var)`` naming a pattern variable
    (``AfterMatchSkipStrategy.skipToFirst/skipToLast``,
    ``flink-libraries/flink-cep/.../nfa/aftermatch/``): after a match,
    partial runs that began before the first/last event mapped to
    ``var`` are discarded — the surviving runs are exactly the ones the
    reference's NFA would resume from, because the no-skip engine
    already keeps a parallel run per possible start position.
    """
    _validate(stages, has_window=within_minutes is not None)
    keys = [key] if isinstance(key, str) else list(key)
    tiebreak, tb_desc = [], set()
    for item in (order_tiebreakers or []):
        parts = item.split()
        if len(parts) == 2 and parts[1].upper() == "DESC":
            tiebreak.append(parts[0])
            tb_desc.add(parts[0])
        elif len(parts) == 2 and parts[1].upper() == "ASC":
            tiebreak.append(parts[0])
        elif len(parts) == 1:
            tiebreak.append(parts[0])
        else:
            raise ValueError(f"bad order tiebreaker {item!r}")
    skip_var_idx: set[int] = set()
    if isinstance(after_match, tuple):
        mode, var = after_match
        if mode not in (SKIP_TO_FIRST, SKIP_TO_LAST):
            raise ValueError(f"bad after_match {after_match!r}")
        skip_var_idx = {i for i, s in enumerate(stages) if s.name == var}
        if not skip_var_idx:
            raise ValueError(f"skip-to variable {var!r} not in pattern")
        after_match = mode
    elif after_match not in (NO_SKIP, SKIP_TO_NEXT, SKIP_PAST_LAST):
        raise ValueError(f"bad after_match {after_match!r}")
    n = len(stages)
    within_us = None if within_minutes is None else int(within_minutes * 60_000_000)
    if emit_timeouts and within_us is None:
        raise ValueError("emit_timeouts needs within_minutes: only a "
                         "window can time a partial match out")
    if watermark_timers is not None and within_us is None:
        raise ValueError("watermark_timers needs within_minutes: without "
                         "a window a silent key's pending runs are "
                         "undecidable (no event can be ruled out)")
    timer_mode = watermark_timers is not None

    # navigation bookkeeping (MatchCodeGenerator.scala's IterativeCondition
    # analog): which per-run closures refine which stages, which (var, col)
    # values each run must remember (bounded head/tail, never the event
    # history), and how many physical rows back PREV reaches
    nav_fns = {i: s.nav.fn for i, s in enumerate(stages) if s.nav is not None}
    merged_tracked: dict[str, dict[str, list[int]]] = {}
    # var -> agg accumulator key -> arg evaluator (RUNNING aggregates in
    # DEFINE, match_recognize.md:263-331: one bounded (count, sum, min,
    # max) accumulator per entry per run, updated on consumption)
    merged_aggs: dict[str, dict[str, Any]] = {}
    count_all = False      # a COUNT(*)/COUNT(V.*): count every consumed row
    nav_row_cols: set[str] = set()
    prev_depth = 0
    for s in stages:
        if s.nav is None:
            continue
        nav_row_cols |= set(s.nav.row_cols)
        prev_depth = max(prev_depth, s.nav.prev_depth)
        count_all = count_all or getattr(s.nav, "count_all", False)
        for var, aggd in getattr(s.nav, "aggs", {}).items():
            merged_aggs.setdefault(var, {}).update(aggd)
        for var, cols in s.nav.tracked.items():
            for col, (nf, nl) in cols.items():
                cur = merged_tracked.setdefault(var, {}).setdefault(
                    col, [0, 0])
                cur[0], cur[1] = max(cur[0], nf), max(cur[1], nl)
    nav_track = bool(merged_tracked or merged_aggs or count_all)
    stage_var = [s.name for s in stages]
    if nav_fns:
        # nav values round-trip through the state store as JSON — keep
        # them scalar (the reference's match buffer is rows; ours is the
        # handful of navigated values)
        from pyspark.sql.types import BooleanType, NumericType, StringType
        by_name = {f.name: f.dataType for f in events.schema.fields}
        for c in sorted(nav_row_cols):
            dt = by_name.get(c)
            if dt is None:
                raise ValueError(f"navigation column {c!r} not in input")
            if not isinstance(dt, (NumericType, StringType, BooleanType)):
                raise NotImplementedError(
                    f"navigation over column {c!r} of type {dt}: only "
                    "numeric/string/boolean columns are supported")

    # JVM-side predicate evaluation — the Python NFA walks bit vectors
    # only.  The bits ship as ONE packed non-null int64 column (bit i =
    # stage i's pred; until bits follow the n stage bits): the stateful
    # operator's input crosses the JVM->Python boundary per key chunk
    # and PySpark's Arrow->pandas conversion pays per COLUMN (measured
    # ~46% of the NFA worker profile; guide §4.1 "control how many
    # columns cross").  One non-null int64 converts zero-copy, where n
    # nullable booleans convert as n object columns with per-column
    # isna scans.  NULL predicates pack as 0 — exactly the
    # fillna(False) the unpacked path applied via _bool_list.  Patterns
    # past 62 bits (never in practice) keep one boolean column per bit.
    tagged = events
    until_off: dict[int, int] = {}
    _bit = n
    for i, s in enumerate(stages):
        if s.until:
            until_off[i] = _bit
            _bit += 1
    use_bits = _bit <= 62
    if use_bits:
        terms = []
        for i, s in enumerate(stages):
            terms.append(
                f"(CASE WHEN ({s.pred}) THEN {1 << i}L ELSE 0L END)")
            if s.until:
                terms.append(f"(CASE WHEN ({s.until}) THEN "
                             f"{1 << until_off[i]}L ELSE 0L END)")
        # disjoint single-bit terms: + is exact bitwise OR here
        tagged = tagged.withColumn("__bits", F.expr(" + ".join(terms)))
        pred_cols = ["__bits"]
    else:
        pred_cols = []
        for i, s in enumerate(stages):
            tagged = tagged.withColumn(f"__m{i}", F.expr(s.pred))
            pred_cols.append(f"__m{i}")
            if s.until:
                tagged = tagged.withColumn(f"__u{i}", F.expr(s.until))
                pred_cols.append(f"__u{i}")
    # prune before the keyed shuffle: Catalyst cannot see through the
    # Python state function, so an explicit projection is what keeps the
    # wide event payload out of the exchange — the NFA only needs the
    # key, time, id, order tiebreakers, the precomputed predicate bits,
    # and (nav only) the navigated value columns
    base_cols = [*keys, ts_col, *[c for c in tiebreak
                                  if c not in (*keys, ts_col, id_col)],
                 id_col]
    extra_cols = sorted(nav_row_cols - set(base_cols))
    tagged = tagged.select(*base_cols, *pred_cols, *extra_cols)
    # ship the event time as unix_micros int64, not timestamp: the NFA
    # consumes microseconds anyway (the old path cast datetime64[us] ->
    # int64 per chunk), and a plain int64 column skips the serializer's
    # per-chunk timestamp-localization pass (same §4.1 boundary cost as
    # the packed bits above; order is preserved — unix_micros is
    # monotonic).  Timer mode keeps the real timestamp: withWatermark
    # below needs the event-time column.
    ts_is_us = not timer_mode and ts_col not in keys
    if ts_is_us:
        tagged = tagged.withColumn(ts_col, F.unix_micros(F.col(ts_col)))

    by_type = {f.name: f.dataType.simpleString()
               for f in events.schema.fields}
    key_ddl = ", ".join(f"{k} {by_type[k]}" for k in keys)
    out_schema = (f"{key_ddl}, start_id bigint, end_id bigint, "
                  "start_ts timestamp, end_ts timestamp, n_events int, "
                  "ev_ids array<bigint>, ev_stages array<int>"
                  + (", timed_out boolean" if emit_timeouts else ""))
    # typed-column state (no JSON blob): runs are stored as parallel
    # arrays; the per-run variable-length event lists are flattened into
    # one array with per-run lengths (``r_evlen``) for reslicing.  The
    # state store then holds packed Arrow arrays — no json.dumps/loads
    # per key per micro-batch (r2 verdict #5).
    # r_nav/prev_rows: tiny JSON blobs (a few navigated scalars per run /
    # the last prev_depth rows), populated ONLY for navigation patterns —
    # empty strings otherwise, so non-nav patterns pay nothing.
    # STATE FORMAT v4 (see NFA_STATE_FORMAT_VERSION): v2 added the
    # r_nav/prev_rows fields, v3 the r_greps group-rep counters, v4 the
    # c_* held-completed-match fields (skip-strategy matches wait until
    # no EARLIER-started partial run is alive — the reference's
    # completedMatches priority queue, NFA.java:364), so a streaming
    # query restarted from a checkpoint written by an older schema
    # fails the state-store schema compatibility check rather than
    # migrating — restart such queries from a fresh checkpoint location
    # (the reference documents the same contract for changed CEP state
    # serializers).
    state_schema = ("r_stage array<int>, r_times array<int>, "
                    "r_guard array<int>, r_gstrict array<boolean>, "
                    "r_start_us array<bigint>, r_last_us array<bigint>, "
                    "r_evlen array<int>, r_evids array<bigint>, "
                    "r_evstages array<int>, r_evus array<bigint>, "
                    "cut_us bigint, cut_id bigint, "
                    "r_nav array<string>, prev_rows string, "
                    "r_greps array<int>, "
                    "c_start array<bigint>, c_last array<bigint>, "
                    "c_evlen array<int>, c_evids array<bigint>, "
                    "c_evstages array<int>, c_evus array<bigint>")

    # spec captured as plain tuples (tiny, serialized into the closure);
    # CONT = outer (entry-seam) strategy, INN = inner (between-loop-
    # iteration) strategy, both resolved through edge_strategies()
    spec = []
    for s in stages:
        outer_c, inner_c = s.edge_strategies()
        spec.append((outer_c, s.min_times, s.max_times, s.greedy,
                     s.until is not None, s.negated, inner_c))
    CONT, MIN, MAX, GREEDY, HAS_UNTIL, NEG, INN = range(7)

    # quantified group spans (GroupPattern.java:30 middle states):
    # grp_end maps a group's LAST stage index -> (start index, min reps,
    # max reps); g_of maps every member stage to its group id (= the end
    # index, -1 outside); skip0 maps a min-0 group's start -> the index
    # just past its end (the whole-group skip edge)
    grp_end = {i: (s.group_start, s.group_min, s.group_max)
               for i, s in enumerate(stages) if s.group_start is not None}
    g_of = [-1] * n
    for e_, (gs0, _, _) in grp_end.items():
        for k_ in range(gs0, e_ + 1):
            g_of[k_] = e_
    skip0 = {gs0: e_ + 1 for e_, (gs0, gmn0, _) in grp_end.items()
             if gmn0 == 0}

    def real_next(j: int) -> int:
        """First consuming (non-negated) stage index at/after j; n if none."""
        while j < n and spec[j][NEG]:
            j += 1
        return j

    # tail_opt[j]: every consuming stage strictly after j is skippable
    # (min-0 stage, or a whole min-0 group) — a run that just satisfied
    # j's quantifier holds a complete match and (non-greedy tier) emits
    # the prefix while continuing to extend
    def _tail_opt(j: int) -> bool:
        k = j + 1
        while k < n:
            if spec[k][NEG]:
                k += 1
            elif k in skip0:
                k = skip0[k]
            elif spec[k][MIN] == 0:
                k += 1
            else:
                return False
        return True

    tail_opt = [_tail_opt(j) for j in range(n)]

    def entries_from(j: int) -> list[int]:
        """Consuming stages enterable once position j's quantifier is
        satisfied: the linear next stage, plus each stage reachable by
        skipping whole min-0 groups (the group skip edge)."""
        out = []
        j2 = real_next(j + 1)
        while j2 < n:
            out.append(j2)
            if j2 in skip0:
                j2 = real_next(skip0[j2])
                continue
            break
        return out

    # pattern-shape tables, computed ONCE at compile time (the per-event
    # hot loop walks them; rebuilding them per (event, run) measured 2x
    # on NFA-heavy heads):
    # entries_cache[j] — the advance targets past stage j;
    # proceed_cands[j] — every stage a run satisfied at j can consume
    # into beyond j itself (the PROCEED closure through min-0 stages and
    # skippable groups).  Both are static: the only dynamic candidate is
    # the group loop-back edge, which depends on the run's rep count.
    entries_cache = [entries_from(j) for j in range(n)]
    proceed_cands = []
    for s0_ in range(n):
        cands0: list[int] = []
        work, seenw = [s0_], set()
        while work:
            jw = work.pop()
            if jw in seenw:
                continue
            seenw.add(jw)
            for j2_ in entries_cache[jw]:
                if j2_ not in cands0:
                    cands0.append(j2_)
                if spec[j2_][MIN] == 0:
                    work.append(j2_)
        proceed_cands.append(cands0)

    # per-stage relaxed_nd booleans, precomputed so the hot loop's
    # nd-keep test is a tuple index instead of two string compares per
    # (event, run, taken-edge)
    nd_inn = tuple(sp[INN] == "relaxed_nd" for sp in spec)
    nd_cont = tuple(sp[CONT] == "relaxed_nd" for sp in spec)

    # start candidates: stage 0 plus every consuming stage reachable
    # from it through leading min-0 stages and min-0 GROUPS — the
    # reference's start state PROCEEDs through leading optionals, so
    # `A? B` begins a run at B (with A skipped) as well as at A
    start_stages = []
    _j = real_next(0)
    while _j < n:
        start_stages.append(_j)
        if _j in skip0:
            _j = real_next(skip0[_j])
            continue
        if spec[_j][MIN] > 0:
            break
        _j = real_next(_j + 1)

    def guard_between(a: int, b: int) -> int:
        """Index of a negation stage strictly between a and b, else -1."""
        for g in range(a + 1, b):
            if spec[g][NEG]:
                return g
        return -1

    def fn(key_: Any, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import json as _json

        from flink_release_1_10_0_spark.streaming.navexpr import (
            fold_acc as _fold_acc)
        EMPTY_NAV = ({}, {})
        if state.exists:
            (r_stage, r_times, r_guard, r_gstrict, r_start, r_last,
             r_evlen, r_evids, r_evstages, r_evus, cut_us, cut_id,
             r_nav, prev_json, r_greps,
             c_start, c_last, c_evlen, c_evids, c_evstages,
             c_evus) = state.get
            cut = (int(cut_us), int(cut_id))
            evids, evstages, evus = list(r_evids), list(r_evstages), list(r_evus)
            runs, off = [], 0
            for i in range(len(r_stage)):
                ln = r_evlen[i]
                nv = EMPTY_NAV
                if i < len(r_nav) and r_nav[i]:
                    d = _json.loads(r_nav[i])
                    nv = (d["v"], d["n"])
                runs.append([int(r_stage[i]), int(r_times[i]),
                             int(r_guard[i]), bool(r_gstrict[i]),
                             int(r_start[i]), int(r_last[i]),
                             evids[off:off + ln], evstages[off:off + ln],
                             evus[off:off + ln], nv, int(r_greps[i])])
                off += ln
            prev_rows = _json.loads(prev_json) if prev_json else []
            cevids = list(c_evids)
            cevst, cevus_ = list(c_evstages), list(c_evus)
            pending, off = [], 0
            for i in range(len(c_start)):
                ln = c_evlen[i]
                pending.append((int(c_start[i]), int(c_last[i]),
                                cevids[off:off + ln], cevst[off:off + ln],
                                cevus_[off:off + ln]))
                off += ln
        else:
            runs, cut, prev_rows, pending = [], (-1, -1), [], []
        # run record (plain list): [stage, times, guard, guard_strict,
        # start_us, last_us, ev_ids, ev_stages, ev_us, nav, group_reps]
        # nav = (navvals: {var: {col: [firsts, lasts]}}, navn: {var: count})
        # group_reps = completed repetitions of the group the run's
        # CURRENT stage belongs to (0 outside groups / in the first rep)
        S, T, G, GS, A, L, EV, ST, EU, NV, GR = range(11)

        def nav_take(nv, var, rowvals):
            """Copy-on-write nav update when an event is consumed into
            ``var``: append the tracked columns' values (bounded head +
            tail), fold the row into the variable's aggregate
            accumulators, and bump the per-variable count."""
            spec_v = merged_tracked.get(var)
            agg_v = merged_aggs.get(var)
            if spec_v is None and agg_v is None and not count_all:
                return nv
            navvals, navn = nv
            vd = dict(navvals)
            old = vd.get(var) or {}
            # start from the old entries so agg accumulators survive a
            # tracked-cols-only update and vice versa
            new_cols = dict(old)
            if spec_v:
                for col, (nf, nl) in spec_v.items():
                    f, l = old.get(col, ([], []))
                    val = rowvals.get(col)
                    if len(f) < nf:
                        f = list(f) + [val]
                    l = (list(l) + [val])[-nl:] if nl else list(l)
                    new_cols[col] = (f, l)
            if agg_v:
                for akey, arg in agg_v.items():
                    # the SAME fold the compiled aggregate closures use
                    # for the tentative current-row evaluation — one
                    # update rule, no desynchronization possible
                    # (fold_acc unpacks list accumulators from the JSON
                    # state round-trip directly; no tuple() needed)
                    new_cols[akey] = _fold_acc(
                        old.get(akey) or (0, None, None, None),
                        arg(rowvals, None, None, None))
            if new_cols:
                vd[var] = new_cols
            nn = dict(navn)
            nn[var] = nn.get(var, 0) + 1
            return (vd, nn)
        matches: list[tuple] = []   # (start_us, last_us, ev_ids, ev_stages)
        timeouts: list[tuple] = []  # same shape: window-expired partials

        # the after-match cut is an EVENT POSITION, (ts_us, event_id) —
        # not a bare timestamp — so two events sharing a microsecond are
        # still ordered, matching the reference's event-granular pruning
        # (runs are compared by their start event's position, inclusive:
        # start <= cut is pruned)
        def emit(run_start, run_last, evs, sts, eus):
            # NO_SKIP emits immediately (the reference's non-skip branch,
            # NFA.java:346); under a skip strategy the completed match is
            # HELD until no earlier-started partial run is alive — the
            # reference's completedMatches priority queue + start-order
            # emission (NFA.java:364 processMatchesAccordingToSkipStrategy)
            # — so preferment is by START position (SQL:2016 leftmost),
            # not completion order, and a younger match that completes
            # first is discarded when an older match's pruning id covers
            # its start.
            if after_match == NO_SKIP:
                matches.append((run_start, run_last, evs, sts))
            else:
                pending.append((run_start, run_last, evs, sts, eus))

        def resolve(live_runs):
            """Emit held matches in start order while the earliest one
            starts at-or-before every live partial run, applying the
            skip strategy's pruning id to BOTH the run list and the
            remaining held matches (AfterMatchSkipStrategy.prune on
            partialMatches + completedMatches)."""
            nonlocal cut, pending
            if after_match == NO_SKIP or not pending:
                return live_runs
            # one sort per resolve: pop(0) and the order-preserving
            # prune keep the list sorted across iterations (stable sort
            # breaks (start_us, start_id) ties by completion order)
            pending.sort(key=lambda p: (p[0], p[2][0]))
            while pending:
                p = pending[0]
                if live_runs:
                    mn = min((r[A], r[EV][0]) for r in live_runs)
                    if (p[0], p[2][0]) > mn:
                        break
                pending.pop(0)
                matches.append((p[0], p[1], p[2], p[3]))
                if after_match == SKIP_PAST_LAST:
                    cut = max(cut, (p[1], p[2][-1]))
                elif after_match == SKIP_TO_NEXT:
                    # discard matches/partials starting AT the emitted
                    # match's start (SkipToNextStrategy: prune <= first
                    # event) — later starts survive
                    cut = max(cut, (p[0], p[2][0]))
                else:
                    sel = [(u, e) for u, e, st2 in zip(p[4], p[2], p[3])
                           if st2 in skip_var_idx]
                    if sel:
                        tgt = (min(sel) if after_match == SKIP_TO_FIRST
                               else max(sel))
                        # runs beginning strictly before the skip target
                        # die; a run beginning AT the target survives
                        # (the cut is inclusive, so step one id back)
                        cut = max(cut, (tgt[0], tgt[1] - 1))
                if cut > (-1, -1):
                    live_runs = [r for r in live_runs
                                 if (r[A], r[EV][0]) > cut]
                    pending = [q for q in pending
                               if (q[0], q[2][0]) > cut]
            return live_runs

        if timer_mode and state.hasTimedOut:
            # cross-key event-time timer fired for a SILENT key
            # (CepOperator.java:82 onEventTime → NFA advanceTime): the
            # global watermark passed run_start + within for at least
            # one run, with no same-key arrival to drive the per-event
            # expiry arm.  Same disposition as that arm: a satisfied
            # trailing-greedy run's maximal match is decided (nothing
            # inside the window can extend it) and emits as a NORMAL
            # match; other partials time out; held skip-strategy
            # matches behind the expired runs unblock.
            wm_us = state.getCurrentWatermarkMs() * 1000
            live = []
            for run in runs:
                if after_match != NO_SKIP and (run[A], run[EV][0]) <= cut:
                    continue
                if wm_us - run[A] > within_us:
                    s_x = run[S]
                    if (spec[s_x][GREEDY] and run[T] >= spec[s_x][MIN]
                            and tail_opt[s_x] and run[G] < 0):
                        emit(run[A], run[L], run[EV], run[ST], run[EU])
                    elif emit_timeouts:
                        timeouts.append((run[A], run[L], run[EV], run[ST]))
                else:
                    live.append(run)
            runs = resolve(live)
        # one event-time sort per key per micro-batch: Spark hands a
        # key's rows over in arrival order, split into Arrow chunks of
        # ``arrow.maxRecordsPerBatch`` rows, so sorting chunk by chunk
        # would let a later chunk's earlier events cross the seam
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = (chunks[0] if len(chunks) == 1
                   else pd.concat(chunks, ignore_index=True))
            sort_cols = [ts_col, *[c for c in tiebreak
                                   if c not in (ts_col, id_col)], id_col]
            asc = [c not in tb_desc for c in sort_cols]
            order = _sort_permutation(pdf, sort_cols, asc)
            if order is None:
                pdf = pdf.sort_values(sort_cols, ascending=asc)

            def _col(c):
                a = pdf[c].to_numpy()
                return a if order is None else a[order]

            ids = _col(id_col).astype("int64").tolist()
            if ts_is_us:
                tss = _col(ts_col).astype("int64", copy=False).tolist()
            else:
                tss = (_col(ts_col).astype("datetime64[us]")
                       .astype("int64").tolist())
            if use_bits:
                # unpack the single int64 bit column at C speed: bit i
                # = stage i's pred, until bits at until_off[i]
                mb = _col("__bits").astype(np.int64, copy=False)
                mvec = [((mb >> i) & 1).astype(np.bool_).tolist()
                        for i in range(n)]
                uvec = [((mb >> until_off[i]) & 1).astype(np.bool_).tolist()
                        if spec[i][HAS_UNTIL] else None for i in range(n)]
            else:
                mvec = [_bool_list(_col(f"__m{i}")) for i in range(n)]
                uvec = [_bool_list(_col(f"__u{i}"))
                        if spec[i][HAS_UNTIL] else None for i in range(n)]
            # per-row tuples of the precomputed predicate bits, built
            # once per chunk at C speed instead of a per-event listcomp
            mrows = list(zip(*mvec))
            if nav_fns:
                # NaN -> NULL once per column, then one zip-transpose
                # into per-row dicts (the former per-event dict build +
                # per-cell NaN check dominated the row bookkeeping)
                cols_nav = list(nav_row_cols)
                if cols_nav:
                    cleaned = [[None if (isinstance(v, float) and v != v)
                                else v
                                for v in _col(c).tolist()]
                               for c in cols_nav]
                    rowdicts = [dict(zip(cols_nav, t))
                                for t in zip(*cleaned)]
                else:
                    # pure-navigation DEFINE with no column refs (e.g.
                    # 'C AS COUNT(*) = 3'): zip(*[]) yields nothing, so
                    # the per-row transpose would come back EMPTY and
                    # rowdicts[r_i] would raise — every row shares one
                    # empty dict instead (rowvals is never mutated:
                    # nav_take is copy-on-write, closures only .get)
                    rowdicts = [{}] * len(ids)
            else:
                rowdicts = None
            for r_i in range(len(ids)):
                eid, ts_us = ids[r_i], tss[r_i]
                m = mrows[r_i]
                rowvals = rowdicts[r_i] if rowdicts is not None else None
                new_runs: list[list] = []
                for run in runs:
                    # skipPastLastEvent: a partial match begun at/before
                    # the last match end is discarded — runs are processed
                    # oldest-first, so the oldest completion wins and
                    # younger partials die immediately (the reference
                    # prunes the shared buffer the same way)
                    if after_match != NO_SKIP and (run[A], run[EV][0]) <= cut:
                        continue
                    # window expiry kills the run before it can consume —
                    # but a SATISFIED trailing-greedy run is not a partial
                    # match: the closing window is its loop-closing
                    # condition (nothing inside the window can extend it
                    # anymore), so the consumed maximum emits as a NORMAL
                    # match (its span fits the window by construction).
                    # Other runs: with emit_timeouts the consumed prefix
                    # goes to the timeout output
                    # (TimedOutPartialMatchHandler) instead of vanishing
                    if within_us is not None and ts_us - run[A] > within_us:
                        s_x = run[S]
                        if (spec[s_x][GREEDY] and run[T] >= spec[s_x][MIN]
                                and tail_opt[s_x] and run[G] < 0):
                            emit(run[A], run[L], run[EV], run[ST], run[EU])
                        elif emit_timeouts:
                            timeouts.append((run[A], run[L], run[EV],
                                             run[ST]))
                        continue
                    # negation guard: a matching event kills the run;
                    # a strict guard (notNext) checks only this event
                    if run[G] >= 0:
                        if m[run[G]]:
                            continue
                        if run[GS]:
                            run = run[:G] + [-1, False] + run[A:]
                    s_, t_ = run[S], run[T]
                    # until: the loop stops accepting; advance if satisfied,
                    # then let this same event try the next stage
                    if spec[s_][HAS_UNTIL] and uvec[s_][r_i]:
                        if t_ < spec[s_][MIN]:
                            continue          # loop unsatisfied at stop
                        nxt = real_next(s_ + 1)
                        if nxt >= n:
                            # trailing loop closes: greedy emits the
                            # maximal match now; non-greedy already
                            # emitted every prefix — the run just dies
                            if spec[s_][GREEDY]:
                                emit(run[A], run[L], run[EV], run[ST],
                                     run[EU])
                            continue
                        g = guard_between(s_, nxt)
                        run = [nxt, 0, g, g >= 0 and spec[g][CONT] == "strict",
                               run[A], run[L], run[EV], run[ST], run[EU],
                               run[NV], 0]
                        s_, t_ = nxt, 0
                    # candidate stages this event could consume into:
                    # the current stage (while below max), the group
                    # loop-back edge (at a completed rep below max reps),
                    # then each next stage reachable through satisfied/
                    # optional stages and whole min-0 group skips
                    cands = []
                    mx = spec[s_][MAX]
                    if mx is None or t_ < mx:
                        cands.append(s_)
                    lb_off = None     # loop-back take target this run
                    proceed_ok = t_ >= spec[s_][MIN]
                    ge_s = grp_end.get(s_)
                    if ge_s is not None and proceed_ok:
                        gsx, gmnx, gmxx = ge_s
                        done0 = run[GR] + 1
                        if gmxx is None or done0 < gmxx:
                            lb_off = gsx
                            cands.append(gsx)
                        if done0 < gmnx:
                            proceed_ok = False
                    if proceed_ok:
                        cands.extend(proceed_cands[s_])
                    if nav_fns:
                        # per-run navigation refinement (IterativeCondition):
                        # the SQL bit must be set AND the nav closure must be
                        # TRUE (NULL/False -> the edge is not taken)
                        taken = []
                        for j in cands:
                            if not m[j]:
                                continue
                            fnav = nav_fns.get(j)
                            if fnav is not None and fnav(
                                    rowvals, run[NV][0], run[NV][1],
                                    prev_rows) is not True:
                                continue
                            taken.append(j)
                    else:
                        taken = [j for j in cands if m[j]]
                    if not taken:
                        # effective IGNORE strategy at the current
                        # position: inside a loop (>=1 take) the INNER
                        # strategy governs; waiting to enter, the OUTER
                        # one (Quantifier inner vs outer consuming
                        # strategies — consecutive() hardens only the
                        # between-iteration edges, the entry seam keeps
                        # the sequencing verb's contiguity).  A run
                        # waiting at a COMPLETED group rep follows the
                        # loop-back seam (the group start's contiguity —
                        # the reference's group middle state owns the
                        # ignore edge there, not the last inner stage)
                        ge_w = grp_end.get(s_)
                        at_rep_end = ge_w is not None and t_ >= spec[s_][MIN]
                        if at_rep_end:
                            eff = spec[ge_w[0]][CONT]
                        else:
                            eff = (spec[s_][INN] if t_ >= 1
                                   else spec[s_][CONT])
                        if eff == "strict" and at_rep_end:
                            # strict loop-back seam violated: the rep
                            # sequence ends here — fork the past-group
                            # state(s) if the group is satisfied, then die
                            if run[GR] + 1 >= ge_w[1]:
                                for nxt0 in entries_cache[s_]:
                                    if spec[nxt0][CONT] == "strict":
                                        continue
                                    g0 = guard_between(s_, nxt0)
                                    new_runs.append(
                                        [nxt0, 0, g0,
                                         g0 >= 0 and spec[g0][CONT] == "strict",
                                         run[A], run[L], run[EV], run[ST],
                                         run[EU], run[NV], 0])
                            continue
                        if eff == "strict":
                            # strict contiguity violated at the CURRENT
                            # stage: this branch dies — but a satisfied
                            # loop's PROCEEDED state survives through the
                            # next stage's IGNORE edge (the reference's
                            # consecutive() row: `a b+.consecutive c`
                            # over `a b1 d c` still emits {a b1 c}); a
                            # strict cand DEEPER in the chain only lacks
                            # its own TAKE this event, it never kills
                            # this branch (NFACompiler.java:827 edges;
                            # NFA.java:574 "IGNORE after PROCEED").
                            if t_ >= spec[s_][MIN]:
                                nxt0 = real_next(s_ + 1)
                                if nxt0 >= n:
                                    # TRAILING satisfied loop closed by
                                    # a strict violation: the greedy
                                    # (SQL-quantifier) tier emits the
                                    # maximal match now — the PROCEED-
                                    # to-final edge fires on the very
                                    # event that ends the run (SQL:2016
                                    # greedy backtracking yields the
                                    # consumed maximum; PATTERN
                                    # (A B{2,3}) over a b b x matches
                                    # {a b b}).  Non-greedy already
                                    # emitted every prefix.
                                    if spec[s_][GREEDY]:
                                        emit(run[A], run[L], run[EV],
                                             run[ST], run[EU])
                                elif spec[nxt0][CONT] != "strict":
                                    g0 = guard_between(s_, nxt0)
                                    new_runs.append(
                                        [nxt0, 0, g0,
                                         g0 >= 0 and spec[g0][CONT] == "strict",
                                         run[A], run[L], run[EV], run[ST],
                                         run[EU], run[NV], 0])
                            continue
                        new_runs.append(run)  # IGNORE
                        continue
                    # greedy loop: suppress the advance branch while the
                    # loop stage itself still matches
                    if run[S] in taken and spec[run[S]][GREEDY]:
                        taken = [run[S]]
                    for j in taken:
                        t2 = run[T] + 1 if j == run[S] else 1
                        evs2 = run[EV] + [eid]
                        sts2 = run[ST] + [j]
                        us2 = run[EU] + [ts_us]
                        nv2 = (nav_take(run[NV], stage_var[j], rowvals)
                               if nav_track else run[NV])
                        # group rep bookkeeping: a loop-back take starts
                        # the next repetition; moving within the same
                        # group keeps the count; entering (or leaving)
                        # a group resets it
                        if j == lb_off:
                            gr2 = run[GR] + 1
                        elif g_of[j] >= 0 and g_of[j] == g_of[run[S]]:
                            gr2 = run[GR]
                        else:
                            gr2 = 0
                        mnj, mxj = spec[j][MIN], spec[j][MAX]
                        nxt = real_next(j + 1)
                        ge_j = grp_end.get(j)
                        if ge_j is not None:
                            # take lands on a group END stage: a rep
                            # completes when the stage quantifier is
                            # satisfied; the run then holds BOTH the
                            # loop-back and the proceed edge (offered by
                            # the cands walk from this resting state)
                            gsj, gmnj, gmxj = ge_j
                            done_j = gr2 + 1
                            sat_in = mxj is not None and t2 == mxj
                            g_sat = t2 >= mnj and done_j >= gmnj
                            g_full = gmxj is not None and done_j == gmxj
                            if nxt >= n and g_sat and sat_in and g_full:
                                emit(run[A], ts_us, evs2, sts2, us2)
                                continue
                            if g_sat and tail_opt[j]:
                                # per-completed-rep prefix emission
                                # (trailing group loop: Pattern.java:306
                                # partial-match semantics per iteration)
                                emit(run[A], ts_us, evs2, sts2, us2)
                            if sat_in and g_full and nxt < n:
                                # full group: advance — one explicit run
                                # per skip-chain position (a PROCEEDed
                                # computation state each, like the
                                # reference's NFA materializes)
                                for tgt in entries_cache[j]:
                                    g = guard_between(j, tgt)
                                    new_runs.append(
                                        [tgt, 0, g,
                                         g >= 0 and spec[g][CONT] == "strict",
                                         run[A], ts_us, evs2, sts2, us2,
                                         nv2, 0])
                            else:
                                new_runs.append([j, t2, -1, False, run[A],
                                                 ts_us, evs2, sts2, us2,
                                                 nv2, gr2])
                            continue
                        if nxt >= n and t2 >= mnj and mxj is not None \
                                and t2 == mxj:
                            emit(run[A], ts_us, evs2, sts2, us2)
                            continue
                        if t2 >= mnj and tail_opt[j] and not spec[j][GREEDY]:
                            # trailing-stage prefix emission: the match
                            # is complete as of this event (remaining
                            # stages all optional) — emit it and keep
                            # the run extending (Pattern.java:246/:306
                            # partial-match semantics)
                            emit(run[A], ts_us, evs2, sts2, us2)
                        if mxj is not None and t2 == mxj and nxt < n:
                            # bounded stage saturated: advance pointer
                            # now — the reference's times chain wires
                            # the FINAL take edge directly into the
                            # next pattern's state
                            # (NFACompiler.createTimesState: each
                            # singleton's addTake targets the chain's
                            # sink, ending at the following pattern),
                            # so `a b{1,2} c` over `a b b c c` emits
                            # ONLY (a b b c1) — the saturated loop does
                            # NOT rest with an ignore edge (unbounded
                            # loops do; that is the oneOrMore looping
                            # state, a different construction).  One
                            # explicit run per skip-chain position when
                            # the next stage opens skippable min-0
                            # groups (the reference materializes a
                            # computation state per PROCEED).
                            for tgt in entries_cache[j]:
                                g = guard_between(j, tgt)
                                gr_adv = (gr2 if g_of[tgt] >= 0
                                          and g_of[tgt] == g_of[j] else 0)
                                new_runs.append(
                                    [tgt, 0, g,
                                     g >= 0 and spec[g][CONT] == "strict",
                                     run[A], ts_us, evs2, sts2, us2, nv2,
                                     gr_adv])
                        else:
                            new_runs.append([j, t2, -1, False,
                                             run[A], ts_us, evs2, sts2, us2,
                                             nv2, gr2])
                    # relaxed_nd keep (SKIP_TILL_ANY ignore fires even
                    # when the take fires): an ENTERING take — into a
                    # stage the run was not already looping in — is
                    # governed by the OUTER strategy (followedByAny),
                    # a CONTINUING loop take by the INNER one
                    # (allowCombinations; getIgnoreCondition vs
                    # getInnerIgnoreCondition, NFACompiler.java:791/:827)
                    # — so `a b+ c` with combinations never emits a
                    # subset missing the loop's first event.
                    kept_pre = False
                    for j in taken:
                        if (nd_inn[j] if (j == run[S] and run[T] >= 1)
                                else nd_cont[j]):
                            kept_pre = True
                            break
                    if kept_pre:
                        new_runs.append(run)  # keep the pre-TAKE run alive
                    # PROCEED fork (NFACompiler.java:827 SKIP_TILL_NEXT
                    # edge set): a non-greedy loop taking ANOTHER event
                    # would destroy its stop-early prefix — the reference
                    # persists the proceeded state (loop closed, waiting
                    # at the next stage) whenever that state's IGNORE
                    # edge (NOT(next pred)) accepts this event, so
                    # `a b1 b2 c` still emits {a b1 c}.  No fork when the
                    # event also matches the next stage (the advance
                    # branch in `taken` already covers it), the next
                    # stage is strict (no IGNORE edge), the loop is
                    # greedy (PROCEED is guarded with NOT(take) —
                    # updateWithGreedyCondition), or the loop is
                    # relaxed_nd (the kept pre-take run reaches the same
                    # states and a fork would double-emit).
                    s0 = run[S]
                    if (s0 in taken and run[T] >= spec[s0][MIN]
                            and not spec[s0][GREEDY]
                            and not kept_pre):
                        nxt0 = real_next(s0 + 1)
                        # IGNORE = NOT(full take condition, nav
                        # refinement included): fork whenever the next
                        # stage did not consume this event
                        if (nxt0 < n and nxt0 not in taken
                                and spec[nxt0][CONT] != "strict"):
                            g0 = guard_between(s0, nxt0)
                            new_runs.append(
                                [nxt0, 0, g0,
                                 g0 >= 0 and spec[g0][CONT] == "strict",
                                 run[A], run[L], run[EV], run[ST],
                                 run[EU], run[NV], 0])
                    # stage IGNORE edge on advance (NFACompiler.java:827:
                    # SKIP_TILL_NEXT ignores events NOT matching the
                    # stage's own take condition, SKIP_TILL_ANY ignores
                    # unconditionally): when this event advanced out of
                    # a relaxed stage without being consumed INTO it,
                    # the stage's own branch survives — `a b+ c` keeps
                    # matching later c's with more b's.  (An until-
                    # stopped loop never reaches here: the until path
                    # rebinds the run past the loop first, matching the
                    # reference's ignore-edge extension with NOT(until);
                    # a relaxed_nd stage consumed this event keeps its
                    # pre-take run through the nd-keep above instead.)
                    # a fired loop-back consumed the waiting state's own
                    # take edge, and the ignore of a completed-rep rest
                    # follows the loop-back seam (SKIP_TILL_NEXT: ignore
                    # only events NOT matching the state's own take)
                    lb_fired = lb_off is not None and lb_off in taken
                    ge_k = grp_end.get(s0)
                    if ge_k is not None and run[T] >= spec[s0][MIN]:
                        keep_eff = spec[ge_k[0]][CONT]
                    else:
                        keep_eff = (spec[s0][INN] if run[T] >= 1
                                    else spec[s0][CONT])
                    if s0 not in taken and not lb_fired \
                            and keep_eff != "strict":
                        new_runs.append(run)
                # a matching event always also begins a fresh run — at
                # stage 0 or at any stage the start state PROCEEDs to
                # through leading optionals (the NFA start state is
                # always active — NO_SKIP default)
                if (ts_us, eid) > cut:
                    for js in start_stages:
                        if not m[js]:
                            continue
                        fjs = nav_fns.get(js)
                        # fresh run: empty match buffer (own-var refs see
                        # the current row; other-var navigation is NULL) —
                        # the shared EMPTY_NAV dicts are never mutated
                        # (nav_take is copy-on-write)
                        if fjs is not None and fjs(
                                rowvals, EMPTY_NAV[0], EMPTY_NAV[1],
                                prev_rows) is not True:
                            continue
                        nv0 = (nav_take(EMPTY_NAV, stage_var[js], rowvals)
                               if nav_track else EMPTY_NAV)
                        mnj0, mxj0 = spec[js][MIN], spec[js][MAX]
                        nxt = real_next(js + 1)
                        if nxt >= n and mxj0 == 1:
                            emit(ts_us, ts_us, [eid], [js], [ts_us])
                            continue
                        if (1 >= mnj0 and tail_opt[js]
                                and not spec[js][GREEDY]):
                            # one consumed event already completes the
                            # match (rest of the pattern is optional /
                            # this is a satisfied trailing loop's first
                            # take): emit the short match, keep the run
                            emit(ts_us, ts_us, [eid], [js], [ts_us])
                        if mxj0 == 1:
                            for tgt in entries_cache[js]:
                                g = guard_between(js, tgt)
                                new_runs.append(
                                    [tgt, 0, g,
                                     g >= 0 and spec[g][CONT] == "strict",
                                     ts_us, ts_us, [eid], [js], [ts_us],
                                     nv0, 0])
                        else:
                            new_runs.append([js, 1, -1, False,
                                             ts_us, ts_us, [eid], [js],
                                             [ts_us], nv0, 0])
                if prev_depth:
                    # PREV is physical: every partition row (matched or
                    # not) becomes the next row's predecessor
                    prev_rows = (prev_rows + [rowvals])[-prev_depth:]
                if after_match != NO_SKIP and cut > (-1, -1):
                    new_runs = [r for r in new_runs
                                if (r[A], r[EV][0]) > cut]
                # dedupe branches that converged to the same shape
                seen = set()
                runs = []
                for r in new_runs:
                    k2 = (r[S], r[T], r[G], r[GR], tuple(r[EV]))
                    if k2 not in seen:
                        seen.add(k2)
                        runs.append(r)
                if len(runs) > MAX_RUNS_PER_KEY:
                    runs = runs[-MAX_RUNS_PER_KEY:]
                # start-order skip-strategy emission: held matches flush
                # while no earlier-started partial remains (the
                # reference resolves the completedMatches queue after
                # each event's computation states, NFA.java:337-364)
                runs = resolve(runs)
                if len(pending) > MAX_RUNS_PER_KEY:
                    # the held queue is bounded like the run list: keep
                    # the EARLIEST-started matches (they emit first;
                    # under every skip strategy a younger held match is
                    # the one an older emission's pruning id discards)
                    pending.sort(key=lambda p: (p[0], p[2][0]))
                    del pending[MAX_RUNS_PER_KEY:]

        if end_of_input:
            # end-of-input close after the key's last row (the final
            # +inf watermark of a bounded reference job): a satisfied
            # trailing-greedy run's maximal match is decided — emit it;
            # every other partial times out (or is dropped without the
            # timeout output)
            blockers = []
            for run in runs:
                if after_match != NO_SKIP and (run[A], run[EV][0]) <= cut:
                    continue
                s_f = run[S]
                if (spec[s_f][GREEDY] and run[T] >= spec[s_f][MIN]
                        and tail_opt[s_f] and run[G] < 0):
                    emit(run[A], run[L], run[EV], run[ST], run[EU])
                else:
                    if emit_timeouts:
                        timeouts.append((run[A], run[L], run[EV], run[ST]))
                    # an UNSATISFIED partial: it never completes, but it
                    # still blocks younger held matches — the reference's
                    # bounded-job close leaves completedMatches queued
                    # behind a live partial unemitted, so those are
                    # DISCARDED here, not flushed (full SQL:2016 batch
                    # backtracking would instead re-bind the blocked
                    # run's tail rows — a documented divergence both
                    # engines share).  With a within-window, the final
                    # +inf watermark EXPIRES every windowed partial before
                    # the queue drains (reference advanceTime), so a
                    # windowed partial never blocks at the close — the
                    # held match emits.
                    if within_us is None:
                        blockers.append(run)
            resolve(blockers)
            # nothing of the key outlives its input: the state row goes
            runs, pending, prev_rows, cut = [], [], [], (-1, -1)

        if not runs and not pending and not prev_rows and cut == (-1, -1):
            # nothing to persist: drop the state row entirely instead of
            # storing empty arrays.  Matters most in timer mode: a key
            # whose runs all flushed via the watermark timer and then
            # goes silent would otherwise hold an empty entry with no
            # timer armed FOREVER — unbounded state growth on exactly
            # the unbounded-stream workload the timers target.  The
            # reconstruction path treats a missing row identically to
            # an empty one, so this is a pure state-size win.
            if state.exists:
                state.remove()
        else:
            nav_ser = ["" if not (r[NV][0] or r[NV][1])
                       else _json.dumps({"v": r[NV][0], "n": r[NV][1]})
                       for r in runs]
            state.update(([r[S] for r in runs], [r[T] for r in runs],
                          [r[G] for r in runs], [bool(r[GS]) for r in runs],
                          [r[A] for r in runs], [r[L] for r in runs],
                          [len(r[EV]) for r in runs],
                          [e for r in runs for e in r[EV]],
                          [s2 for r in runs for s2 in r[ST]],
                          [u for r in runs for u in r[EU]],
                          cut[0], cut[1], nav_ser,
                          _json.dumps(prev_rows) if prev_rows else "",
                          [r[GR] for r in runs],
                          [p[0] for p in pending], [p[1] for p in pending],
                          [len(p[2]) for p in pending],
                          [e for p in pending for e in p[2]],
                          [s2 for p in pending for s2 in p[3]],
                          [u for p in pending for u in p[4]]))
            if timer_mode and runs:
                # re-arm for the earliest live run's window close: fires
                # strictly after run_start + within (ms granularity), and
                # always strictly after the current watermark (Spark's
                # setTimeoutTimestamp contract)
                deadline_ms = (min(r[A] for r in runs)
                               + within_us) // 1000 + 1
                state.setTimeoutTimestamp(
                    max(deadline_ms, state.getCurrentWatermarkMs() + 1))
        if matches or timeouts:
            rows = matches + timeouts
            nr = len(rows)

            # explicit dtypes: pandas per-column type inference on these
            # per-yield frames measured ~12% of the NFA worker profile
            def _i8(vals):
                return np.fromiter(vals, dtype=np.int64, count=nr)

            def _obj(vals):
                a = np.empty(nr, dtype=object)
                for i2, v2 in enumerate(vals):
                    a[i2] = v2
                return a

            out = {
                **{k: [key_[i]] * nr for i, k in enumerate(keys)},
                "start_id": _i8(mt[2][0] for mt in rows),
                "end_id": _i8(mt[2][-1] for mt in rows),
                "start_ts": np.array([mt[0] for mt in rows],
                                     dtype="datetime64[us]"),
                "end_ts": np.array([mt[1] for mt in rows],
                                   dtype="datetime64[us]"),
                "n_events": _i8(len(mt[2]) for mt in rows),
                "ev_ids": _obj([mt[2] for mt in rows]),
                "ev_stages": _obj([mt[3] for mt in rows])}
            if emit_timeouts:
                out["timed_out"] = np.array([False] * len(matches)
                                            + [True] * len(timeouts))
            yield pd.DataFrame(out)

    if os.environ.get("SPARK_GRAFT_NFA_PROFILE"):
        fn = _profile_wrap(fn, os.environ["SPARK_GRAFT_NFA_PROFILE"])
    if timer_mode:
        return (tagged.withWatermark(ts_col, watermark_timers)
                .groupBy(*keys)
                .applyInPandasWithState(
                    fn, out_schema, state_schema, "append",
                    GroupStateTimeout.EventTimeTimeout))
    return (tagged.groupBy(*keys)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def _profile_wrap(fn, out_dir: str):
    """Diagnostics only (SPARK_GRAFT_NFA_PROFILE=<dir>): accumulate a
    per-worker cProfile of the NFA state function and snapshot it to
    ``<dir>/nfa_<pid>.prof`` every few keys — the UDF perf profiler does
    not cover applyInPandasWithState.  Inert unless the env var is set."""
    holder: list = [None, 0]    # [Profile, call count] — created in the
                                # worker (a Profile object cannot pickle)

    def wrapped(key_, pdfs, state):
        import cProfile
        if holder[0] is None:
            holder[0] = cProfile.Profile()
        prof = holder[0]
        prof.enable()
        try:
            out = list(fn(key_, pdfs, state))
        finally:
            prof.disable()
        holder[1] += 1
        if holder[1] % 20 == 0:
            prof.dump_stats(os.path.join(out_dir, f"nfa_{os.getpid()}.prof"))
        yield from out
    return wrapped

