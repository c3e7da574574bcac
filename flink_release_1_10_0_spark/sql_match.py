"""SQL-text MATCH_RECOGNIZE front end.

Accepts the full Flink 1.10 / SQL:2016 row-pattern clause verbatim —

    SELECT ... FROM events MATCH_RECOGNIZE (
      PARTITION BY user_id
      ORDER BY ts
      MEASURES FIRST(A.value) AS a_val, COUNT(B.*) AS n_b
      ONE ROW PER MATCH
      AFTER MATCH SKIP PAST LAST ROW
      PATTERN (A B+ C)
      WITHIN INTERVAL '90' MINUTE
      DEFINE A AS event_type = 'click', ...
    ) [AS m] ...

— and executes it on the engine's NFA + declarative-measures stack
(``streaming/cep.py``), exactly the path the reference compiles this
clause onto (``flink-table-planner-blink/.../physical/stream/
StreamExecMatch.scala:69`` parsing into ``org.apache.flink.cep``).

Spark-first split: Spark SQL has no MATCH_RECOGNIZE, so the clause is
excised from the statement, run as the stateful NFA + a JVM-side
measures projection, registered as a temp view, and the REMAINDER of
the statement (projection, filters, joins around the clause) runs
through ``spark.sql`` untouched — Catalyst still owns everything
Catalyst can do.

DEFINE predicates come in two tiers:
- no navigation (``B AS B.value < 10``): own-variable prefix stripped,
  evaluated as a JVM-side Spark SQL boolean column (the fast path);
- with navigation (``B AS B.price > LAST(A.price)``, ``C AS C.v <
  A.v``, ``U AS U.value > PREV(U.value)``) or an AGGREGATE with the
  reference's RUNNING semantics (``A AS AVG(A.price) < 15`` — the
  aggregate ranges over A's mapped rows so far, the row under test
  included; ``SUM/AVG/MIN/MAX/COUNT``, expression arguments over a
  single variable, ``COUNT(V.*)``/``COUNT(*)``;
  ``match_recognize.md:263-331``): compiled by
  ``streaming/navexpr.py`` into a per-run closure the NFA evaluates
  against its bounded match buffer — the reference's
  IterativeCondition path (``MatchCodeGenerator.scala`` navigation
  codegen over ``flink-cep`` NFA state).  A pattern variable with no
  DEFINE defaults to TRUE (``match_recognize.md:257``).

PARTITION BY accepts any number of columns (composite keys like
``(tenant, symbol)`` shuffle the NFA exactly like single ones — the
reference's arbitrary partition collation,
``StreamExecMatch.scala:69``); ORDER BY takes the event-time column
first plus optional tiebreakers that refine per-key processing order —
plain columns or scalar expressions, each with an optional ``ASC``/
``DESC`` suffix (``ORDER BY ts, priority DESC, value * -1`` — the
reference accepts arbitrary collations after the rowtime).

Documented narrowings (each raises, never silently degrades):
- ORDER BY's FIRST operand must be the event-time column, ascending
  (the rowtime collation; descending event time raises);
- ``NEXT(...)`` inside DEFINE (needs lookahead; the reference rejects
  it outside MEASURES too) and navigation over non-scalar columns;
- MEASURES accept navigation aggregates (FIRST/LAST/MIN/MAX/SUM/AVG/
  COUNT, bare ``V.col``, RUNNING/FINAL prefixes), ``MATCH_NUMBER()``,
  and — under ONE ROW PER MATCH — compound scalar expressions over
  them (``LAST(A.v) - FIRST(B.v)``, ``ROUND(AVG(X.v), 2)``; the
  scalar glue runs as Spark SQL verbatim).  Navigation offsets
  (``FIRST(V.col, k)``/``LAST(V.col, k)``, SQL:2016 logical offsets,
  NULL when out of range) work in both output modes.  ALL ROWS PER
  MATCH keeps the single-aggregate grammar for each measure.
- ``SUBSET S = (A, B)`` union variables are supported in MEASURES
  (rows mapped to ANY member — an EXCEEDS-reference surface, the
  reference documents SUBSET as unsupported); SUBSET references in
  DEFINE and SKIP-TO targets naming a subset refuse loudly.
"""

from __future__ import annotations

import re
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_MR_HEAD = re.compile(
    r"FROM\s+([A-Za-z_][\w.]*)\s+MATCH_RECOGNIZE\s*\(", re.IGNORECASE)
_ALIAS = re.compile(r"\s*(?:AS\s+)?([A-Za-z_]\w*)", re.IGNORECASE)

# clause keywords in grammar order; matched only at paren-depth 0
_CLAUSES = ["PARTITION BY", "ORDER BY", "MEASURES", "ONE ROW PER MATCH",
            "ALL ROWS PER MATCH", "AFTER MATCH", "PATTERN", "SUBSET",
            "WITHIN", "DEFINE"]


@dataclass
class MatchSpec:
    table: str
    partition_by: list[str]
    # [event-time col, *tiebreakers] — tiebreakers are normalized
    # "operand" / "operand DESC" strings; an operand may be a column
    # name or a scalar SQL expression (computed pre-shuffle)
    order_by: list[str]
    measures: dict[str, str] = field(default_factory=dict)
    match_number_alias: str | None = None
    rows_per_match: str = "one"
    after_match: str = "skip_to_next_row"
    pattern: str = ""
    within_minutes: float | None = None
    define: dict[str, str] = field(default_factory=dict)
    subsets: dict[str, list[str]] = field(default_factory=dict)
    outer: str = ""          # statement with the clause replaced by {VIEW}


def _find_balanced(s: str, open_idx: int) -> int:
    """Index of the ')' matching the '(' at open_idx (quote-aware)."""
    depth, i, n = 0, open_idx, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n and s[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise ValueError("unbalanced parens in MATCH_RECOGNIZE")


def _split_clauses(body: str) -> list[tuple[str, str]]:
    """Split the clause body at top-level grammar keywords."""
    marks: list[tuple[int, int, str]] = []
    depth, i, n = 0, 0, len(body)
    up = body.upper()
    while i < n:
        c = body[i]
        if c == "'":
            i += 1
            while i < n and body[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            for kw in _CLAUSES:
                # '_' is a word character: a column named url_pattern or
                # x_define must not be detected as a clause keyword
                if (up.startswith(kw, i)
                        and (i == 0 or not (up[i - 1].isalnum()
                                            or up[i - 1] == "_"))
                        and (i + len(kw) == n
                             or not (up[i + len(kw)].isalnum()
                                     or up[i + len(kw)] == "_"))):
                    marks.append((i, i + len(kw), kw))
                    i += len(kw) - 1
                    break
        i += 1
    out = []
    for j, (s0, s1, kw) in enumerate(marks):
        end = marks[j + 1][0] if j + 1 < len(marks) else n
        out.append((kw, body[s1:end].strip()))
    return out


def _split_top_commas(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            cur.append(c)
            i += 1
            while i < n and s[i] != "'":
                cur.append(s[i])
                i += 1
            if i < n:
                cur.append(s[i])
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    if "".join(cur).strip():
        parts.append("".join(cur).strip())
    return parts


def _plain_sort_col(item: str) -> str:
    """A PARTITION BY operand must be a bare column name, optionally
    suffixed ``ASC``."""
    m = re.match(r"^([A-Za-z_]\w*)(?:\s+(ASC|DESC))?$", item.strip(),
                 re.IGNORECASE)
    if not m:
        raise NotImplementedError(
            f"PARTITION BY operand must be a plain column name, "
            f"got {item!r}")
    if m.group(2) and m.group(2).upper() == "DESC":
        raise NotImplementedError(
            "PARTITION BY ... DESC is meaningless (keys have no order)")
    return m.group(1)


_ORDER_DIR = re.compile(r"\s+(ASC|DESC)\s*$", re.IGNORECASE)


def _order_operand(item: str, is_first: bool) -> str:
    """Parse one ORDER BY operand; returns the normalized form
    ``"operand"`` or ``"operand DESC"``.

    The FIRST operand is the event-time attribute: it must be a plain
    ascending column (the NFA consumes events in ascending event time —
    the reference's rowtime collation).  TIEBREAKERS accept any column
    name or scalar SQL expression with an optional ``ASC``/``DESC``
    suffix — the reference accepts arbitrary collations after the
    rowtime (``StreamExecMatch.scala:69``); expression operands are
    computed as derived columns before the keyed shuffle."""
    s = item.strip()
    asc = True
    dm = _ORDER_DIR.search(s)
    if dm:
        asc = dm.group(1).upper() != "DESC"
        s = s[:dm.start()].strip()
    if is_first:
        if not re.match(r"^[A-Za-z_]\w*$", s):
            raise NotImplementedError(
                "ORDER BY's first operand is the event-time attribute "
                f"and must be a plain column name, got {item!r}")
        if not asc:
            raise NotImplementedError(
                "descending event time is not supported (the NFA "
                "consumes events in ascending event-time order, like "
                "the reference's rowtime collation)")
    return s if asc else f"{s} DESC"


_INTERVAL = re.compile(
    r"INTERVAL\s+'(\d+(?:\.\d+)?)'\s+(SECOND|MINUTE|HOUR|DAY)S?",
    re.IGNORECASE)
_AS_SPLIT = re.compile(r"\s+AS\s+([A-Za-z_]\w*)\s*$", re.IGNORECASE)
_MATCH_NO = re.compile(r"^\s*MATCH_NUMBER\s*\(\s*\)\s*$", re.IGNORECASE)
_MATCH_ROWTIME = re.compile(r"^\s*MATCH_ROWTIME\s*\(\s*\)\s*$",
                            re.IGNORECASE)
_MATCH_PROCTIME = re.compile(r"^\s*MATCH_PROCTIME\s*\(\s*\)\s*$",
                             re.IGNORECASE)


def has_match_recognize(query: str) -> bool:
    """True only when a REAL ``FROM <tbl> MATCH_RECOGNIZE (`` clause is
    present — the keyword inside a string literal or a ``--`` comment
    must not route the statement to the MR executor."""
    scrubbed = re.sub(r"'(?:[^']|'')*'", "''", query)
    scrubbed = re.sub(r"--[^\n]*", "", scrubbed)
    scrubbed = re.sub(r"/\*.*?\*/", "", scrubbed, flags=re.DOTALL)
    return _MR_HEAD.search(scrubbed) is not None


def parse_match_recognize(query: str) -> MatchSpec:
    m = _MR_HEAD.search(query)
    if not m:
        raise ValueError("no MATCH_RECOGNIZE clause found")
    table = m.group(1)
    open_idx = query.index("(", m.end() - 1)
    close_idx = _find_balanced(query, open_idx)
    body = query[open_idx + 1:close_idx]
    tail = query[close_idx + 1:]
    am = _ALIAS.match(tail)
    alias = ""
    # an alias must not swallow the next SQL keyword (WHERE/GROUP/...)
    if am and am.group(1).upper() not in (
            "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION", "JOIN",
            "LEFT", "RIGHT", "INNER", "CROSS", "ON"):
        alias = " AS " + am.group(1)
        tail = tail[am.end():]
    outer = query[:m.start()] + "FROM {VIEW}" + alias + tail

    spec = MatchSpec(table=table, partition_by=[], order_by=[], outer=outer)
    for kw, content in _split_clauses(body):
        if kw == "PARTITION BY":
            spec.partition_by = [_plain_sort_col(c)
                                 for c in _split_top_commas(content)]
        elif kw == "ORDER BY":
            spec.order_by = [_order_operand(c, is_first=(i == 0))
                             for i, c in enumerate(_split_top_commas(content))]
        elif kw == "MEASURES":
            for item in _split_top_commas(content):
                am_ = _AS_SPLIT.search(item)
                if not am_:
                    raise ValueError(f"MEASURES item needs AS: {item!r}")
                name, expr = am_.group(1), item[:am_.start()].strip()
                if _MATCH_NO.match(expr):
                    spec.match_number_alias = name
                else:
                    spec.measures[name] = expr
        elif kw == "ONE ROW PER MATCH":
            spec.rows_per_match = "one"
        elif kw == "ALL ROWS PER MATCH":
            spec.rows_per_match = "all"
        elif kw == "AFTER MATCH":
            s = re.sub(r"^\s*SKIP\s+", "", content,
                       flags=re.IGNORECASE).strip()
            low = s.lower()
            if low in ("to next row", "to_next_row"):
                spec.after_match = "skip_to_next_row"
            elif low in ("past last row", "past_last_row"):
                spec.after_match = "skip_past_last_row"
            else:
                # keywords case-insensitive, but the pattern-variable
                # name keeps its case (stage names are case-sensitive)
                mm = re.match(r"to\s+(first|last)\s+([A-Za-z_]\w*)$", s,
                              re.IGNORECASE)
                if not mm:
                    raise ValueError(f"bad AFTER MATCH clause: {content!r}")
                spec.after_match = (f"skip_to_{mm.group(1).lower()} "
                                    f"{mm.group(2)}")
        elif kw == "PATTERN":
            inner = content.strip()
            if not (inner.startswith("(") and inner.endswith(")")):
                raise ValueError("PATTERN needs parentheses")
            spec.pattern = inner[1:-1].strip()
        elif kw == "SUBSET":
            # SQL:2016 SUBSET S = (A, B): a union variable usable in
            # MEASURES (rows mapped to ANY member).  The reference
            # documents SUBSET as unsupported
            # (docs/dev/table/streaming/match_recognize.md) — this is
            # an EXCEEDS-reference surface, MEASURES-side only.
            for item in _split_top_commas(content):
                sm = re.match(r"^([A-Za-z_]\w*)\s*=\s*\(([^)]*)\)$",
                              item.strip())
                if not sm:
                    raise ValueError(f"bad SUBSET item: {item!r}")
                members = [v.strip() for v in sm.group(2).split(",")
                           if v.strip()]
                if not members:
                    raise ValueError(f"empty SUBSET: {item!r}")
                spec.subsets[sm.group(1)] = members
        elif kw == "WITHIN":
            im = _INTERVAL.match(content.strip())
            if not im:
                raise ValueError(f"bad WITHIN interval: {content!r}")
            v = float(im.group(1))
            unit = im.group(2).upper()
            spec.within_minutes = v * {"SECOND": 1 / 60, "MINUTE": 1,
                                       "HOUR": 60, "DAY": 1440}[unit]
        else:
            for item in _split_top_commas(content):
                dm = re.match(r"([A-Za-z_]\w*)\s+AS\s+(.+)$", item,
                              re.IGNORECASE | re.DOTALL)
                if not dm:
                    raise ValueError(f"bad DEFINE item: {item!r}")
                spec.define[dm.group(1)] = dm.group(2).strip()
    if not spec.pattern or not spec.define:
        raise ValueError("MATCH_RECOGNIZE needs PATTERN and DEFINE")
    if not spec.partition_by or not spec.order_by:
        raise NotImplementedError(
            "PARTITION BY and ORDER BY are required (keyed event time)")
    for sname, members in spec.subsets.items():
        if sname in spec.define:
            raise ValueError(
                f"SUBSET {sname!r} collides with a DEFINE variable")
        for v in members:
            if v not in spec.define:
                raise ValueError(
                    f"SUBSET {sname!r} member {v!r} has no DEFINE")
        # MEASURES-side only: a subset referenced from DEFINE would
        # need union-variable navigation state in the NFA, and SKIP TO
        # a subset needs a union cut target — refuse loudly
        for dv, dtext in spec.define.items():
            if re.search(rf"\b{re.escape(sname)}\s*\.", dtext):
                raise NotImplementedError(
                    f"SUBSET {sname!r} referenced in DEFINE {dv!r}: "
                    "subsets are a MEASURES surface here")
        if spec.after_match.split()[-1] == sname:
            raise NotImplementedError(
                f"AFTER MATCH SKIP TO the SUBSET {sname!r}: skip "
                "targets must be pattern variables")
    return spec


def _expand_alternation(pattern: str):
    """Detect ONE top-level alternation group ``(A B | C D)`` in the
    PATTERN and expand it: returns the list of full branch patterns
    (one per alternative), or ``None`` when the pattern has no
    alternation.

    SQL:2016 alternation (the reference documents it as unsupported,
    ``match_recognize.md:1108``) is executed here as the UNION of the
    expanded branch patterns.  That is exact only when at most one
    branch can proceed past any DIVERGENCE point — strict row-pattern
    contiguity gives that iff, for every branch pair, the variables at
    their first differing pattern position have pairwise-DISJOINT
    predicates; ``execute_match_recognize_sql`` checks exactly those
    pairs against the actual input (so ``PERMUTE`` expansions with
    repeated heads work too).  AFTER MATCH must be SKIP TO NEXT ROW
    (cross-branch pruning under the other strategies would need one
    shared NFA).  Narrowings (loud): one alternation group per
    pattern, plain variable sequences inside (no nested groups), no
    quantifier on the group, no min-0 quantifier at a divergence
    position."""
    i, n = 0, len(pattern)
    while i < n:
        if pattern[i] != "(":
            i += 1
            continue
        j = pattern.find(")", i)
        if j < 0:
            return None          # unbalanced: the compiler raises
        inner = pattern[i + 1:j]
        if "|" not in inner:
            i = j + 1
            continue
        if "(" in inner:
            raise NotImplementedError(
                "alternation branches must be plain variable "
                "sequences (no nested pattern groups)")
        rest = pattern[j + 1:]
        if rest.lstrip()[:1] in ("+", "*", "?", "{"):
            raise NotImplementedError(
                "quantified alternation group ((A B | C D)+): "
                "repetition across alternatives needs a shared NFA — "
                "unroll the repetition explicitly")
        if "|" in rest:
            raise NotImplementedError(
                "multiple alternation groups in one PATTERN: expand "
                "the cross product explicitly")
        branches = [b.strip() for b in inner.split("|")]
        if any(not b for b in branches):
            raise ValueError(f"empty alternation branch in {pattern!r}")
        return [f"{pattern[:i]} {b} {rest}".strip() for b in branches]
    if "|" in pattern:
        raise ValueError(
            "alternation needs parentheses: PATTERN ((A B | C D) E)")
    return None


def _compile_define(spec: MatchSpec) -> tuple[dict[str, str], dict]:
    """Split DEFINE into the Spark-SQL fast path and the navigation path.

    A predicate WITHOUT navigation (``B AS B.value < 10``) has its
    own-variable prefix stripped and stays a JVM-side boolean column.
    A predicate WITH navigation — ``FIRST/LAST/PREV`` calls or a
    qualified reference to ANOTHER pattern variable (``B AS B.price >
    LAST(A.price)``, ``C AS C.v < A.v``) — compiles to a per-run
    closure (``streaming/navexpr.py``) evaluated inside the NFA, the
    reference's IterativeCondition path (``MatchCodeGenerator.scala``).
    Returns ``(sql_define, nav)`` where nav stages' SQL bit is ``true``.
    """
    from flink_release_1_10_0_spark.streaming.navexpr import (
        compile_nav_predicate, has_navigation)

    sql_define: dict[str, str] = {}
    nav: dict = {}
    all_vars = list(spec.define)
    for var, pred in spec.define.items():
        if has_navigation(pred, var, all_vars):
            nav[var] = compile_nav_predicate(pred, var, all_vars)
            sql_define[var] = "true"
        else:
            sql_define[var] = re.sub(rf"\b{var}\s*\.", "", pred)
    return sql_define, nav


def execute_match_recognize_sql(spark: SparkSession, query: str,
                                batch_df: DataFrame | None = None,
                                stream_df: DataFrame | None = None,
                                id_col: str = "event_id") -> DataFrame:
    """Parse + run a statement containing MATCH_RECOGNIZE; returns the
    result of the FULL statement (outer projection included).

    ``batch_df`` overrides the FROM-table resolution (otherwise
    ``spark.table(name)``); MEASURES and the anchor bounds read it.  The
    NFA runs over a micro-stream, the replay source, chosen as follows:

    - a caller's ``stream_df`` is used as given, with the NFA's
      UNBOUNDED semantics: a continuous stream has no end, so tail
      matches still pending when such a replay stops follow the
      unbounded contract (see ``streaming/nfa.py`` scope notes), and
      anchors (^/$) refuse;
    - a FROM frame that ``catalog.load`` returned in this session is
      streamed straight from its parquet file (``read_stream_table``):
      no Spark job runs before the query starts;
    - any other frame (a derived column, a filter, ``spark.table``) is
      written once, in parallel, to a temp dir the call owns and removes
      after the last alternation branch has run.

    The last two are BOUNDED replays: the NFA sorts each key's rows of
    the micro-batch by ``(ts, tiebreakers, id)`` and closes the key after
    its last row (``match_nfa(end_of_input=True)``), the final +inf
    watermark of a bounded reference job — a satisfied trailing-greedy
    match at the end of the input emits instead of being dropped
    (SQL:2016 batch semantics).  That close is exact only when the whole
    input arrives in ONE micro-batch (``availableNow`` over files, no
    ``maxFilesPerTrigger``), so a bounded run that took more raises.

    SCALE CONTRACT: a bounded replay puts each key's whole input into
    one Python call of the stateful operator — exactly right for oracle
    replays and bounded tables whose keys fit a worker, wrong for an
    unbounded feed.  Production callers pass ``stream_df`` (a real keyed
    stream — Kafka, file-monitor, rate source); the NFA partitions by
    key and scales."""
    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.catalog import table_source
    from flink_release_1_10_0_spark.streaming.cep import (
        _parse_after_match, compile_match_pattern, match_recognize_measures)
    from flink_release_1_10_0_spark.streaming.core import (
        read_stream_table, run_to_completion)
    from flink_release_1_10_0_spark.streaming.nfa import match_nfa

    spec = parse_match_recognize(query)
    # pattern EXCLUSION `{- B+ -}` (SQL:2016; the reference documents it
    # as unsupported, match_recognize.md:1115 — an EXCEEDS surface):
    # the excluded variables participate in matching (and in MEASURES
    # aggregates) but their rows are dropped from the ALL ROWS PER
    # MATCH output.  Under ONE ROW PER MATCH exclusion has no output
    # effect (the standard's own note) — accepted and ignored.
    excluded: list[str] = []
    def _strip_excl(m):
        excluded.extend(re.findall(r"[A-Za-z_]\w*", m.group(1)))
        return " " + m.group(1) + " "
    _excl_re = re.compile(r"\{-\s*(.*?)\s*-\}")
    outside = _excl_re.sub(" ", spec.pattern)   # pattern minus exclusions
    spec.pattern = _excl_re.sub(_strip_excl, spec.pattern)
    for v in excluded:
        # exclusion here is BY VARIABLE (the output filter drops every
        # row classified to it); SQL:2016 exclusion is by SPAN — a
        # variable appearing both inside and outside `{- -}` would
        # lose its non-excluded rows too, so refuse that shape loudly
        if re.search(rf"\b{re.escape(v)}\b", outside):
            raise NotImplementedError(
                f"excluded variable {v!r} also appears OUTSIDE the "
                "{- -} span: exclusion is applied per variable here "
                "(classifier filter), not per span — rename the "
                "second occurrence")
    # ANCHORS ^ / $ (SQL:2016 partition start/end; the reference calls
    # them streaming-meaningless and refuses, match_recognize.md:1113 —
    # a BOUNDED replay has a well-defined partition start/end, so they
    # are supported HERE for the batch path only): parsed off the
    # pattern ends now, enforced as a post-filter on the match log
    # (match start == the partition's first event / match end == its
    # last event) before the measures projection.
    anchor_start = anchor_end = False
    p = spec.pattern.strip()
    if p.startswith("^"):
        anchor_start, p = True, p[1:].strip()
    if p.endswith("$"):
        anchor_end, p = True, p[:-1].strip()
    if ("^" in p) or ("$" in p):
        raise NotImplementedError(
            "anchors are only valid at the pattern ends "
            "(^ first, $ last) — mid-pattern anchors are contradictory")
    spec.pattern = p
    if (anchor_start or anchor_end) and stream_df is not None:
        raise NotImplementedError(
            "anchors (^/$) need a BOUNDED replay: partition start/end "
            "is undecidable on a user-supplied stream (the reference "
            "refuses anchors entirely for the same reason)")
    if anchor_end and spec.after_match != "skip_to_next_row":
        # under SKIP PAST LAST ROW a non-$-anchored match's pruning id
        # would suppress the later match SQL's anchored search finds
        # (SQL never emits the unanchored candidate, so it never cuts);
        # SKIP TO NEXT ROW's cut is the match START, which cannot
        # suppress any later-starting candidate.  ^ is safe under every
        # strategy: the held start-order emission never lets a younger
        # match cut a still-alive older (earlier-starting) run.
        raise NotImplementedError(
            "the $ anchor needs AFTER MATCH SKIP TO NEXT ROW (other "
            "strategies let a discarded unanchored match prune the "
            "anchored one SQL would find)")
    # PERMUTE (A, B[, C]) (SQL:2016; unsupported in the reference,
    # match_recognize.md:1111): sugar for the alternation of every
    # ordering — rewritten here and executed by the branch-union
    # machinery below, whose divergence checks then require the
    # permuted variables pairwise disjoint (n! branches share prefixes,
    # so every pair of permuted variables IS a divergence pair)
    pm = re.search(r"PERMUTE\s*\(([^)]*)\)", spec.pattern, re.IGNORECASE)
    if pm:
        import itertools as _it
        pvars = [v.strip() for v in pm.group(1).split(",") if v.strip()]
        if len(pvars) < 2 or len(pvars) > 3:
            raise NotImplementedError(
                "PERMUTE with n outside 2..3: n! branch expansion — "
                "write the orderings you need as an explicit "
                "alternation")
        alts = " | ".join(" ".join(p) for p in _it.permutations(pvars))
        spec.pattern = (spec.pattern[:pm.start()] + "(" + alts + ")"
                        + spec.pattern[pm.end():])
    # a pattern variable with no DEFINE gets the default TRUE condition
    # (the reference: "If a condition is not defined for a pattern
    # variable, a default condition will be used which evaluates to
    # true for every row", match_recognize.md:257 — its flagship
    # aggregation example leaves B undefined)
    for pv in re.findall(r"[A-Za-z_]\w*", spec.pattern):
        if pv not in spec.subsets:
            spec.define.setdefault(pv, "TRUE")
    # MATCH_ROWTIME() (match_recognize.md:1036): the timestamp of the
    # LAST row mapped to the match, usable as the rowtime of subsequent
    # windows/joins.  Compiled with zero new grammar: MAX(ts) over a
    # synthetic SUBSET spanning every pattern variable (= all mapped
    # rows).  MATCH_PROCTIME() refuses: a replayed batch has no
    # processing-time attribute to return.
    _mrt_vars = None
    for name, expr in list(spec.measures.items()):
        if _MATCH_PROCTIME.match(expr):
            raise NotImplementedError(
                "MATCH_PROCTIME(): processing-time attributes are not "
                "modeled (event-time replays only); use MATCH_ROWTIME()")
        if _MATCH_ROWTIME.match(expr):
            if _mrt_vars is None:
                _mrt_vars = "__match_rowtime__"
                spec.subsets[_mrt_vars] = list(spec.define)
            spec.measures[name] = f"MAX({_mrt_vars}.{spec.order_by[0]})"
    batch = batch_df if batch_df is not None else spark.table(spec.table)
    define, nav = _compile_define(spec)
    alternation = _expand_alternation(spec.pattern)
    if alternation:
        # SQL:2016 alternation (EXCEEDS-reference, match_recognize.md:
        # 1108): UNION of the expanded branch patterns — exact iff the
        # branch heads are pairwise disjoint (strict contiguity then
        # lets at most one branch proceed per divergence row, so no
        # cross-branch preferment exists) and AFTER MATCH is SKIP TO
        # NEXT ROW (no cross-branch pruning).  Disjointness is CHECKED
        # against the actual input, not assumed.
        branch_patterns = alternation
        if spec.rows_per_match != "one":
            raise NotImplementedError(
                "alternation with ALL ROWS PER MATCH: per-branch "
                "match numbering cannot be merged — use ONE ROW")
        if spec.match_number_alias:
            raise NotImplementedError(
                "MATCH_NUMBER() with alternation: numbers would be "
                "per-branch, not global — drop the measure")
        if spec.after_match != "skip_to_next_row":
            raise NotImplementedError(
                "alternation needs AFTER MATCH SKIP TO NEXT ROW: the "
                "other strategies prune across branches, which the "
                "branch-union execution cannot model")
        # exactness condition: for every branch pair, the variables at
        # the FIRST differing pattern position must be disjoint — the
        # divergence row then selects at most one branch (the shared
        # prefix evolves identically in both executions, and strict
        # contiguity kills the unselected branch at the divergence row)
        _TOK = re.compile(r"[A-Za-z_]\w*(?:\{\d+(?:,\d*)?\}|[*+?])*")
        toks = [_TOK.findall(bp) for bp in branch_patterns]
        from itertools import combinations
        div_pairs: set[tuple[str, str]] = set()
        for t1, t2 in combinations(toks, 2):
            if t1 == t2:
                raise ValueError("duplicate alternation branch")
            k = next(i for i in range(min(len(t1), len(t2)) + 1)
                     if i >= min(len(t1), len(t2)) or t1[i] != t2[i])
            if k >= min(len(t1), len(t2)):
                # one token list is a strict prefix of the other: the
                # longer branch repeats the shared suffix's variables,
                # so no single row can select the branch
                raise NotImplementedError(
                    "one alternation branch is a strict prefix of "
                    "another (the extra variables shadow the shared "
                    "suffix) — rename the overlapping variables")
            d1, d2 = t1[k], t2[k]
            for d in (d1, d2):
                if d.endswith(("?", "*")) or "{0" in d:
                    raise NotImplementedError(
                        f"min-0 quantifier at an alternation "
                        f"divergence position ({d!r}): the divergence "
                        "row must be mandatory to select the branch")
            v1 = re.match(r"[A-Za-z_]\w*", d1).group(0)
            v2 = re.match(r"[A-Za-z_]\w*", d2).group(0)
            if v1 == v2:
                raise NotImplementedError(
                    f"alternation branches diverge inside {v1!r}'s "
                    "own quantifier: the divergence row cannot select "
                    "a branch — make the quantifiers equal or split "
                    "the variable")
            div_pairs.add((v1, v2))
        for v1, v2 in sorted(div_pairs):
            if v1 in nav or v2 in nav:
                raise NotImplementedError(
                    f"alternation divergence variable {v1!r}/{v2!r} "
                    "has a navigation/aggregate DEFINE: divergence "
                    "disjointness must be a plain row predicate to be "
                    "checkable")
            both = batch.filter(
                F.expr(f"({define[v1]}) AND ({define[v2]})"))
            if both.limit(1).count() > 0:
                raise ValueError(
                    f"alternation divergence variables {v1!r} and "
                    f"{v2!r} are NOT disjoint on this input (a row "
                    "satisfies both DEFINEs): branch selection would "
                    "be ambiguous — make the predicates mutually "
                    "exclusive")
        all_vars = list(spec.define)
        branches = [(compile_match_pattern(bp, define, nav=nav), all_vars)
                    for bp in branch_patterns]
    else:
        branches = [(compile_match_pattern(spec.pattern, define, nav=nav),
                     None)]

    # expression tiebreakers (ORDER BY ts, value * -1, ...) become
    # derived columns computed JVM-side before the keyed shuffle; plain
    # column operands (with optional DESC) pass straight through
    tiebreakers, derived = [], []
    for i, item in enumerate(spec.order_by[1:]):
        dm = _ORDER_DIR.search(item)
        operand = item[:dm.start()].strip() if dm else item
        suffix = " DESC" if item.endswith(" DESC") else ""
        if re.match(r"^[A-Za-z_]\w*$", operand):
            tiebreakers.append(operand + suffix)
        else:
            name = f"__ob{i}"
            derived.append((name, operand))
            tiebreakers.append(name + suffix)

    bounded = stream_df is None
    replay_dir = None
    if not bounded:
        stream = stream_df
    else:
        # project the replay down to the columns the NFA can
        # reference (guide §2.3 "project before the exchange", here
        # before the replay scan or write): keys, order columns,
        # the id, and any input column whose name appears in a DEFINE
        # condition or ORDER BY expression (a word-match superset —
        # never drops a referenced column; an unreferenced payload
        # column like a document body never pays the write+stream
        # round trip).  MEASURES read the BATCH side, not the stream.
        needed = {*spec.partition_by, spec.order_by[0], id_col}
        texts = list(spec.define.values()) + list(spec.order_by[1:])
        for c in batch.columns:
            if c not in needed and any(
                    re.search(rf"\b{re.escape(c)}\b", t) for t in texts):
                needed.add(c)
        cols = [c for c in batch.columns if c in needed]
        src = table_source(spark, batch)
        if src is not None:
            stream = read_stream_table(spark, *src).select(cols)
        else:
            replay_dir = tempfile.mkdtemp(prefix="sqlmatch_src_")
            frame = batch.select(cols)
            frame.write.mode("append").parquet(replay_dir)
            stream = spark.readStream.schema(frame.schema).parquet(replay_dir)
    for name, operand in derived:
        stream = stream.withColumn(name, F.expr(operand))

    def _run_one(branch_stages, measure_vars=None, drop_match_no=False):
        log = run_to_completion(
            match_nfa(stream, branch_stages,
                      within_minutes=spec.within_minutes,
                      key=spec.partition_by,
                      after_match=_parse_after_match(spec.after_match),
                      ts_col=spec.order_by[0], id_col=id_col,
                      order_tiebreakers=tiebreakers,
                      end_of_input=bounded),
            "append", single_batch=bounded)
        if anchor_start or anchor_end:
            # anchor filter on the match LOG, before measures: the
            # per-key partition bounds frame is tiny — broadcast it
            ts0 = spec.order_by[0]
            bounds = (batch.groupBy(*spec.partition_by).agg(
                F.expr(f"min_by({id_col}, struct({ts0}, {id_col}))")
                .alias("__first_id"),
                F.expr(f"max_by({id_col}, struct({ts0}, {id_col}))")
                .alias("__last_id")))
            log = log.join(F.broadcast(bounds), spec.partition_by)
            if anchor_start:
                log = log.filter(F.col("start_id") == F.col("__first_id"))
            if anchor_end:
                log = log.filter(F.col("end_id") == F.col("__last_id"))
            log = log.drop("__first_id", "__last_id")
        o = match_recognize_measures(
            # stage order comes from PATTERN, not the DEFINE clause — a
            # user may list DEFINE conditions in any order
            log, batch, stage_names=[s.name for s in branch_stages],
            measures=spec.measures, partition_by=spec.partition_by,
            rows_per_match=spec.rows_per_match, subsets=spec.subsets,
            exclude=excluded, measure_vars=measure_vars)
        return o.drop("match_no") if drop_match_no else o

    try:
        parts = [_run_one(branch_stages, measure_vars=mv,
                          drop_match_no=bool(alternation))
                 for branch_stages, mv in branches]
    finally:
        if replay_dir is not None:
            shutil.rmtree(replay_dir, ignore_errors=True)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if not alternation and spec.match_number_alias:
        out = out.withColumnRenamed("match_no", spec.match_number_alias)
    # the outer remainder may itself use Flink group-window functions
    # (TUMBLE/HOP/SESSION over the match output) — rewrite them too.
    # The match output enters as a DataFrame argument, not a registered
    # view; every other brace of the text is escaped for the formatter.
    from flink_release_1_10_0_spark.sql_windows import rewrite_group_windows
    outer = "{VIEW}".join(part.replace("{", "{{").replace("}", "}}")
                          for part in spec.outer.split("{VIEW}"))
    return spark.sql(rewrite_group_windows(outer), VIEW=out)
