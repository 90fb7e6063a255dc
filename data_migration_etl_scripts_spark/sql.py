"""SQL entry surface: register the catalog tables as temp views and run
ad-hoc ANSI SQL through Spark SQL.

The reference exposes its data only through per-script pandas code; a
user switching to this engine gets the same tables as named views and
the full Spark SQL dialect over them (`spark.sql(...)` → Catalyst →
the same optimized physical plans as the DataFrame API — the two
front-ends share the planner, so there is no penalty for SQL).

Views go through the same scan normalization as the query inventory
(`queries._t`): TIMESTAMP_NTZ/nanos vintages are folded to TIMESTAMP
once at registration, so SQL text never has to care which parquet
vintage it is reading.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark.gates import checkpoint_observed

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

#: DuckDB-dialect -> Spark SQL function renames with IDENTICAL
#: semantics and argument shapes (1-based list indexing on both sides
#: of list_extract/element_at; quantile_cont and percentile are both
#: exact linear-interpolation percentiles; epoch_us and unix_micros
#: are both microseconds-since-epoch). Rename-only by design: nothing
#: here reorders, retypes, or reinterprets arguments — anything needing
#: that (unnest, slices, lenient casts) stays engine-specific and is
#: NOT translated.
_DUCKDB_FN_RENAMES = {
    "list_distinct": "array_distinct",
    "list_filter": "filter",
    "list_transform": "transform",
    "list_extract": "element_at",
    "array_to_string": "array_join",
    "json_extract_string": "get_json_object",
    "quantile_cont": "percentile",
    "epoch_us": "unix_micros",
    "epoch": "unix_timestamp",
    "strlen": "octet_length",
    # list_sort and sort_array are both ASC NULLS FIRST by default;
    # string_split/split agree whenever the separator is regex-safe
    # (true of every oracle text — single space or punctuation-free),
    # and the per-query row-match test is the gate either way
    "list_sort": "sort_array",
    "string_split": "split",
    # both are partial-match regex predicates (RLIKE semantics)
    "regexp_matches": "regexp_like",
    # single-generator SELECT flattening; DuckDB's parallel multi-unnest
    # zipping has no Spark form — those texts raise MULTI_GENERATOR and
    # stay off the compat board (the row-match test is the gate)
    "unnest": "explode",
    # both inclusive, both take (start, stop[, step]) incl. timestamps
    "generate_series": "sequence",
    # r8 widening: DuckDB len() is list length in every oracle text
    # that uses it (string lengths are spelled length()/strlen());
    # cardinality is Spark's array/map length. Texts using len() on
    # strings would fail analysis and stay off the compat board.
    "len": "cardinality",
    "list_min": "array_min",
    "list_max": "array_max",
    "list_zip": "arrays_zip",
    "list_contains": "array_contains",
    "list_intersect": "array_intersect",
    "list_concat": "concat",
    "string_split_regex": "split",
    "chr": "char",
}


# --------------------------------------------------------------------
# literal-aware SQL text machinery (the dialect shim's parser-lite):
# every structural rewrite below walks single-quoted literals ('' is
# the escape) so quoted commas/parens/brackets can never desync it.

def _literal_mask(sql: str) -> list[bool]:
    """mask[i] is True when sql[i] is inside a single-quoted literal
    (including the quotes themselves)."""
    mask = [False] * len(sql)
    i, n, in_str = 0, len(sql), False
    while i < n:
        c = sql[i]
        if in_str:
            mask[i] = True
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":
                    mask[i + 1] = True
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            mask[i] = True
            in_str = True
        i += 1
    return mask


def _balanced_end(sql: str, open_pos: int, mask: list[bool] | None = None) -> int:
    """Index one PAST the closer matching the ( or [ at ``open_pos``
    (-1 if unbalanced)."""
    mask = mask if mask is not None else _literal_mask(sql)
    opener = sql[open_pos]
    closer = {"(": ")", "[": "]"}[opener]
    depth, j = 1, open_pos + 1
    while j < len(sql):
        if not mask[j]:
            if sql[j] == opener:
                depth += 1
            elif sql[j] == closer:
                depth -= 1
                if depth == 0:
                    return j + 1
        j += 1
    return -1


def _split_top(body: str, sep: str = ",") -> list[str]:
    """Split ``body`` on top-level ``sep`` (outside literals, parens,
    and brackets)."""
    mask = _literal_mask(body)
    parts, depth, last = [], 0, 0
    for i, c in enumerate(body):
        if mask[i]:
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(body[last:i])
            last = i + 1
    parts.append(body[last:])
    return parts


def _rewrite_calls(sql: str, fname: str, fn) -> str:
    """Replace every ``fname(args...)`` call (word-anchored, outside
    literals) with ``fn(args: list[str]) -> str``. fn returning None
    keeps the call unchanged. Innermost-first: args are recursively
    rewritten before fn sees them."""
    pat = re.compile(rf"\b{fname}\s*\(", re.IGNORECASE)
    i = 0
    while True:
        mask = _literal_mask(sql)
        m = pat.search(sql, i)
        while m and mask[m.start()]:
            m = pat.search(sql, m.end())
        if not m:
            return sql
        open_pos = m.end() - 1
        end = _balanced_end(sql, open_pos, mask)
        if end < 0:
            return sql
        body = _rewrite_calls(sql[open_pos + 1: end - 1], fname, fn)
        repl = fn([a.strip() for a in _split_top(body)])
        if repl is None:
            repl = sql[m.start(): open_pos + 1] + body + ")"
        sql = sql[: m.start()] + repl + sql[end:]
        i = m.start() + len(repl)


def _sub_outside_literals(sql: str, pattern: str, repl, flags=0) -> str:
    """re.sub that never fires inside single-quoted literals."""
    mask = _literal_mask(sql)
    out, pos = [], 0
    for m in re.finditer(pattern, sql, flags):
        if any(mask[m.start(): m.end()]):
            continue
        out.append(sql[pos: m.start()])
        out.append(m.expand(repl) if isinstance(repl, str) else repl(m))
        pos = m.end()
    out.append(sql[pos:])
    return "".join(out)


def _strip_regexp_replace_gflag(sql: str) -> str:
    """Drop a trailing ``, 'g'`` argument from ``regexp_replace(...)``
    calls ONLY (Spark's replace is global by default; its optional 4th
    arg is a position INT). A bare ``, 'g')`` regex would also eat
    e.g. split(col, 'g')."""
    def fix(args):
        if len(args) == 4 and args[3] == "'g'":
            return f"regexp_replace({args[0]}, {args[1]}, {args[2]})"
        return None

    return _rewrite_calls(sql, "regexp_replace", fix)


# ------------------------------------------------- reshaping rewrites

def _rw_struct_pack(args):
    """struct_pack(a := x, b := y) -> named_struct('a', x, 'b', y)."""
    parts = []
    for a in args:
        m = re.match(r"^(\w+)\s*:=\s*(.*)$", a, re.DOTALL)
        if not m:
            return None
        parts.append(f"'{m.group(1)}', {m.group(2)}")
    return "named_struct(" + ", ".join(parts) + ")"


def _rw_list_agg(args):
    """list(x) -> collect_list(x); list(x ORDER BY k) gets a faithful
    ordered spelling:

    - k == x (ascending), or x is a named_struct whose FIRST field is
      k: ``sort_array(collect_list(x))`` (remaining fields only break
      ties — ties are unspecified in both dialects);
    - any other key (or DESC): sort-by-key via a struct:
      ``transform(array_sort(collect_list(struct(k, x))),
      s -> s.__lav)`` (reversed for DESC) — never the r8 behavior of
      silently sorting by element."""
    if len(args) != 1:
        return None
    m = re.split(r"\s+ORDER\s+BY\s+", args[0], flags=re.IGNORECASE)
    if len(m) == 2:
        expr, key = m[0].strip(), m[1].strip()
        desc = bool(re.search(r"\s+DESC$", key, re.IGNORECASE))
        key = re.sub(r"\s+(ASC|DESC)$", "", key, flags=re.IGNORECASE).strip()
        if not desc and (key == expr or re.match(
            r"^named_struct\(\s*'\w+'\s*,\s*" + re.escape(key) + r"\s*,",
            expr,
        )):
            return f"sort_array(collect_list({expr}))"
        inner = (f"array_sort(collect_list(struct(({key}) AS __lak, "
                 f"({expr}) AS __lav)))")
        if desc:
            inner = f"reverse({inner})"
        return f"transform({inner}, __las -> __las.__lav)"
    return f"collect_list({args[0]})"


def _rw_regexp_replace_groups(args):
    """RE2/DuckDB replacement strings reference groups as ``\\1``;
    Java's replaceAll uses ``$1`` and reads ``\\1`` as a LITERAL '1'
    (and bare ``$`` as a group sigil). Translate the replacement
    argument: protect literal ``$`` then rewrite ``\\N`` -> ``$N``."""
    if len(args) != 3:
        return None
    rep = args[2]
    if not (len(rep) >= 2 and rep[0] == "'" and rep[-1] == "'"):
        return None
    inner = rep[1:-1]
    if not re.search(r"\\\d", inner):
        # no \N group refs: nothing to translate (and this guard makes
        # the rewrite idempotent — its own output carries $N, never \N)
        return None
    new = inner.replace("$", r"\$")
    new = re.sub(r"\\(\d)", r"$\1", new)
    return f"regexp_replace({args[0]}, {args[1]}, '{new}')"


def _rw_regexp_extract_all(args):
    """Default-group mismatch: DuckDB's 2-arg form extracts group 0
    (the whole match); Spark's defaults to group 1. Make DuckDB's
    default explicit."""
    if len(args) != 2:
        return None
    return f"regexp_extract_all({args[0]}, {args[1]}, 0)"


def _rw_string_agg(args):
    """string_agg(x, sep [ORDER BY k1, k2, ...]) -> listagg(x, sep)
    [WITHIN GROUP (ORDER BY ...)]. The sort-key list may itself
    contain commas, so the tail args are rejoined before splitting on
    ORDER BY."""
    if len(args) < 2:
        return None
    tail = ", ".join(args[1:])
    m = re.split(r"\s+ORDER\s+BY\s+", tail, flags=re.IGNORECASE)
    if len(m) == 2:
        return (f"listagg({args[0]}, {m[0]}) "
                f"WITHIN GROUP (ORDER BY {m[1]})")
    if len(args) != 2:
        return None
    return f"listagg({args[0]}, {args[1]})"


def _rw_list_sum(args):
    """list_sum(x) -> an ordered left fold in DOUBLE (bit-identical to
    DuckDB's in-order accumulation for the oracle value ranges)."""
    if len(args) != 1:
        return None
    return (f"aggregate({args[0]}, CAST(0 AS DOUBLE), "
            "(ls_acc, ls_v) -> ls_acc + ls_v)")


def _rw_list_inner_product(args):
    if len(args) != 2:
        return None
    return (f"aggregate(zip_with({args[0]}, {args[1]}, "
            "(ip_x, ip_y) -> ip_x * ip_y), "
            "CAST(0 AS DOUBLE), (ip_a, ip_b) -> ip_a + ip_b)")


def _rw_list_slice(args):
    """list_slice(t, a, b): DuckDB slices 1-based INCLUSIVE ends;
    Spark's slice takes (start, length)."""
    if len(args) != 3:
        return None
    t, a, b = args
    return f"slice({t}, {a}, greatest(({b}) - ({a}) + 1, 0))"


def _strip_outer_parens(expr: str) -> str:
    expr = expr.strip()
    while expr.startswith("("):
        if _balanced_end(expr, 0) != len(expr):
            break
        expr = expr[1:-1].strip()
    return expr


def _split_top_as(body: str) -> tuple[str, str] | None:
    """Split a CAST body on its top-level `` AS `` (the LAST one at
    depth 0 outside literals — inner casts live inside parens)."""
    mask = _literal_mask(body)
    depth, found = 0, None
    for m in re.finditer(r"\s+AS\s+", body, re.IGNORECASE):
        if any(mask[m.start(): m.end()]):
            continue
        d = 0
        for i in range(m.start()):
            if not mask[i]:
                if body[i] in "([":
                    d += 1
                elif body[i] in ")]":
                    d -= 1
        if d == 0:
            found = m
    if found is None:
        return None
    return body[: found.start()], body[found.end():]


def _rw_cast(args):
    """CAST('0x' || X AS BIGINT/UBIGINT) -> CAST(conv(X, 16, 10) AS
    BIGINT): DuckDB parses hex-prefixed strings in numeric casts,
    Spark needs an explicit base conversion. Every other CAST passes
    through untouched."""
    if len(args) != 1:
        return None
    parts = _split_top_as(args[0])
    if parts is None:
        return None
    expr, typ = parts[0].strip(), parts[1].strip()
    if typ.upper() not in ("BIGINT", "UBIGINT", "HUGEINT"):
        return None
    expr = _strip_outer_parens(expr)
    m = re.match(r"^'0x'\s*\|\|\s*(.*)$", expr, re.DOTALL)
    if not m:
        return None
    return f"CAST(conv({m.group(1)}, 16, 10) AS BIGINT)"


_INTERVAL_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _rw_time_bucket(args):
    """time_bucket(INTERVAL 'N unit', ts) -> epoch-floored bucket.
    DuckDB's sub-day origin (2000-01-01) is itself epoch-aligned for
    every unit that divides a day, so flooring against the Unix epoch
    lands the identical bucket starts."""
    if len(args) != 2:
        return None
    m = re.match(r"^INTERVAL\s+'(\d+)\s+(\w+)'$", args[0], re.IGNORECASE)
    if not m:
        return None
    secs = int(m.group(1)) * _INTERVAL_SECONDS.get(m.group(2).lower(), 0)
    if secs <= 0 or (86400 % secs != 0 and secs % 86400 != 0):
        return None
    return (f"timestamp_seconds(CAST(floor(unix_timestamp({args[1]}) "
            f"/ {secs}) AS BIGINT) * {secs})")


_STRPTIME_MAP = [  # C strptime -> Java DateTimeFormatter (lenient
    # single-letter numeric fields: the oracle texts build unpadded
    # month/day/hour strings, which DuckDB's strptime accepts)
    ("%Y", "yyyy"), ("%y", "yy"), ("%m", "M"), ("%d", "d"),
    ("%b", "MMM"), ("%H", "H"), ("%I", "h"), ("%M", "mm"),
    ("%S", "ss"), ("%p", "a"), ("%j", "DDD"), ("%%", "%"),
]


def _rw_try_strptime(args):
    if len(args) != 2 or not re.match(r"^'.*'$", args[1], re.DOTALL):
        return None
    fmt = args[1][1:-1]
    for c_code, j_code in _STRPTIME_MAP:
        fmt = fmt.replace(c_code, j_code)
    if "%" in fmt:
        return None  # an unmapped code: leave the call for the gate
    return f"try_to_timestamp({args[0]}, '{fmt}')"


def _base_span(sql: str, mask: list[bool], bracket_pos: int) -> int | None:
    """Start index of the expression a ``[`` at bracket_pos indexes
    into: walks back over chained ``)``/``]`` groups and a leading
    (possibly qualified) identifier. None when the bracket has no base
    (a literal list)."""
    # precompute opener positions for every closer left of the bracket
    opens: dict[int, int] = {}
    stack: list[int] = []
    for i in range(bracket_pos):
        if mask[i]:
            continue
        if sql[i] in "([":
            stack.append(i)
        elif sql[i] in ")]" and stack:
            opens[i] = stack.pop()
    j = bracket_pos - 1
    saw_base = False
    while j >= 0:
        c = sql[j]
        if c in ")]" and not mask[j]:
            if j not in opens:
                return None
            j = opens[j] - 1
            saw_base = True
            continue
        if c == "'" and mask[j] and saw_base is False:
            # a quoted literal directly indexed: 'abc'[2] (not in the
            # oracle texts; treat as no base)
            return None
        break
    # consume a trailing identifier (function name or column ref)
    k = j
    while k >= 0 and (sql[k].isalnum() or sql[k] in "_."):
        k -= 1
    if k == j and not saw_base:
        return None
    start = k + 1
    # keywords before '[' mean a literal list position, not an index
    if not saw_base and sql[start: j + 1].upper() in (
        "SELECT", "WHEN", "THEN", "ELSE", "AND", "OR", "NOT", "IN",
        "WHERE", "BY", "ON", "AS", "CASE", "END", "UNION", "ALL",
        "DISTINCT", "RETURN", "",
    ):
        return None
    return start


def _rewrite_brackets(sql: str) -> str:
    """DuckDB bracket suffixes -> Spark calls, innermost-safe fixpoint:

    - ``expr[i]``    -> ``element_at(expr, i)``  (both 1-based)
    - ``expr[a:b]``  -> ``slice(expr, a, b-a+1)`` (inclusive -> length)
    - ``expr[a:]``   -> ``slice(expr, a, cardinality(expr))``
    - ``expr[:b]``   -> ``slice(expr, 1, b)``
    - ``[x, y]`` / ``[]`` (no base expr) -> ``array(x, y)`` / ``array()``
    """
    changed = True
    while changed:
        changed = False
        mask = _literal_mask(sql)
        for m in re.finditer(r"\[", sql):
            pos = m.start()
            if mask[pos]:
                continue
            end = _balanced_end(sql, pos, mask)
            if end < 0:
                continue
            inner = sql[pos + 1: end - 1]
            base_start = _base_span(sql, mask, pos)
            if base_start is not None and re.match(
                r"^\s*'(?:[^']|'')*'\s*$", inner
            ):
                # string-keyed access (map value / struct field):
                # Spark accepts expr['k'] natively — translating it to
                # element_at would break struct fields (and the tier-3
                # zip-positional output z['0'] must survive re-runs)
                continue
            if base_start is None:
                repl = "array(" + inner + ")"
                sql = sql[:pos] + repl + sql[end:]
                changed = True
                break
            base = sql[base_start:pos].strip()
            # top-level ':' (not '::') -> slice
            parts = None
            imask = _literal_mask(inner)
            depth = 0
            for i, c in enumerate(inner):
                if imask[i]:
                    continue
                if c in "([":
                    depth += 1
                elif c in ")]":
                    depth -= 1
                elif (c == ":" and depth == 0
                      and (i + 1 >= len(inner) or inner[i + 1] != ":")
                      and (i == 0 or inner[i - 1] != ":")):
                    parts = (inner[:i].strip(), inner[i + 1:].strip())
                    break
            if parts is None:
                repl = f"element_at({base}, {inner.strip()})"
            else:
                a, b = parts
                if a and b:
                    repl = f"slice({base}, {a}, greatest(({b}) - ({a}) + 1, 0))"
                elif a:
                    repl = f"slice({base}, {a}, cardinality({base}))"
                else:
                    repl = f"slice({base}, 1, {b})"
            sql = sql[:base_start] + repl + sql[end:]
            changed = True
            break
    return sql


def _try_inline_let(body: str) -> str | None:
    """``SELECT <expr> FROM (SELECT <val> AS <name>[, ...])`` (the
    FROM-less one-row derived table, i.e. a let binding) -> <expr>
    with each <name> substituted by (<val>). None when the body is
    any other shape."""
    m = re.match(r"\s*SELECT\b", body, re.IGNORECASE)
    if not m:
        return None
    mask = _literal_mask(body)
    depth = 0
    from_pos = None
    for mm in re.finditer(r"\(|\)|\[|\]|\bFROM\b", body, re.IGNORECASE):
        if mask[mm.start()]:
            continue
        tok = mm.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0 and mm.start() > m.end():
            from_pos = mm.start()
            break
    if from_pos is None:
        return None
    expr = body[m.end(): from_pos].strip()
    if len(_split_top(expr)) != 1:   # not a scalar select list
        return None
    tail = body[from_pos + 4:].strip()
    if not tail.startswith("("):
        return None
    end = _balanced_end(tail, 0)
    if end < 0 or tail[end:].strip():
        return None
    inner = tail[1: end - 1]
    mi = re.match(r"\s*SELECT\b", inner, re.IGNORECASE)
    if not mi:
        return None
    imask = _literal_mask(inner)
    d2 = 0
    for mm in re.finditer(r"\(|\)|\[|\]|\bFROM\b", inner, re.IGNORECASE):
        if imask[mm.start()]:
            continue
        tok = mm.group(0)
        if tok in "([":
            d2 += 1
        elif tok in ")]":
            d2 -= 1
        elif d2 == 0:
            return None   # inner has its own FROM: not a let binding
    for item in _split_top(inner[mi.end():]):
        mb = re.match(r"(?s)^\s*(.*?)\s+AS\s+(\w+)\s*$", item,
                      re.IGNORECASE)
        if not mb:
            return None
        val, name = mb.group(1), mb.group(2)
        expr = _sub_outside_literals(
            expr, rf"(?<![\w.`]){re.escape(name)}(?![\w`])",
            lambda _m, v=val: f"({v})",
        )
    return expr


def _inline_scalar_let(sql: str) -> str:
    """Inline DuckDB's let-binding idiom — a correlated scalar
    subquery over a FROM-less one-row derived table::

        (SELECT <expr> FROM (SELECT <val> AS <name>))

    Spark's decorrelation rejects the shape (and resolution fails
    outright when it nests deeper), but it is pure sugar: substitute
    each binding into the expression. Outermost-first with a rescan
    per change, so nested lets fold in as the substituted text is
    revisited."""
    changed = True
    while changed:
        changed = False
        mask = _literal_mask(sql)
        for m in re.finditer(r"\(\s*SELECT\b", sql, re.IGNORECASE):
            if mask[m.start()]:
                continue
            end = _balanced_end(sql, m.start(), mask)
            if end < 0:
                continue
            repl = _try_inline_let(sql[m.start() + 1: end - 1])
            if repl is not None:
                sql = sql[: m.start()] + "(" + repl + ")" + sql[end:]
                changed = True
                break
    return sql


def _lateral_posexplode(sql: str) -> str:
    """DuckDB's parallel index+value generator over one list::

        , LATERAL (SELECT generate_subscripts(s, 1) AS p,
                   unnest(s) AS c FROM (SELECT <val> AS s)) u

    -> ``LATERAL VIEW posexplode(<val>) u AS p, c`` (after tier-1
    renamed unnest to explode). posexplode is 0-based where
    generate_subscripts is 1-based, so references to ``u.p`` are
    shifted to ``(u.p + 1)``."""
    pat = re.compile(
        r",\s*LATERAL\s*\(\s*SELECT\s+generate_subscripts\s*\(\s*(\w+)"
        r"\s*,\s*1\s*\)\s*AS\s+(\w+)\s*,\s*explode\s*\(\s*\1\s*\)\s*AS"
        r"\s+(\w+)\s+FROM\s*\(\s*SELECT\s+(.*?)\s+AS\s+\1\s*\)\s*\)"
        r"\s*(\w+)",
        re.IGNORECASE | re.DOTALL,
    )
    while True:
        m = pat.search(sql)
        if not m or any(_literal_mask(sql)[m.start(): m.start() + 1]):
            return sql
        s_var, p_col, c_col, val, alias = m.groups()
        repl = f" LATERAL VIEW posexplode({val}) {alias} AS {p_col}, {c_col}"
        sql = sql[: m.start()] + repl + sql[m.end():]
        sql = _sub_outside_literals(
            sql, rf"\b{alias}\.{p_col}\b(?!\s*,\s*{c_col})",
            f"({alias}.{p_col} + 1)",
        )


def _hoist_cast_explode(sql: str) -> str:
    """``CAST(explode(X) AS T)`` nested in a select item (Spark:
    UNSUPPORTED_GENERATOR.NESTED_IN_EXPRESSIONS) -> hoist the
    generator to a ``LATERAL VIEW`` at the end of the enclosing
    query block's FROM clause and reference its output column."""
    n = 0
    while True:
        mask = _literal_mask(sql)
        m = re.search(r"\bCAST\s*\(\s*explode\s*\(", sql, re.IGNORECASE)
        if not m or mask[m.start()]:
            return sql
        gen_open = m.end() - 1
        gen_end = _balanced_end(sql, gen_open, mask)
        if gen_end < 0:
            return sql
        tail = re.match(r"\s*AS\s+(\w+)\s*\)", sql[gen_end:], re.IGNORECASE)
        if not tail:
            return sql
        gen_body = sql[gen_open + 1: gen_end - 1]
        typ = tail.group(1)
        cast_start = m.start()
        cast_end = gen_end + tail.end()
        # enclosing query block: smallest balanced paren span whose
        # content opens with SELECT; whole string when none
        block = (0, len(sql))
        best = None
        for mm in re.finditer(r"\(", sql):
            if mask[mm.start()] or mm.start() > cast_start:
                continue
            e2 = _balanced_end(sql, mm.start(), mask)
            if e2 < cast_end:
                continue
            if re.match(r"\s*SELECT\b", sql[mm.start() + 1: mm.start() + 200],
                        re.IGNORECASE):
                if best is None or e2 - mm.start() < best[1] - best[0]:
                    best = (mm.start() + 1, e2 - 1)
        if best is not None:
            block = best
        # insertion point: before the block's first top-level
        # WHERE/GROUP/HAVING/ORDER/LIMIT after the FROM, else block end
        seg = sql[block[0]: block[1]]
        smask = _literal_mask(seg)
        depth = 0
        insert_rel = len(seg)
        for mm in re.finditer(
            r"\(|\)|\[|\]|\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b",
            seg, re.IGNORECASE,
        ):
            if smask[mm.start()]:
                continue
            tok = mm.group(0)
            if tok in "([":
                depth += 1
            elif tok in ")]":
                depth -= 1
            elif depth == 0 and mm.start() > (cast_start - block[0]):
                insert_rel = mm.start()
                break
        col = f"__gfc{n}"
        n += 1
        insert_abs = block[0] + insert_rel
        sql = (sql[:cast_start] + f"CAST({col} AS {typ})"
               + sql[cast_end: insert_abs]
               + f" LATERAL VIEW explode({gen_body}) __gf{n} AS {col} "
               + sql[insert_abs:])


def _fix_zip_positional(sql: str) -> str:
    """DuckDB indexes the structs that ``list_zip`` builds BY POSITION
    (1-based ``z[1]``); after the bracket pass that shows up as
    ``element_at(z, N)`` on a struct, which Spark rejects. When a
    lambda ranges directly over ``arrays_zip(<exprs>)`` Spark names
    the struct fields '0', '1', ... (the inputs are expressions, not
    bare columns), so the faithful spelling is ``z['N-1']``."""
    def fix(args):
        if len(args) != 2 or not re.match(r"(?is)^arrays_zip\s*\(",
                                          args[0]):
            return None
        lm = re.match(r"(?s)^\s*(\w+)\s*->\s*(.*)$", args[1])
        if not lm:
            return None
        var, body = lm.group(1), lm.group(2)
        # Spark's field naming: a bare column reference contributes its
        # own name; any other expression contributes its 0-based arg
        # position as the name
        zopen = args[0].index("(")
        zargs = _split_top(args[0][zopen + 1: -1].strip())
        names = []
        for i, za in enumerate(zargs):
            mm = re.match(r"^\s*(\w+(?:\.\w+)*)\s*$", za)
            names.append(mm.group(1).split(".")[-1] if mm else str(i))

        def sub(m, v=var, names=names):
            k = int(m.group(1)) - 1
            if not 0 <= k < len(names):
                return m.group(0)
            return f"{v}['{names[k]}']"

        new_body = _sub_outside_literals(
            body,
            rf"\belement_at\(\s*{var}\s*,\s*(\d+)\s*\)",
            sub,
        )
        if new_body == body:
            return None
        return f"transform({args[0]}, {var} -> {new_body})"

    return _rewrite_calls(sql, "transform", fix)


def translate_duckdb_sql(sql: str) -> str:
    """Translate a DuckDB-dialect SQL text to Spark SQL.

    Two tiers, both mechanical and both gated per-query by the
    row-match tests (a text that runs-but-diverges stays off the
    compat board):

    1. Pure renames (``_DUCKDB_FN_RENAMES``) and spelling differences
       — ``AS VARCHAR``/``AS STRING``, ``datediff`` unit quoting, the
       regexp GLOBAL flag, ``string_agg``'s WITHIN GROUP form.
    2. Argument-reshaping rewrites (r8) where the two dialects share
       semantics but not call shape: DuckDB bracket indexing/slicing
       (1-based, inclusive) to ``element_at``/``slice``; literal
       ``[..]`` lists to ``array(..)``; ``list_slice``/``list_sum``/
       ``list_inner_product`` to slice/fold forms; ``struct_pack`` to
       ``named_struct``; hex-prefixed string casts to ``conv(x, 16,
       10)``; ``time_bucket`` to epoch flooring; ``try_strptime``
       format codes to Java patterns; ``//`` to ``div``; ``* EXCLUDE``
       to ``* EXCEPT``; double-quoted identifiers to backticks; array
       type suffixes (``DOUBLE[]``) to ``ARRAY<DOUBLE>``.

    All structural rewrites are literal-aware (single-quoted strings
    are never touched) and paren/bracket balanced."""
    out = sql
    for src, dst in _DUCKDB_FN_RENAMES.items():
        out = _sub_outside_literals(
            out, rf"\b{src}\s*\(", f"{dst}(", flags=re.IGNORECASE
        )
    # VARCHAR -> STRING only for the bare type name; a sized VARCHAR(n)
    # is left alone (negative lookahead), Spark accepts it as-is
    out = re.sub(
        r"\bAS\s+VARCHAR\b(?!\s*\()", "AS STRING", out, flags=re.IGNORECASE
    )
    out = re.sub(
        r"\bdatediff\(\s*'(\w+)'\s*,", r"datediff(\1,", out, flags=re.IGNORECASE
    )
    out = _strip_regexp_replace_gflag(out)
    out = _rewrite_calls(out, "regexp_replace", _rw_regexp_replace_groups)
    # DuckDB orders inside the aggregate args; Spark uses the ANSI
    # WITHIN GROUP form (balanced-arg rewrite: the separator may be an
    # expression like '' || char(10) || '').
    out = _rewrite_calls(out, "string_agg", _rw_string_agg)
    # ---- tier 2: argument-reshaping rewrites ----
    # array type suffix: DOUBLE[] -> ARRAY<DOUBLE>; restricted to type
    # NAMES so an empty list literal after a keyword (ELSE []) survives
    # for the bracket pass. Unsigned/width spellings fold to SQL names.
    out = _sub_outside_literals(
        out,
        r"\b(DOUBLE|FLOAT|REAL|INT|INTEGER|BIGINT|SMALLINT|TINYINT|"
        r"UBIGINT|HUGEINT|VARCHAR|STRING|TEXT|BOOLEAN|DATE|TIMESTAMP)"
        r"\s*\[\s*\]",
        r"ARRAY<\1>",
        flags=re.IGNORECASE,
    )
    out = _sub_outside_literals(
        out, r"\b(UBIGINT|HUGEINT)\b", "BIGINT", flags=re.IGNORECASE
    )
    out = _sub_outside_literals(out, r"\bREAL\b", "FLOAT", flags=re.IGNORECASE)
    out = _rewrite_calls(out, "struct_pack", _rw_struct_pack)
    out = _rewrite_calls(out, "list", _rw_list_agg)
    out = _rewrite_calls(out, "list_sum", _rw_list_sum)
    out = _rewrite_calls(out, "list_inner_product", _rw_list_inner_product)
    out = _rewrite_calls(out, "list_slice", _rw_list_slice)
    out = _rewrite_calls(out, "CAST", _rw_cast)
    out = _rewrite_calls(out, "time_bucket", _rw_time_bucket)
    out = _rewrite_calls(out, "try_strptime", _rw_try_strptime)
    out = _rewrite_calls(out, "regexp_extract_all", _rw_regexp_extract_all)
    # ('0x' || X)::BIGINT postfix-cast spelling of the hex cast
    out = _sub_outside_literals(
        out,
        r"::\s*(BIGINT|UBIGINT|HUGEINT)\b",
        "::BIGINT",
        flags=re.IGNORECASE,
    )
    out = _hex_postfix_casts(out)
    # DuckDB's SCALAR range(n) is [0..n) as a list (the table-valued
    # form in FROM clauses is untouched — it only appears there
    # un-exploded); after the unnest->explode rename the scalar form
    # shows up as explode(range(n))
    out = _sub_outside_literals(
        out,
        r"\bexplode\(\s*range\(\s*(\d+)\s*\)\s*\)",
        lambda m: f"explode(sequence(0, {int(m.group(1)) - 1}))",
        flags=re.IGNORECASE,
    )
    # DuckDB length() is polymorphic; the one list-valued call shape
    # in the oracle texts is over regexp_extract_all
    out = _sub_outside_literals(
        out,
        r"\blength\(\s*regexp_extract_all\(",
        "cardinality(regexp_extract_all(",
        flags=re.IGNORECASE,
    )
    # ---- tier 3 rewrites (r9): shapes Spark's analyzer rejects ----
    out = _inline_scalar_let(out)
    out = _lateral_posexplode(out)
    out = _hoist_cast_explode(out)
    out = _rewrite_brackets(out)
    out = _fix_zip_positional(out)
    # DuckDB's FROM-clause lateral generator ``, UNNEST(x) AS u(col)``
    # (after tier-1 renames: explode) -> Spark's LATERAL VIEW form.
    # The ``AS name(col)`` alias shape is the discriminator: a
    # select-list explode aliases a bare column instead.
    out = _lateral_explode(out)
    # DuckDB // is integer division; Spark spells it div
    out = _sub_outside_literals(out, r"//", " div ")
    # SELECT * EXCLUDE (...) -> SELECT * EXCEPT (...)
    out = _sub_outside_literals(
        out, r"\bEXCLUDE\s*\(", "EXCEPT (", flags=re.IGNORECASE
    )
    # DuckDB allows FILTER (cond); Spark requires FILTER (WHERE cond).
    # Anchored to the aggregate-clause shape ``agg(...) FILTER (`` so
    # the filter() higher-order function is never touched.
    out = _sub_outside_literals(
        out, r"(\))\s*FILTER\s*\(\s*(?!WHERE\b)", r"\1 FILTER (WHERE ",
        flags=re.IGNORECASE,
    )
    # double-quoted identifiers -> backticks
    out = _sub_outside_literals(out, r'"(\w+)"', r"`\1`")
    return out


def _lateral_explode(sql: str) -> str:
    """``, explode(X) AS u(col)`` -> `` LATERAL VIEW explode(X) u AS
    col`` (comma-join lateral generator to Spark's spelling)."""
    pat = re.compile(r",\s*explode\s*\(", re.IGNORECASE)
    while True:
        mask = _literal_mask(sql)
        hit = None
        for m in pat.finditer(sql):
            if mask[m.start()]:
                continue
            open_pos = m.end() - 1
            end = _balanced_end(sql, open_pos, mask)
            if end < 0:
                continue
            alias = re.match(
                r"\s*(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*\)", sql[end:],
                re.IGNORECASE,
            )
            if alias:
                hit = (m, open_pos, end, alias)
                break
        if hit is None:
            return sql
        m, open_pos, end, alias = hit
        body = sql[open_pos + 1: end - 1]
        repl = (f" LATERAL VIEW explode({body}) "
                f"{alias.group(1)} AS {alias.group(2)}")
        sql = sql[: m.start()] + repl + sql[end + alias.end():]


def _hex_postfix_casts(sql: str) -> str:
    """('0x' || X)::BIGINT -> CAST(conv(X, 16, 10) AS BIGINT)."""
    pat = re.compile(r"\(\s*'0x'\s*\|\|")
    while True:
        mask = _literal_mask(sql)
        hit = None
        for m in pat.finditer(sql):
            if not mask[m.start()]:
                end = _balanced_end(sql, m.start(), mask)
                if end > 0 and re.match(r"\s*::\s*BIGINT", sql[end:],
                                        re.IGNORECASE):
                    hit = (m, end)
                    break
        if hit is None:
            return sql
        m, end = hit
        inner = sql[m.end(): end - 1].strip()
        tail = re.match(r"\s*::\s*BIGINT", sql[end:], re.IGNORECASE)
        repl = f"CAST(conv({inner}, 16, 10) AS BIGINT)"
        sql = sql[: m.start()] + repl + sql[end + tail.end():]


# ----------------------------------------------------------- tier 3
# executors (r9): run what Spark's PARSER/PLANNER can't — recursive
# CTEs with UNION-distinct (iterative materialization, the engine's
# PageRank/components loop discipline) and ASOF JOIN (rewritten to a
# ranked inequality join). Both return a DataFrame from run_sql's
# dispatch; both decline (None) on shapes they don't recognize so the
# native path's error surfaces unchanged.

def _parse_cte_list(sql: str):
    """``WITH RECURSIVE <name>[(cols)] AS (<body>), ... <tail>`` ->
    ([(name, cols|None, body)], tail); None if the text doesn't start
    with WITH RECURSIVE or doesn't parse."""
    m = re.match(r"\s*WITH\s+RECURSIVE\s+", sql, re.IGNORECASE)
    if not m:
        return None
    pos = m.end()
    ctes = []
    head = re.compile(r"(\w+)\s*(?:\(([^()]*)\))?\s+AS\s*\(", re.IGNORECASE)
    while True:
        mm = head.match(sql, pos)
        if not mm:
            return None
        mask = _literal_mask(sql)
        open_pos = mm.end() - 1
        end = _balanced_end(sql, open_pos, mask)
        if end < 0:
            return None
        cols = ([c.strip() for c in mm.group(2).split(",")]
                if mm.group(2) else None)
        ctes.append((mm.group(1), cols, sql[open_pos + 1: end - 1]))
        j = end
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j < len(sql) and sql[j] == ",":
            pos = j + 1
            while pos < len(sql) and sql[pos].isspace():
                pos += 1
            continue
        return ctes, sql[j:]


def _split_top_union(body: str):
    """Split on the first top-level UNION (not UNION ALL); None when
    there isn't one."""
    mask = _literal_mask(body)
    depth = 0
    for mm in re.finditer(r"\(|\)|\[|\]|\bUNION\b(\s+ALL\b)?", body,
                          re.IGNORECASE):
        if mask[mm.start()]:
            continue
        tok = mm.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0 and not mm.group(1):
            return body[: mm.start()], body[mm.end():]
    return None


def _exec_recursive(spark: SparkSession, sql: str):
    """Dispatch wrapper: handles WITH RECURSIVE at the top level AND
    nested inside an outer CTE/subquery (``WITH x AS (WITH RECURSIVE
    ...)``) by materializing each parenthesized recursive block as a
    temp view innermost-first, then running what remains.

    Constraint propagation is disabled for the duration: Catalyst's
    union constraint rewrite chokes on duplicate-attribute
    projections (``SELECT u, u``) that the connected-components seed
    shape uses (key-not-found on the aliased attribute)."""
    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        n = 0
        while True:
            mask = _literal_mask(sql)
            m = re.search(r"\(\s*WITH\s+RECURSIVE\b", sql, re.IGNORECASE)
            if not m or mask[m.start()]:
                break
            end = _balanced_end(sql, m.start(), mask)
            if end < 0:
                return None
            inner = _exec_recursive_top(spark, sql[m.start() + 1: end - 1])
            if inner is None:
                return None
            name = f"__rec{n}"
            n += 1
            inner.createOrReplaceTempView(name)
            sql = sql[: m.start()] + f"(SELECT * FROM {name})" + sql[end:]
        if re.match(r"\s*WITH\s+RECURSIVE\b", sql, re.IGNORECASE):
            return _exec_recursive_top(spark, sql)
        return spark.sql(sql) if n else None
    finally:
        spark.conf.set(key, prev)


def _exec_recursive_top(spark: SparkSession, sql: str):
    """Iterative materialization of a top-level ``WITH RECURSIVE``
    with UNION-distinct recursion (Spark only supports UNION ALL
    there).

    Standard/DuckDB semantics: the working table starts as
    DISTINCT(base); each round evaluates the step with the CTE name
    bound to the LAST round's new rows, keeps only rows not already
    accumulated, and stops on an empty delta. localCheckpoint()
    truncates lineage per round (the PageRank loop discipline), so at
    scale each round costs one distinct + one anti-join bounded by
    the delta size — no plan blowup with depth."""
    parsed = _parse_cte_list(sql)
    if parsed is None:
        return None
    ctes, tail = parsed
    for name, cols, body in ctes:
        own = re.search(rf"\b{name}\b", body, re.IGNORECASE)
        if not own:
            df = spark.sql(body)
            if cols:
                df = df.toDF(*cols)
            df.createOrReplaceTempView(name)
            continue
        parts = _split_top_union(body)
        if parts is None:
            return None   # UNION ALL recursion: let Spark run it native
        base, step = parts
        if re.search(rf"\b{name}\b", base, re.IGNORECASE):
            return None
        acc = spark.sql(base)
        if cols:
            acc = acc.toDF(*cols)
        acc = acc.distinct().localCheckpoint()
        frontier = acc
        _fanin = 1
        _COLLAPSE = 32
        for _i in range(1000):
            frontier.createOrReplaceTempView(name)
            step_df = spark.sql(step)
            if cols:
                step_df = step_df.toDF(*cols)
            # the frontier count rides the checkpoint action (one job
            # per round, not two), and the accumulator stays a UNION of
            # the checkpointed deltas — every leaf is already
            # materialized, so lineage is flat without re-copying the
            # whole accumulated set each round.
            new, counts = checkpoint_observed(
                step_df.distinct().subtract(acc), n=F.count(F.lit(1))
            )
            if counts["n"] == 0:
                break
            acc = acc.unionAll(new)
            _fanin += 1
            # ADVICE r12: an unbounded unionAll chain makes each
            # round's subtract(acc) re-analyze a plan with O(round)
            # union leaves (O(rounds^2) driver planning, and a
            # 1000-deep Union tree risks Catalyst stack overflow).
            # Collapse the accumulator every _COLLAPSE rounds: one
            # bounded checkpoint job per collapse keeps the union
            # fan-in <= _COLLAPSE while the common shallow case pays
            # nothing extra.
            if _fanin >= _COLLAPSE:
                acc = acc.localCheckpoint()
                _fanin = 1
            frontier = new
        else:
            raise ValueError(
                f"recursive CTE {name} did not converge in 1000 rounds"
            )
        acc.createOrReplaceTempView(name)
    return spark.sql(tail)


def _exec_asof(spark: SparkSession, sql: str):
    """``FROM <L> la ASOF [LEFT] JOIN <R> ra ON <eq...> AND la.t >= ra.t``
    -> inequality join + row_number over a synthesized left-row id
    (latest right row at or before the left timestamp — the engine's
    as-of semantics, operators/temporal.py)."""
    from functools import reduce

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    m = re.search(r"\bASOF\s+(LEFT\s+)?JOIN\b", sql, re.IGNORECASE)
    if not m:
        return None
    left_join = bool(m.group(1))
    mask = _literal_mask(sql)
    # the FROM that owns the ASOF: last top-level FROM before it
    from_pos = None
    depth = 0
    for mm in re.finditer(r"\(|\)|\[|\]|\bFROM\b", sql[: m.start()],
                          re.IGNORECASE):
        if mask[mm.start()]:
            continue
        tok = mm.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0:
            from_pos = mm.start()
    if from_pos is None:
        return None
    select_m = re.match(r"\s*SELECT\b", sql, re.IGNORECASE)
    if not select_m:
        return None
    select_list = sql[select_m.end(): from_pos]
    lm = re.match(r"(?s)\s*(.*?)\s+(?:AS\s+)?(\w+)\s*$",
                  sql[from_pos + 4: m.start()])
    if not lm:
        return None
    left_expr, la = lm.group(1), lm.group(2)
    # right side: balanced expr then alias, then ON
    rest = sql[m.end():]
    if rest.lstrip().startswith("("):
        roff = len(rest) - len(rest.lstrip())
        rend = _balanced_end(rest, roff)
        if rend < 0:
            return None
        right_expr = rest[roff: rend]
        am = re.match(r"\s*(?:AS\s+)?(\w+)\s*ON\b", rest[rend:],
                      re.IGNORECASE)
        if not am:
            return None
        ra = am.group(1)
        cond_start = rend + am.end()
    else:
        am = re.match(r"\s*(\w+)\s+(?:AS\s+)?(\w+)\s*ON\b", rest,
                      re.IGNORECASE)
        if not am:
            return None
        right_expr, ra = am.group(1), am.group(2)
        cond_start = am.end()
    # condition runs to the next top-level clause keyword or the end
    cond_zone = rest[cond_start:]
    czmask = _literal_mask(cond_zone)
    depth = 0
    cond_end = len(cond_zone)
    for mm in re.finditer(
        r"\(|\)|\[|\]|\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b",
        cond_zone, re.IGNORECASE,
    ):
        if czmask[mm.start()]:
            continue
        tok = mm.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0:
            cond_end = mm.start()
            break
    cond, sql_tail = cond_zone[:cond_end], cond_zone[cond_end:]
    eqs, time_pair = [], None
    for piece in re.split(r"\bAND\b", cond, flags=re.IGNORECASE):
        pm = re.match(
            rf"\s*{la}\.(\w+)\s*(=|>=|<=)\s*{ra}\.(\w+)\s*$", piece
        ) or re.match(
            rf"\s*{ra}\.(\w+)\s*(=)\s*{la}\.(\w+)\s*$", piece
        )
        if not pm:
            return None
        lcol, op, rcol = pm.group(1), pm.group(2), pm.group(3)
        if op == "=":
            eqs.append((lcol, rcol))
        elif time_pair is None:
            time_pair = (lcol, rcol, op)
        else:
            return None
    if time_pair is None:
        return None
    ldf = spark.sql(f"SELECT * FROM {left_expr} __asof_l"
                    if left_expr.startswith("(")
                    else f"SELECT * FROM {left_expr}")
    rdf = spark.sql(f"SELECT * FROM {right_expr} __asof_r"
                    if right_expr.startswith("(")
                    else f"SELECT * FROM {right_expr}")
    left_cols = list(ldf.columns)
    lt, rt, op = time_pair
    if eqs:
        # scale path: delegate to the union+last-over-window operator
        # (operators/temporal.py::asof_join) — one shuffle on the
        # equi-keys, ZERO pair inflation. The old inequality-join +
        # row_number form materialized |L|x|R| pairs per hot key.
        from data_migration_etl_scripts_spark.operators.temporal import (
            asof_join,
        )

        rename = {rc: lc for lc, rc in eqs if rc != lc}
        r_renamed = rdf
        for rc, lc in rename.items():
            r_renamed = r_renamed.withColumnRenamed(rc, lc)
        keys = [lc for lc, _ in eqs]
        rcols = list(rdf.columns)
        rcols_renamed = [rename.get(c, c) for c in rcols]
        j = asof_join(
            ldf, r_renamed, keys, lt, rename.get(rt, rt),
            rcols_renamed,
            direction="backward" if op == ">=" else "forward",
        )
        # expose right columns under their ORIGINAL names as __r_<c>
        j = j.select(
            *left_cols,
            *[F.col(f"asof_{ren}").alias(f"__r_{orig}")
              for orig, ren in zip(rcols, rcols_renamed)],
        )
        if not left_join:
            # inner semantics: matched rows carry a non-null right ts
            j = j.where(F.col(f"__r_{rt}").isNotNull())
    else:
        # no equi-key: fall back to the inequality join (a window
        # over a single global partition would be worse)
        l2 = ldf.withColumn("__asof_lid",
                            F.monotonically_increasing_id())
        r2 = rdf.select([F.col(c).alias(f"__r_{c}")
                         for c in rdf.columns])
        conds = [l2[lt] >= r2[f"__r_{rt}"] if op == ">="
                 else l2[lt] <= r2[f"__r_{rt}"]]
        j = l2.join(r2, reduce(lambda a, b: a & b, conds),
                    "left" if left_join else "inner")
        order = (F.col(f"__r_{rt}").desc() if op == ">="
                 else F.col(f"__r_{rt}").asc())
        j = (j.withColumn("__asof_rn", F.row_number().over(
                Window.partitionBy("__asof_lid").orderBy(order)))
              .where(F.col("__asof_rn") == 1)
              .drop("__asof_rn", "__asof_lid"))
    j.createOrReplaceTempView("__asof_joined")
    out_select = _sub_outside_literals(
        select_list, rf"\b{la}\.\*", ", ".join(left_cols))
    out_select = _sub_outside_literals(out_select, rf"\b{la}\.(\w+)", r"\1")
    out_select = _sub_outside_literals(out_select, rf"\b{ra}\.(\w+)",
                                       r"__r_\1")
    out_tail = _sub_outside_literals(sql_tail, rf"\b{la}\.(\w+)", r"\1")
    out_tail = _sub_outside_literals(out_tail, rf"\b{ra}\.(\w+)", r"__r_\1")
    return spark.sql(
        f"SELECT {out_select} FROM __asof_joined {out_tail}"
    )


def register_views(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> None:
    """Register each parquet table as a temp view named after itself."""
    from data_migration_etl_scripts_spark.queries import _t

    for name in tables or TABLES:
        _t(spark, sf_dir, name).createOrReplaceTempView(name)


def run_sql(
    spark: SparkSession, sf_dir: str, sql: str, dialect: str = "spark"
) -> DataFrame:
    """Ad-hoc SQL over the catalog: register views, return the lazy
    DataFrame for ``sql``. Catalyst applies the same pushdown/pruning
    as the DataFrame API — a view is just a named logical plan.
    ``dialect="duckdb"`` first applies :func:`translate_duckdb_sql`,
    so the driver-oracle texts run here unchanged.

    DuckDB string literals do NOT process backslash escapes; Spark's
    do by default, so a DuckDB regex like ``'\\?'`` would silently
    become ``'?'``. ``escapedStringLiterals=true`` (a parse-time-only
    conf) restores the DuckDB/ANSI reading for the duration of the
    parse."""
    register_views(spark, sf_dir)
    if dialect == "duckdb":
        sql = translate_duckdb_sql(sql)
        key = "spark.sql.parser.escapedStringLiterals"
        prev = spark.conf.get(key, "false")
        spark.conf.set(key, "true")
        try:
            # tier-3 executors: shapes Spark's parser/planner refuses
            if re.search(r"\bWITH\s+RECURSIVE\b", sql, re.IGNORECASE):
                df = _exec_recursive(spark, sql)
                if df is not None:
                    return df
            if re.search(r"\bASOF\s+(LEFT\s+)?JOIN\b", sql, re.IGNORECASE):
                df = _exec_asof(spark, sql)
                if df is not None:
                    return df
            return spark.sql(sql)
        finally:
            spark.conf.set(key, prev)
    return spark.sql(sql)
