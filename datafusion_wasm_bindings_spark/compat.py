"""SQL dialect compatibility rewrites — SURVEY.md §7.0 `compat.py`.

The reference accepts DataFusion's Postgres-flavored SQL
(sqlparser 0.53 generic dialect, Cargo.lock:2734). Spark SQL covers
almost all of it natively; the residue is handled here as text-level
rewrites applied by ``SQLEngine`` before ``spark.sql``:

- ``expr SIMILAR TO 'pat'``  → ``expr RLIKE '^(pat translated)$'``
  (SQL92 pattern language: % → .*, _ → .; bracket classes and (|)
  pass through, which matches DataFusion's own translation).
- ``arrow_cast(x, 'Int64')`` → ``CAST(x AS BIGINT)`` with the Arrow
  type-name table from SURVEY §1.1.
- ``"ident"`` → a backtick identifier (Postgres quoting → Spark's).
- ``information_schema.tables/columns`` → the emulated temp views
  (sources/infoschema.py) — Spark temp views cannot live in a dotted
  schema, so the reference's relation names are flattened.

These are regex rewrites over statements our engine dispatches — not
a general SQL parser; patterns inside string literals are protected by
masking literals first.
"""

from __future__ import annotations

import re

# Arrow type name (DataFusion arrow_cast vocabulary) → Spark SQL type.
# Unsigned widths widen per SURVEY §1.1 (UInt64 → DECIMAL(20,0)).
ARROW_TO_SPARK_TYPE = {
    "Boolean": "BOOLEAN",
    "Int8": "TINYINT",
    "Int16": "SMALLINT",
    "Int32": "INT",
    "Int64": "BIGINT",
    "UInt8": "SMALLINT",
    "UInt16": "INT",
    "UInt32": "BIGINT",
    "UInt64": "DECIMAL(20,0)",
    "Float16": "FLOAT",
    "Float32": "FLOAT",
    "Float64": "DOUBLE",
    "Utf8": "STRING",
    "LargeUtf8": "STRING",
    "Utf8View": "STRING",
    "Binary": "BINARY",
    "LargeBinary": "BINARY",
    "Date32": "DATE",
    "Date64": "DATE",
}

# Spark typeof() name → Arrow type name as DataFusion's arrow_typeof
# prints it (datafusion/functions arrow_typeof; the reference compiles
# it in via datafusion-functions, Cargo.lock:783).
_ARROW_TYPE_NAMES = {
    "tinyint": "Int8",
    "smallint": "Int16",
    "int": "Int32",
    "bigint": "Int64",
    "float": "Float32",
    "double": "Float64",
    "string": "Utf8",
    "boolean": "Boolean",
    "date": "Date32",
    "binary": "Binary",
    "timestamp": 'Timestamp(Microsecond, Some("UTC"))',
    "timestamp_ntz": "Timestamp(Microsecond, None)",
}


_QUOTE_OR_COMMENT_RE = re.compile(r"['\"]|--|/\*")


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Single left-to-right scan that replaces with placeholders
    (a) 'string literals', so rewrites never touch literal contents,
    (b) "double-quoted identifiers" (DataFusion/Postgres dialect,
    SURVEY §1.1 — unambiguous because '' is the string quote and "" the
    identifier quote), and (c) -- line and /* block */ comments, so a
    function name or DISTINCT ON mentioned inside a comment can never
    trigger a rewrite (ADVICE r4). ``_unmask`` restores every masked
    token verbatim, so a split or match on the masked text maps back to
    the statement exactly as written.

    A regex pass per quote kind cannot do this: a single quote inside
    "a'b" or inside a comment would open a phantom string literal and
    swallow everything up to the next real quote (observed live on
    SELECT "a'b" AS x, 'y' AS s). One scanner, one source of truth for
    what is quoted."""
    literals: list[str] = []
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        # plain text up to the next quote or comment start goes as is
        m = _QUOTE_OR_COMMENT_RE.search(sql, i)
        if m is None:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        i = m.start()
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            literals.append(sql[i : min(j + 1, n)])
            out.append(f"\x00L{len(literals) - 1}\x00")
            i = j + 1
        elif c == '"':
            j = i + 1
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        j += 2
                        continue
                    break
                j += 1
            literals.append(sql[i : j + 1])
            out.append(f"\x00I{len(literals) - 1}\x00")
            i = j + 1
        else:
            if c == "-":  # -- line comment, up to its newline
                j = sql.find("\n", i)
                j = n if j < 0 else j
            else:  # /* block */ comment
                j = sql.find("*/", i + 2)
                j = n if j < 0 else j + 2
            literals.append(sql[i:j])
            out.append(f"\x00C{len(literals) - 1}\x00")
            i = j
    return "".join(out), literals


_PLACEHOLDER_RE = re.compile(r"\x00[LCI](\d+)\x00")


def _unmask(sql: str, literals: list[str]) -> str:
    return _PLACEHOLDER_RE.sub(lambda m: literals[int(m.group(1))], sql)


def _backticked(ident: str) -> str:
    """A "double-quoted" identifier in Spark's `backtick` quoting."""
    body = ident[1:-1] if len(ident) > 1 and ident.endswith('"') else ident[1:]
    return "`" + body.replace('""', '"').replace("`", "``") + "`"


def similar_to_regex(pattern: str) -> str:
    """SQL92 SIMILAR TO pattern → anchored Java regex (DataFusion does
    the same % / _ translation; (), |, [] and quantifiers keep their
    regex meaning in SIMILAR TO by spec)."""
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(ch)
    return "^(?:" + "".join(out) + ")$"


# \x00C\d+\x00 comment placeholders are whitespace to the parser: the
# adjacency-sensitive rewrites skip them wherever whitespace may appear
# (_WS = optional run, _WS1 = at least one whitespace/comment token)
_WS = r"(?:\s|\x00C\d+\x00)*"
_WS1 = r"(?:\s|\x00C\d+\x00)+"
_SIMILAR_RE = re.compile(
    rf"(?P<not>NOT{_WS1})?SIMILAR{_WS1}TO{_WS}(?P<lit>\x00L(?P<idx>\d+)\x00)",
    re.IGNORECASE,
)
_ARROW_CAST_RE = re.compile(
    rf"arrow_cast\s*\(\s*(?P<expr>[^,()]+(?:\([^()]*\))?[^,()]*),{_WS}\x00L(?P<idx>\d+)\x00{_WS}\)",
    re.IGNORECASE,
)
_INFO_SCHEMA_RE = re.compile(
    r"\binformation_schema\.(tables|columns|views|df_settings)\b", re.IGNORECASE
)


# chrono (strftime, DataFusion to_char) directive → Java SimpleDateFormat
# pattern used by Spark's date_format (SURVEY §2.8 datetime shims)
CHRONO_TO_JAVA = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%e": "d",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%j": "DDD",
    "%A": "EEEE",
    "%a": "EEE",
    "%B": "MMMM",
    "%b": "MMM",
    "%p": "a",
    "%%": "%",
}


def chrono_to_java(fmt: str) -> str:
    """Translate a chrono/strftime pattern to a Java datetime pattern.
    Literal (non-directive) characters are quoted where Java would
    interpret them as pattern letters."""
    out: list[str] = []
    lit: list[str] = []  # pending literal alpha run (quoted as one unit)

    def flush() -> None:
        if lit:
            out.append("'" + "".join(lit) + "'")
            lit.clear()

    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i : i + 2]
            if d in CHRONO_TO_JAVA:
                flush()
                out.append(CHRONO_TO_JAVA[d])
                i += 2
                continue
        ch = fmt[i]
        if ch.isalpha():
            lit.append(ch)
        else:
            flush()
            out.append(ch)
        i += 1
    flush()
    return "".join(out)


_TO_CHAR_RE = re.compile(
    rf"\bto_char\s*\(\s*(?P<expr>[^,()]+(?:\([^()]*\))?[^,()]*),{_WS}\x00L(?P<idx>\d+)\x00{_WS}\)",
    re.IGNORECASE,
)

_INTERVAL_UNIT_SECONDS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
}

_DATE_BIN_RE = re.compile(
    r"\bdate_bin\s*\(\s*INTERVAL\s+\x00L(?P<n>\d+)\x00\s+(?P<unit>\w+)\s*,\s*"
    r"(?P<ts>[^,]+?)\s*,\s*(?P<origin>[^()]+?(?:\([^()]*\))?[^()]*?)\s*\)",
    re.IGNORECASE,
)

# DataFusion function spelling → Spark function, where a bare token
# rename is exact (args and semantics identical). Applied to the
# masked statement so string literals are never touched. Only names
# Spark does not resolve itself belong here: a name Spark has with
# other semantics needs a call rewrite instead (strpos, trunc, … in
# ``rewrite``). tests/test_compat.py checks both sides of every entry.
FN_RENAMES = {
    "ends_with": "endswith",
    "starts_with": "startswith",
    "to_hex": "hex",
    "datetrunc": "date_trunc",
    "today": "current_date",
    "substr_index": "substring_index",
    "list_extract": "element_at",  # both 1-based
    "approx_distinct": "approx_count_distinct",
    "gcd": "dfwb_gcd",  # session-registered (functions/shims.py)
    "lcm": "dfwb_lcm",
    "regexp_match": "dfwb_regexp_match",
}

_FN_RENAME_RE = re.compile(
    r"\b(" + "|".join(FN_RENAMES) + r")\s*\(", re.IGNORECASE
)


def _parse_args(s: str, open_paren: int) -> tuple[list[str], int]:
    """Parse a balanced argument list starting at ``s[open_paren] ==
    '('``; returns (args, index just past the closing paren). Operates
    on literal-masked text, so quotes need no handling."""
    args: list[str] = []
    buf: list[str] = []
    depth = 1
    i = open_paren + 1
    while i < len(s) and depth:
        ch = s[i]
        if ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            if depth:
                buf.append(ch)
        elif ch == "," and depth == 1:
            args.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail or args:
        args.append(tail)
    return args, i


def _enclosing_close(masked: str, start: int) -> int:
    """Index of the ')' that closes the parenthesis enclosing
    ``masked[start]`` — the end of the subquery around it — or
    ``len(masked)`` at the top level."""
    depth = 0
    for i in range(start, len(masked)):
        if masked[i] == "(":
            depth += 1
        elif masked[i] == ")":
            depth -= 1
            if depth < 0:
                return i
    return len(masked)


def _rewrite_calls(masked: str, name: str, make: "callable") -> str:
    """Replace every ``name(args…)`` call with ``make(args)`` output,
    re-scanning until no occurrences remain (handles nesting as long as
    the replacement does not reintroduce ``name``)."""
    pat = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
    while True:
        m = pat.search(masked)
        if m is None:
            return masked
        args, end = _parse_args(masked, m.end() - 1)
        masked = masked[: m.start()] + make(args) + masked[end:]


# SELECT DISTINCT ON (<keys>) <list> FROM <rest> [ORDER BY <order>]
_DISTINCT_ON_RE = re.compile(
    r"^\s*SELECT\s+DISTINCT\s+ON\s*\((?P<keys>[^)]+)\)\s*(?P<list>.+?)\s+"
    r"FROM\s+(?P<rest>.+?)(?:\s+ORDER\s+BY\s+(?P<order>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


_DON_START_RE = re.compile(r"\bSELECT\s+DISTINCT\s+ON\s*\(", re.IGNORECASE)


def rewrite_distinct_on(masked: str) -> str:
    """Postgres ``SELECT DISTINCT ON (keys) … ORDER BY keys, tiebreak``
    → ``row_number() OVER (PARTITION BY keys ORDER BY …) = 1``
    (SURVEY §7.4), at ANY nesting level: each occurrence's SELECT spans
    to the close of its enclosing parenthesis (or end of statement at
    the top level), and that span is rewritten in place — covering the
    flat shape, CTE bodies, the final SELECT of a WITH, derived tables,
    and subquery expressions alike."""
    while True:
        m2 = _DON_START_RE.search(masked)
        if not m2:
            return masked
        s = m2.start()
        e = _enclosing_close(masked, s)
        m = _DISTINCT_ON_RE.match(masked[s:e])
        if not m:
            # unparseable shape: leave the statement untouched rather
            # than emitting a half-rewritten query
            return masked
        masked = masked[:s] + _expand_distinct_on(m) + masked[e:]


def _expand_distinct_on(m: re.Match) -> str:
    keys = m.group("keys").strip()
    select_list = m.group("list").strip()
    rest = m.group("rest").strip()
    order = (m.group("order") or keys).strip()
    inner = (
        f"SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY {order}) "
        f"AS __dfwb_rn FROM {rest}"
    )
    projection = (
        "* EXCEPT (__dfwb_rn)" if select_list == "*" else select_list
    )
    return (
        f"SELECT {projection} FROM ({inner}) __dfwb_don "
        f"WHERE __dfwb_rn = 1 ORDER BY {order}"
    )


# --- GROUPS window frames (SURVEY §2.5, §7.4) -------------------------
#
# Spark's window grammar has ROWS and RANGE but no GROUPS. A GROUPS
# frame over ORDER BY o counts *peer groups* (distinct o values), which
# is exactly a RANGE frame with the same integer offsets applied to
# DENSE_RANK() over the same (PARTITION BY, ORDER BY) — dense ranks
# enumerate peer groups contiguously. The rewrite precomputes that rank
# in a derived subquery (after this SELECT's WHERE, preserving window
# input semantics) and retargets the frame:
#
#   SELECT k, SUM(x) OVER (PARTITION BY p ORDER BY o GROUPS BETWEEN
#                          1 PRECEDING AND 1 FOLLOWING) FROM t WHERE c
#   →
#   SELECT k, SUM(x) OVER (PARTITION BY p ORDER BY __dfwb_gr0 RANGE
#                          BETWEEN 1 PRECEDING AND 1 FOLLOWING)
#   FROM (SELECT *, DENSE_RANK() OVER (PARTITION BY p ORDER BY o)
#         AS __dfwb_gr0 FROM t WHERE c) __dfwb_gframe0
#
# Supported shape: the owning SELECT has no GROUP BY/HAVING/WINDOW at
# its own depth (windows over plain rows — the reference's test shapes)
# and the frame has no EXCLUDE clause. Unsupported shapes pass through
# untouched, so Spark's parser rejects the GROUPS keyword loudly rather
# than silently computing something else.

_OVER_RE = re.compile(r"\bOVER\s*\(", re.IGNORECASE)

_GROUPS_WIN_RE = re.compile(
    r"^\s*(?:PARTITION\s+BY\s+(?P<p>.+?)\s+)?ORDER\s+BY\s+(?P<o>.+?)\s+"
    r"GROUPS\s+(?P<frame>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)

_SELECT_RE = re.compile(r"\bSELECT\b", re.IGNORECASE)
_FROM_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
_TAIL_KW_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|WINDOW|QUALIFY|ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT)\b",
    re.IGNORECASE,
)


def _depths(masked: str) -> list:
    """Paren depth at each character index of literal-masked text."""
    out = [0] * len(masked)
    d = 0
    for i, ch in enumerate(masked):
        if ch == "(":
            out[i] = d
            d += 1
        elif ch == ")":
            d -= 1
            out[i] = d
        else:
            out[i] = d
    return out


def rewrite_groups_frames(masked: str) -> str:
    counter = 0
    while re.search(r"\bGROUPS\b", masked, re.IGNORECASE):
        target = None
        for m in _OVER_RE.finditer(masked):
            op = m.end() - 1
            end = _parse_args(masked, op)[1]
            wm = _GROUPS_WIN_RE.match(masked[op + 1 : end - 1])
            if wm and "EXCLUDE" not in wm.group("frame").upper():
                target = (m.start(), end, wm)
                break
        if target is None:
            return masked
        s_over, _, _ = target
        depth = _depths(masked)
        d0 = depth[s_over]
        sel_start = None
        for sm in _SELECT_RE.finditer(masked, 0, s_over):
            if depth[sm.start()] == d0:
                sel_start = sm.start()
        if sel_start is None:
            return masked
        span_end = _enclosing_close(masked, s_over)
        from_pos = None
        for fm in _FROM_RE.finditer(masked, sel_start, span_end):
            if depth[fm.start()] == d0:
                from_pos = fm
                break
        if from_pos is None:
            return masked

        # rewrite every depth-d0 GROUPS window in this select list;
        # one dense-rank column per distinct (partition, order) spec
        sel_list = masked[sel_start + len("SELECT") : from_pos.start()]
        base = sel_start + len("SELECT")
        dr_names: dict = {}
        replacements = []  # (abs_start, abs_end, new_text)
        for m in _OVER_RE.finditer(sel_list):
            abs_over = base + m.start()
            if depth[abs_over] != d0:
                continue
            op = base + m.end() - 1
            end = _parse_args(masked, op)[1]
            wm = _GROUPS_WIN_RE.match(masked[op + 1 : end - 1])
            if wm is None or "EXCLUDE" in wm.group("frame").upper():
                continue
            p = (wm.group("p") or "").strip()
            o = wm.group("o").strip()
            key = (re.sub(r"\s+", " ", p.lower()), re.sub(r"\s+", " ", o.lower()))
            if key not in dr_names:
                dr_names[key] = (f"__dfwb_gr{counter}", p, o)
                counter += 1
            name = dr_names[key][0]
            part = f"PARTITION BY {p} " if p else ""
            replacements.append(
                (abs_over, end, f"OVER ({part}ORDER BY {name} RANGE {wm.group('frame').strip()})")
            )
        if not replacements:
            return masked

        # split the tail after FROM: relation [WHERE w] [order/limit tail]
        rest = masked[from_pos.end() : span_end]
        rest_base = from_pos.end()
        rel_end = len(rest)
        where_span = None
        tail_start = len(rest)
        for km in _TAIL_KW_RE.finditer(rest):
            if depth[rest_base + km.start()] != d0:
                continue
            kw = re.sub(r"\s+", " ", km.group(1).upper())
            if kw in ("GROUP BY", "HAVING", "WINDOW", "QUALIFY", "UNION", "INTERSECT", "EXCEPT"):
                return masked  # unsupported shape: leave untouched
            if kw == "WHERE" and where_span is None:
                rel_end = min(rel_end, km.start())
                where_span = km.start()
            else:  # ORDER BY / LIMIT / OFFSET
                rel_end = min(rel_end, km.start())
                tail_start = km.start()
                break
        relation = rest[: where_span if where_span is not None else rel_end].strip()
        where_sql = (
            rest[where_span:tail_start].strip() if where_span is not None else ""
        )
        tail_sql = rest[tail_start:].strip()

        new_list = sel_list
        for abs_s, abs_e, txt in sorted(replacements, reverse=True):
            new_list = new_list[: abs_s - base] + txt + new_list[abs_e - base :]
        drcols = ", ".join(
            f"DENSE_RANK() OVER ({'PARTITION BY ' + p + ' ' if p else ''}ORDER BY {o}) AS {nm}"
            for nm, p, o in dr_names.values()
        )
        alias = f"__dfwb_gframe{counter}"
        hidden = ", ".join(nm for nm, _, _ in dr_names.values())
        # a bare `*` projection item would now leak the rank columns:
        # only a `*` at the start of the list or right after a comma is
        # a projection item (never `a * b` or `count(*)`)
        new_list = re.sub(
            r"(^\s*|,\s*)\*(\s*)(?=,|$)",
            lambda mm: f"{mm.group(1)}* EXCEPT ({hidden}){mm.group(2)}",
            new_list,
            count=1,
        )
        inner = f"SELECT *, {drcols} FROM {relation}"
        if where_sql:
            inner += f" {where_sql}"
        rebuilt = f"SELECT{new_list}FROM ({inner}) {alias}"
        if tail_sql:
            rebuilt += f" {tail_sql}"
        masked = masked[:sel_start] + rebuilt + masked[span_end:]
    return masked


def rewrite(sql: str) -> str:
    """Apply all dialect rewrites to one statement."""
    masked, lits = _mask_literals(sql)
    lits = [_backticked(t) if t.startswith('"') else t for t in lits]

    def _kept_comments(m: re.Match) -> str:
        """Comment placeholders consumed by an adjacency rewrite:
        /* block */ comments are re-emitted after the rewritten
        expression (position-independent by construction); -- line
        comments are dropped — moving one would swallow the rest of
        its new line, and a comment is whitespace to the parser."""
        kept = [
            f"\x00C{i}\x00"
            for i in (int(x) for x in re.findall(r"\x00C(\d+)\x00", m.group(0)))
            if lits[i].startswith("/*")
        ]
        return (" " + " ".join(kept)) if kept else ""

    def similar_repl(m: re.Match) -> str:
        idx = int(m.group("idx"))
        pat = lits[idx][1:-1].replace("''", "'")
        lits[idx] = "'" + similar_to_regex(pat).replace("'", "''") + "'"
        op = "NOT RLIKE" if m.group("not") else "RLIKE"
        return f"{op} \x00L{idx}\x00{_kept_comments(m)}"

    masked = _SIMILAR_RE.sub(similar_repl, masked)

    def cast_repl(m: re.Match) -> str:
        idx = int(m.group("idx"))
        type_name = lits[idx][1:-1]
        spark_type = ARROW_TO_SPARK_TYPE.get(type_name)
        if spark_type is None:
            # Timestamp(Microsecond, None)-style names
            if type_name.startswith("Timestamp"):
                spark_type = "TIMESTAMP"
            elif type_name.startswith("Decimal128"):
                inner = type_name[type_name.index("(") + 1 : type_name.rindex(")")]
                spark_type = f"DECIMAL({inner})"
            else:
                raise ValueError(f"arrow_cast: unsupported Arrow type {type_name!r}")
        lits[idx] = ""  # consumed
        return f"CAST({m.group('expr').strip()} AS {spark_type}){_kept_comments(m)}"

    masked = _ARROW_CAST_RE.sub(cast_repl, masked)

    def to_char_repl(m: re.Match) -> str:
        idx = int(m.group("idx"))
        fmt = lits[idx][1:-1].replace("''", "'")
        lits[idx] = "'" + chrono_to_java(fmt).replace("'", "''") + "'"
        return f"date_format({m.group('expr').strip()}, \x00L{idx}\x00){_kept_comments(m)}"

    masked = _TO_CHAR_RE.sub(to_char_repl, masked)

    def date_bin_repl(m: re.Match) -> str:
        n = int(lits[int(m.group("n"))][1:-1])
        unit = m.group("unit").lower()
        if unit not in _INTERVAL_UNIT_SECONDS:
            return m.group(0)  # sub-second/month strides: pass through
        stride_us = n * _INTERVAL_UNIT_SECONDS[unit] * 1_000_000
        ts, origin = m.group("ts").strip(), m.group("origin").strip()
        # CAST first: unix_micros rejects TIMESTAMP_NTZ inputs
        off = (
            f"(unix_micros(CAST({ts} AS TIMESTAMP)) "
            f"- unix_micros(CAST({origin} AS TIMESTAMP)))"
        )
        return (
            f"timestamp_micros(CAST(floor({off} / {stride_us}) AS BIGINT) "
            f"* {stride_us} + unix_micros({origin}))"
        )

    masked = _DATE_BIN_RE.sub(date_bin_repl, masked)
    masked = _FN_RENAME_RE.sub(
        lambda m: FN_RENAMES[m.group(1).lower()] + "(", masked
    )
    # strpos(str, sub) → locate(sub, str): arg order swaps
    masked = _rewrite_calls(
        masked,
        "strpos",
        lambda a: f"locate({a[1]}, {a[0]})" if len(a) == 2 else f"locate({', '.join(a)})",
    )
    # approx_median(x) → approximate 0.5 percentile, as DataFusion
    # defines it; Spark's sketch returns an input value where
    # DataFusion's t-digest may interpolate between two
    masked = _rewrite_calls(
        masked, "approx_median", lambda a: f"percentile_approx({a[0]}, 0.5)"
    )
    # iszero(x) → exact ±0.0 test, null-safe like any comparison
    masked = _rewrite_calls(
        masked, "iszero", lambda a: f"(CAST({a[0]} AS DOUBLE) = 0.0D)"
    )

    # trunc(x[, d]) — DataFusion's trunc is NUMERIC truncation toward
    # zero with optional decimal places (datafusion-functions math
    # catalog, SURVEY §2.8); its date truncation is spelled date_trunc.
    # Spark's only `trunc` is trunc(date, 'fmt'), so a 2-arg call whose
    # second argument is a string literal is the Spark date form and
    # passes through (emitted via a sentinel so the re-scan loop in
    # _rewrite_calls terminates). FLOOR/CEILING on DOUBLE return
    # BIGINT, so |x·10^d| beyond ~9.2e18 overflows — far outside the
    # reference's f64-exact range (2^53) anyway.
    def trunc_repl(a: list[str]) -> str:
        if len(a) == 2 and re.fullmatch(r"\x00L\d+\x00", a[1].strip()):
            return f"\x00TRUNC\x00({a[0]}, {a[1]})"
        x = a[0]
        if len(a) == 1:
            return (
                f"CAST((CASE WHEN ({x}) >= 0 THEN FLOOR({x}) "
                f"ELSE CEILING({x}) END) AS DOUBLE)"
            )
        d = a[1]
        return (
            f"CAST((CASE WHEN ({x}) >= 0 THEN FLOOR(({x}) * POWER(10, {d})) "
            f"ELSE CEILING(({x}) * POWER(10, {d})) END) / POWER(10, {d}) AS DOUBLE)"
        )

    masked = _rewrite_calls(masked, "trunc", trunc_repl)
    masked = masked.replace("\x00TRUNC\x00", "trunc")
    masked = rewrite_distinct_on(masked)
    masked = rewrite_groups_frames(masked)
    # arrow_typeof(x) → CASE over Spark's typeof(x) mapping Spark type
    # names to the Arrow spellings DataFusion prints ("int" → "Int32",
    # "decimal(p,s)" → "Decimal128(p, s)" with arrow-rs's Debug-form
    # space); unmapped names pass through.
    # typeof is constant-folded, so the repeated subexpression is free.
    def arrow_typeof_repl(a: list[str]) -> str:
        t = f"typeof({a[0]})"
        cases = " ".join(
            f"WHEN {t} = '{k}' THEN '{v}'" for k, v in _ARROW_TYPE_NAMES.items()
        )
        return (
            f"(CASE WHEN {t} LIKE 'decimal%' "
            f"THEN concat('Decimal128', replace(substr({t}, 8), ',', ', ')) "
            f"{cases} ELSE {t} END)"
        )

    masked = _rewrite_calls(masked, "arrow_typeof", arrow_typeof_repl)
    masked = _INFO_SCHEMA_RE.sub(lambda m: f"information_schema_{m.group(1).lower()}", masked)
    return _unmask(masked, lits)


def information_schema_relations(sql: str) -> set[str]:
    """The information_schema relations ``sql`` names (outside string
    literals and comments), e.g. {"tables", "columns"}."""
    return {m.group(1).lower() for m in _INFO_SCHEMA_RE.finditer(_mask_literals(sql)[0])}
