"""Scalar function catalog — SURVEY.md §2.8.

One oracle-checked query per function family the reference compiles in
(core, math, string, unicode, regex, datetime, encoding —
Cargo.lock:783-807). Crypto and nested/array functions are OFF in the
reference build (lockfile proof, SURVEY §2.8) and are deliberately
absent here; crypto reappears in extensions (dedup fingerprints).

Dialect shims exercised (oracle text differs where DuckDB lacks the
function): nvl2, overlay, substring_index, find_in_set, btrim,
initcap, regexp_count, from_unixtime, date_bin, to_char.

libm caveat: exp/trig differ between JVM and C libm in the last ulp —
all transcendental outputs are rounded to 6 decimals on BOTH sides
(FIXTURES.md determinism rules).
"""

from __future__ import annotations

from datafusion_wasm_bindings_spark.queries import sql_query

# --- core: null handling ----------------------------------------------
sql_query(
    "q_fn_null_handling",
    """
    SELECT p_partkey,
           coalesce(nullif(p_type, 'STANDARD'), 'was-standard') AS type_or_marker,
           ifnull(nullif(p_size, 10), -1) AS size_or_neg,
           nvl2(nullif(p_brand, 'Brand#1'), 'other', 'brand1') AS brand_class
    FROM part WHERE p_partkey <= 200
    """,
    oracle="""
    SELECT p_partkey,
           coalesce(nullif(p_type, 'STANDARD'), 'was-standard') AS type_or_marker,
           ifnull(nullif(p_size, 10), -1) AS size_or_neg,
           CASE WHEN nullif(p_brand, 'Brand#1') IS NOT NULL
                THEN 'other' ELSE 'brand1' END AS brand_class
    FROM part WHERE p_partkey <= 200
    """,
    tags=("functions", "core"),
)

sql_query(
    "q_fn_greatest_least",
    """
    SELECT o_orderkey,
           greatest(o_totalprice, 50000.0, o_orderkey * 1.0) AS hi,
           least(o_totalprice, 50000.0, o_orderkey * 1.0) AS lo
    FROM orders WHERE o_orderkey <= 300
    """,
    tags=("functions", "core"),
)

# --- core: struct build + get_field -----------------------------------
# Output scalar fields (struct cell rendering differs across drivers).
sql_query(
    "q_fn_struct",
    """
    SELECT t.s.k AS k_out, t.s.nm AS nm_out
    FROM (SELECT named_struct('k', n_nationkey, 'nm', n_name) AS s FROM nation) t
    """,
    oracle="""
    SELECT t.s.k AS k_out, t.s.nm AS nm_out
    FROM (SELECT {'k': n_nationkey, 'nm': n_name} AS s FROM nation) t
    """,
    tags=("functions", "core"),
)

# --- math: exact family -------------------------------------------------
# CASTs pin pandas dtypes across engines (driver hashes dtypes, not
# values): Spark ceil/floor return BIGINT where DuckDB returns DOUBLE,
# and Spark sign returns DOUBLE where DuckDB returns TINYINT — caught
# by tools_driver_sim.py before this id's first driver window.
sql_query(
    "q_fn_math_basic",
    """
    SELECT p_partkey,
           abs(p_size - 25) AS a,
           CAST(ceil(p_retailprice / 100) AS BIGINT) AS c,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS f,
           -- + 0.0 normalizes the SIGNED ZERO: round(-1e-6, 1) is 0.0
           -- in Spark but -0.0 in DuckDB; IEEE -0.0 + 0.0 = +0.0 on
           -- both (adversarial extremes replay, r6)
           round(p_retailprice, 1) + CAST(0 AS DOUBLE) AS r1,
           CAST(sign(p_size - 25) AS DOUBLE) AS sg,
           -- domain-guarded: Spark sqrt(neg) is NaN but DuckDB ERRORS
           -- (OutOfRange) — NULL for out-of-domain on both engines
           -- (adversarial extremes replay, r6)
           round(sqrt(CASE WHEN p_size >= 0 THEN p_size END), 6) AS sq,
           round(cbrt(p_size), 6) AS cb
    FROM part WHERE p_partkey <= 300
    """,
    tags=("functions", "math"),
)

# --- math: log / trig (libm-sensitive → round 6) -------------------------
sql_query(
    "q_fn_math_log_trig",
    """
    SELECT p_partkey,
           round(ln(p_retailprice), 6) AS l_n,
           round(log10(p_retailprice), 6) AS l10,
           round(log2(p_retailprice), 6) AS l2,
           -- domain-guarded: DuckDB ERRORS on log of zero/negative
           -- where Spark returns NULL (adversarial extremes replay, r6)
           round(log(2, CASE WHEN p_size > 0 THEN p_size END), 6) AS l2s,
           round(exp(p_size / 25.0), 6) AS e,
           round(power(p_size, 1.5), 6) AS pw,
           round(sin(p_size / 10.0), 6) AS sn,
           round(cos(p_size / 10.0), 6) AS cs,
           round(atan2(p_size, 7.0), 6) AS at2,
           round(degrees(p_size / 10.0), 6) AS dg,
           round(radians(p_size * 1.0), 6) AS rd,
           round(pi(), 6) AS p_i
    FROM part WHERE p_partkey <= 300 AND p_retailprice > 0
    """,
    tags=("functions", "math"),
)

# --- math: Spark gaps (gcd/lcm UDF shims, factorial, isnan/nanvl) --------
# gcd/lcm are the DataFusion spellings; compat renames them to the
# dfwb_gcd/dfwb_lcm shims the engine registers
sql_query(
    "q_fn_math_gaps",
    """
    SELECT p_partkey,
           gcd(p_size, 24) AS g,
           lcm(p_size, 4) AS l,
           factorial(p_size % 10) AS fac,
           isnan(p_retailprice / 1.0) AS is_nan,
           nanvl(p_retailprice, -1.0) AS nan_fixed,
           (p_size = 0) AS is_zero
    FROM part WHERE p_partkey <= 200 AND p_size > 0
    """,
    oracle="""
    SELECT p_partkey,
           gcd(p_size, 24) AS g,
           lcm(p_size, 4) AS l,
           CAST(factorial(p_size % 10) AS BIGINT) AS fac,
           -- Spark's isnan is TOTAL (NULL input -> false); DuckDB's
           -- null-propagates (adversarial NULL replay, r5)
           COALESCE(isnan(p_retailprice / 1.0), FALSE) AS is_nan,
           CASE WHEN isnan(p_retailprice) THEN -1.0 ELSE p_retailprice END AS nan_fixed,
           (p_size = 0) AS is_zero
    FROM part WHERE p_partkey <= 200 AND p_size > 0
    """,
    tags=("functions", "math"),
)

# --- introspection: arrow_typeof / version (SURVEY §2.8 "—" rows) ---------
# oracle = the exact Arrow type names DataFusion's arrow_typeof prints;
# version() can't value-match across engines, so the checked column is
# the boolean contract "version() matches this engine's identity".
# Spark SQL reads 1.5 as DECIMAL(2,1): the Float64 probe is 1.5D.
sql_query(
    "q_fn_typeof_version",
    """
    SELECT arrow_typeof(CAST(1 AS BIGINT)) AS t_int64,
           arrow_typeof(CAST(1 AS INT)) AS t_int32,
           arrow_typeof(1.5D) AS t_float64,
           arrow_typeof('x') AS t_utf8,
           arrow_typeof(TRUE) AS t_bool,
           arrow_typeof(CAST(NULL AS DATE)) AS t_date32,
           arrow_typeof(CAST('9.99' AS DECIMAL(4,2))) AS t_decimal,
           dfwb_version() RLIKE '^datafusion-wasm-bindings-spark' AS version_ok
    """,
    oracle="""
    SELECT 'Int64' AS t_int64, 'Int32' AS t_int32, 'Float64' AS t_float64,
           'Utf8' AS t_utf8, 'Boolean' AS t_bool, 'Date32' AS t_date32,
           'Decimal128(4, 2)' AS t_decimal, TRUE AS version_ok
    """,
    tags=("functions", "introspection"),
)


# --- strings: basic -------------------------------------------------------
sql_query(
    "q_fn_string_basic",
    """
    SELECT c_custkey,
           length(c_name) AS len,
           upper(c_mktsegment) AS up,
           lower(c_name) AS lo,
           concat_ws('', c_name, '~', c_mktsegment) AS cat,
           concat_ws('|', c_name, c_mktsegment, 'x') AS catws,
           repeat(left(c_mktsegment, 2), 3) AS rep,
           reverse(c_mktsegment) AS rev,
           replace(c_name, 'Customer', 'Cust') AS repl,
           ascii(c_mktsegment) AS asc_first,
           chr(65 + CAST(c_custkey % 26 AS INT)) AS letter,
           bit_length(c_mktsegment) AS bits,
           octet_length(c_name) AS octets
    FROM customer WHERE c_custkey <= 200
    """,
    # DuckDB's octet_length takes BLOB, not VARCHAR. `cat`: DataFusion/
    # Postgres/DuckDB concat SKIPS NULL arguments, while the engine's
    # SQL concat is Spark's, which propagates them (ROADMAP small
    # carries), so the Spark side spells it concat_ws('') (adversarial
    # NULL replay, r5).
    oracle="""
    SELECT c_custkey,
           length(c_name) AS len,
           upper(c_mktsegment) AS up,
           lower(c_name) AS lo,
           concat(c_name, '~', c_mktsegment) AS cat,
           concat_ws('|', c_name, c_mktsegment, 'x') AS catws,
           repeat(left(c_mktsegment, 2), 3) AS rep,
           reverse(c_mktsegment) AS rev,
           replace(c_name, 'Customer', 'Cust') AS repl,
           ascii(c_mktsegment) AS asc_first,
           chr(65 + CAST(c_custkey % 26 AS INT)) AS letter,
           bit_length(c_mktsegment) AS bits,
           octet_length(encode(c_name)) AS octets
    FROM customer WHERE c_custkey <= 200
    """,
    tags=("functions", "string"),
)

# --- strings: pad / trim ---------------------------------------------------
sql_query(
    "q_fn_string_pad_trim",
    """
    SELECT c_custkey,
           lpad(c_mktsegment, 12, '.') AS lp,
           rpad(c_mktsegment, 12, '.') AS rp,
           ltrim('  ' || c_name) AS lt,
           rtrim(c_name || '  ') AS rt,
           trim(' ' || c_name || ' ') AS tr,
           btrim('xx' || c_mktsegment || 'xx', 'x') AS bt,
           left(c_name, 6) AS l6,
           right(c_name, 4) AS r4
    FROM customer WHERE c_custkey <= 200
    """,
    # trim-input scaffolding uses || (null-PROPAGATING in both
    # dialects); bare concat() diverges on NULL rows — DuckDB skips,
    # Spark propagates (adversarial NULL replay, r5)
    oracle="""
    SELECT c_custkey,
           lpad(c_mktsegment, 12, '.') AS lp,
           rpad(c_mktsegment, 12, '.') AS rp,
           ltrim('  ' || c_name) AS lt,
           rtrim(c_name || '  ') AS rt,
           trim(' ' || c_name || ' ') AS tr,
           trim('xx' || c_mktsegment || 'xx', 'x') AS bt,
           left(c_name, 6) AS l6,
           right(c_name, 4) AS r4
    FROM customer WHERE c_custkey <= 200
    """,
    tags=("functions", "string"),
)

# --- strings: search / edit ------------------------------------------------
sql_query(
    "q_fn_string_search",
    """
    SELECT c_custkey,
           contains(c_name, '5') AS has5,
           startswith(c_name, 'Customer') AS pre,
           endswith(c_name, '7') AS suf,
           instr(c_name, '#') AS pos_hash,
           position('er' IN c_name) AS pos_er,
           split_part(c_name, '#', 2) AS num_part,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS transl,
           levenshtein(c_mktsegment, 'BUILDING') AS lev,
           initcap(c_mktsegment) AS cap,
           substring_index(c_name, '0', 1) AS before_zero,
           overlay(c_mktsegment PLACING '__' FROM 2 FOR 2) AS ovl
    FROM customer WHERE c_custkey <= 200
    """,
    oracle="""
    SELECT c_custkey,
           contains(c_name, '5') AS has5,
           starts_with(c_name, 'Customer') AS pre,
           ends_with(c_name, '7') AS suf,
           instr(c_name, '#') AS pos_hash,
           position('er' IN c_name) AS pos_er,
           -- DuckDB split_part yields '' on NULL input, Spark NULL
           CASE WHEN c_name IS NULL THEN NULL
                ELSE split_part(c_name, '#', 2) END AS num_part,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS transl,
           levenshtein(c_mktsegment, 'BUILDING') AS lev,
           -- true per-WORD initcap twin (space-delimited, like Spark's):
           -- the old first-char-only fake agreed on one-word segments
           -- but not on hostile multi-word strings (r6 sf0.01 replay);
           -- probe-verified to match Spark's initcap on every pool
           -- string incl. tabs/newlines/emoji/consecutive spaces
           array_to_string(list_transform(string_split(lower(c_mktsegment), ' '),
                                          w -> upper(left(w, 1)) || substr(w, 2)),
                           ' ') AS cap,
           CASE WHEN instr(c_name, '0') = 0 THEN c_name
                ELSE left(c_name, instr(c_name, '0') - 1) END AS before_zero,
           left(c_mktsegment, 1) || '__' || substr(c_mktsegment, 4) AS ovl
    FROM customer WHERE c_custkey <= 200
    """,
    tags=("functions", "string"),
)

# --- unicode family (substr/locate/char_length on multibyte-safe API) -------
sql_query(
    "q_fn_unicode",
    """
    SELECT n_nationkey,
           substr(n_name, 2, 3) AS mid,
           substring(n_name, 1, 4) AS head,
           char_length(n_name) AS clen,
           locate('A', n_name) AS a_at,
           lpad(n_name, 12, '*') AS padded,
           reverse(n_name) AS rev
    FROM nation
    """,
    oracle="""
    SELECT n_nationkey,
           substr(n_name, 2, 3) AS mid,
           substring(n_name, 1, 4) AS head,
           length(n_name) AS clen,
           strpos(n_name, 'A') AS a_at,
           lpad(n_name, 12, '*') AS padded,
           reverse(n_name) AS rev
    FROM nation
    """,
    tags=("functions", "string"),
)

# --- regex -------------------------------------------------------------------
# Patterns chosen valid in both Java regex (Spark) and RE2 (DuckDB).
sql_query(
    "q_fn_regex",
    """
    SELECT c_custkey,
           regexp_like(c_name, '[0-9]{3}') AS has3digits,
           regexp_replace(c_name, '[0-9]', '#') AS masked,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           regexp_count(c_name, '[05]') AS n05
    FROM customer WHERE c_custkey <= 300
    """,
    oracle="""
    SELECT c_custkey,
           regexp_matches(c_name, '[0-9]{3}') AS has3digits,
           regexp_replace(c_name, '[0-9]', '#', 'g') AS masked,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits,
           len(regexp_extract_all(c_name, '[05]')) AS n05
    FROM customer WHERE c_custkey <= 300
    """,
    tags=("functions", "regex"),
)

# --- datetime: extract ---------------------------------------------------------
sql_query(
    "q_fn_datetime_extract",
    """
    SELECT o_orderkey,
           extract(YEAR FROM o_orderdate) AS y,
           extract(MONTH FROM o_orderdate) AS m,
           extract(DAY FROM o_orderdate) AS d,
           extract(HOUR FROM o_orderdate) AS h,
           extract(MINUTE FROM o_orderdate) AS mi,
           CAST(date_part('QUARTER', o_orderdate) AS BIGINT) AS q
    FROM orders WHERE o_orderkey <= 400
    """,
    oracle="""
    SELECT o_orderkey,
           extract(YEAR FROM o_orderdate) AS y,
           extract(MONTH FROM o_orderdate) AS m,
           extract(DAY FROM o_orderdate) AS d,
           extract(HOUR FROM o_orderdate) AS h,
           extract(MINUTE FROM o_orderdate) AS mi,
           CAST(date_part('QUARTER', o_orderdate) AS BIGINT) AS q
    FROM orders WHERE o_orderkey <= 400
    """,
    tags=("functions", "datetime"),
)

# --- datetime: trunc + date_bin --------------------------------------------------
# DuckDB date_trunc returns DATE for day-level units while Spark returns
# TIMESTAMP → both sides cast explicitly. date_bin (DataFusion) ==
# time_bucket (DuckDB) == integer floor on epoch micros (Spark shim).
# Sub-day results surfaced as epoch SECONDS (registry rule: never raw
# timestamps — the driver hashes tz-naive and tz-aware cells differently).
sql_query(
    "q_fn_datetime_trunc_bin",
    """
    SELECT event_id,
           CAST(date_trunc('MONTH', ts) AS DATE) AS mon,
           CAST(date_trunc('DAY', ts) AS DATE) AS day,
           unix_seconds(CAST(date_trunc('HOUR', ts) AS TIMESTAMP)) AS hr_epoch,
           -- FLOOR division (pmod is non-negative): a bin is a floor,
           -- but `div` truncates toward zero, so a pre-1970 instant
           -- binned to 0 where DuckDB's time_bucket floors to -900
           -- (adversarial extremes replay, r6); exact BIGINT
           -- arithmetic throughout
           ((unix_micros(ts) - pmod(unix_micros(ts), 900000000))
              div 900000000) * 900 AS bin15m_epoch
    FROM events WHERE event_id <= 400
    """,
    oracle="""
    SELECT event_id,
           CAST(date_trunc('MONTH', CAST(ts AS TIMESTAMP)) AS DATE) AS mon,
           CAST(date_trunc('DAY', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
           CAST(epoch(date_trunc('HOUR', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hr_epoch,
           CAST(epoch(time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))) AS BIGINT) AS bin15m_epoch
    FROM events WHERE event_id <= 400
    """,
    tags=("functions", "datetime"),
)

# --- datetime: conversions ----------------------------------------------------------
sql_query(
    "q_fn_datetime_convert",
    """
    SELECT o_orderkey,
           -- exact integer micros, then TRUNCATING division on both
           -- engines (Spark div / DuckDB // both truncate toward 0):
           -- unix_timestamp truncates where DuckDB's epoch()->BIGINT
           -- cast ROUNDS, so a .999999 fraction (or a pre-1970
           -- instant) diverged (adversarial extremes replay, r6)
           unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 1000000 AS epoch_s,
           from_unixtime(o_orderkey * 86400) AS from_epoch,
           make_date(2024, 1 + CAST(o_orderkey % 12 AS INT), 1 + CAST(o_orderkey % 28 AS INT)) AS made,
           to_date('2021-03-05') AS fixed_date,
           datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS days_since
    FROM orders WHERE o_orderkey <= 400
    """,
    oracle="""
    SELECT o_orderkey,
           epoch_us(o_orderdate) // 1000000 AS epoch_s,
           strftime(CAST(to_timestamp(o_orderkey * 86400) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS from_epoch,
           make_date(2024, 1 + CAST(o_orderkey % 12 AS INT), 1 + CAST(o_orderkey % 28 AS INT)) AS made,
           CAST('2021-03-05' AS DATE) AS fixed_date,
           date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders WHERE o_orderkey <= 400
    """,
    tags=("functions", "datetime"),
)

# --- interval arithmetic (SURVEY §1.1 Interval rows) -----------------------
# Timestamp-valued results surfaced as epoch SECONDS (registry rule).
sql_query(
    "q_fn_interval_arith",
    """
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 DAY AS DATE) AS plus_days,
           -- micros div: unix_seconds truncates, DuckDB epoch() cast
           -- rounds — truncating integer division matches exactly
           -- (adversarial extremes replay, r6)
           unix_micros(CAST(o_orderdate - INTERVAL 2 HOUR AS TIMESTAMP)) div 1000000 AS minus_hours_epoch,
           CAST(add_months(CAST(o_orderdate AS DATE), 2) AS DATE) AS plus_months,
           CAST(add_months(CAST(o_orderdate AS DATE), -14) AS DATE) AS minus_months,
           unix_micros(CAST(o_orderdate + make_interval(0, 1, 0, 2, 0, 0, 0) AS TIMESTAMP)) div 1000000 AS plus_mixed_epoch,
           months_between(DATE '2001-06-15', CAST(o_orderdate AS DATE)) >= 0 AS before_mid_2001
    FROM orders WHERE o_orderkey <= 300
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 DAY AS DATE) AS plus_days,
           epoch_us(o_orderdate - INTERVAL 2 HOUR) // 1000000 AS minus_hours_epoch,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_months,
           CAST(CAST(o_orderdate AS DATE) - INTERVAL 14 MONTH AS DATE) AS minus_months,
           epoch_us(o_orderdate + INTERVAL '1 month 2 days') // 1000000 AS plus_mixed_epoch,
           CAST(o_orderdate AS DATE) <= DATE '2001-06-15' AS before_mid_2001
    FROM orders WHERE o_orderkey <= 300
    """,
    tags=("functions", "datetime", "interval"),
)

# --- to_char: chrono (%Y…) vs Java (yyyy…) pattern translation (SURVEY §7.4) ---
sql_query(
    "q_fn_to_char",
    """
    SELECT o_orderkey,
           date_format(o_orderdate, 'yyyy-MM-dd') AS d_iso,
           date_format(o_orderdate, 'dd/MM/yyyy HH:mm') AS d_eu,
           date_format(o_orderdate, 'yyyy') AS d_y
    FROM orders WHERE o_orderkey <= 300
    """,
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS d_iso,
           strftime(o_orderdate, '%d/%m/%Y %H:%M') AS d_eu,
           strftime(o_orderdate, '%Y') AS d_y
    FROM orders WHERE o_orderkey <= 300
    """,
    tags=("functions", "datetime"),
)

# --- encoding ---------------------------------------------------------------------
sql_query(
    "q_fn_encoding",
    """
    SELECT n_nationkey,
           base64(CAST(n_name AS BINARY)) AS b64,
           CAST(unbase64(base64(CAST(n_name AS BINARY))) AS STRING) AS roundtrip,
           lower(hex(n_name)) AS hx,
           CAST(unhex(hex(n_name)) AS STRING) AS hex_roundtrip
    FROM nation
    """,
    oracle="""
    SELECT n_nationkey,
           base64(encode(n_name)) AS b64,
           decode(from_base64(base64(encode(n_name)))) AS roundtrip,
           lower(hex(n_name)) AS hx,
           decode(unhex(hex(n_name))) AS hex_roundtrip
    FROM nation
    """,
    tags=("functions", "encoding"),
)

# --- error-safe TRY arithmetic / casts (ANSI-mode escape hatches) -----------------
# Spark's try_* family returns NULL where strict ANSI evaluation would
# raise (÷0, overflow, malformed cast) — the per-row behavior a robust
# ingest pipeline wants. DuckDB spells the same semantics with
# TRY_CAST + CASE guards, which is exactly what the oracle does.
sql_query(
    "q_fn_try_arith",
    """
    SELECT o_orderkey,
           CAST(try_divide(o_totalprice, CAST(o_orderkey % 3 AS DOUBLE)) AS DOUBLE) AS div_maybe,
           try_cast(substring(o_orderpriority, 1, 1) AS INT) AS pri_num,
           try_cast(o_orderstatus AS INT) AS status_num,
           try_add(o_orderkey, 1000000000) AS add_ok,
           try_multiply(o_orderkey, 9223372036854775807) AS mul_overflow
    FROM orders WHERE o_orderkey <= 400
    """,
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE o_totalprice / CAST(o_orderkey % 3 AS DOUBLE) END AS div_maybe,
           TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS pri_num,
           TRY_CAST(o_orderstatus AS INT) AS status_num,
           o_orderkey + 1000000000 AS add_ok,
           CASE WHEN o_orderkey IN (0, 1)
                THEN o_orderkey * 9223372036854775807 ELSE NULL END AS mul_overflow
    FROM orders WHERE o_orderkey <= 400
    """,
    tags=("functions", "compat", "errors"),
)

# --- URL parsing / encoding --------------------------------------------------------
# parse_url mirrors java.net.URI part extraction (DataFusion ships no
# URL functions in core; this is the pipeline verb for log/clickstream
# columns). The oracle reconstructs every part from the base columns —
# an independent proof rather than a reimplementation of the parser.
sql_query(
    "q_fn_url_parse",
    """
    SELECT c_custkey,
           parse_url(url, 'HOST') AS host,
           parse_url(url, 'PATH') AS path,
           url_decode(parse_url(url, 'QUERY', 'name')) AS qname,
           -- roundtrip identity, not the raw encoding: Java's
           -- URLEncoder dialect (space->+, UTF-8 percent bytes) has no
           -- faithful SQL twin for arbitrary hostile input, but
           -- decode(encode(x)) = x holds for EVERY string — the
           -- functional contract a pipeline actually relies on
           -- (adversarial extremes replay, r6)
           COALESCE(url_decode(url_encode(c_name)) = c_name, FALSE) AS enc_roundtrip
    FROM (
      -- the PATH segment is slug-sanitized before it enters the URL
      -- (what a real pipeline does): a raw hostile segment (space,
      -- '[', control chars — r8 extremes re-cycle) makes the URL
      -- invalid and parse_url ABORTS. Sanitizing at construction
      -- keeps the parse demonstration on always-valid URLs without
      -- mirroring Java's URI validity grammar in the oracle; both
      -- engines apply the char class per codepoint identically
      -- (convention r6(g)).
      SELECT c_custkey, c_name,
             concat('https://shop.example.com/',
                    regexp_replace(lower(c_mktsegment), '[^a-z0-9]+', '-'),
                    '/', c_custkey,
                    '?name=', url_encode(c_name), '&x=1') AS url
      FROM customer WHERE c_custkey <= 150
    )
    """,
    # the Spark side's URL is built with null-propagating concat, so a
    # NULL name or segment nulls the whole URL and every parsed part —
    # the oracle's independent reconstruction must replicate that
    # (adversarial NULL replay, r5)
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_name IS NULL OR c_mktsegment IS NULL THEN NULL
                ELSE 'shop.example.com' END AS host,
           CASE WHEN c_name IS NULL OR c_mktsegment IS NULL THEN NULL
                ELSE '/' || regexp_replace(lower(c_mktsegment), '[^a-z0-9]+', '-', 'g')
                     || '/' || c_custkey END AS path,
           CASE WHEN c_mktsegment IS NULL THEN NULL ELSE c_name END AS qname,
           c_name IS NOT NULL AS enc_roundtrip
    FROM customer WHERE c_custkey <= 150
    """,
    tags=("functions", "string", "compat"),
)

# --- map functions -----------------------------------------------------------------
# MapType never reaches the output (hash-robustness lint) — the map is
# built, probed, and measured inside the query; only scalars leave.
sql_query(
    "q_fn_map_ops",
    """
    SELECT o_orderpriority,
           element_at(m, 'F') AS cnt_f,
           element_at(m, 'O') AS cnt_o,
           CAST(cardinality(m) AS INT) AS n_keys,
           map_contains_key(m, 'P') AS has_p
    FROM (
      SELECT o_orderpriority,
             map_from_arrays(array('F', 'O', 'P'),
                             array(count(IF(o_orderstatus = 'F', 1, NULL)),
                                   count(IF(o_orderstatus = 'O', 1, NULL)),
                                   count(IF(o_orderstatus = 'P', 1, NULL)))) AS m
      FROM orders GROUP BY o_orderpriority
    )
    """,
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS cnt_f,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS cnt_o,
           3 AS n_keys,
           TRUE AS has_p
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("functions", "map", "compat"),
)

# --- VARIANT semi-structured type (Spark 4) ----------------------------------------
# parse_json → VARIANT → typed variant_get extraction; the VARIANT
# value itself never reaches the output (hash-robustness lint), only
# extracted scalars and the minified to_json round-trip. DataFusion
# core has no JSON/VARIANT functions — this is the modern-Spark compat
# row for semi-structured columns; the oracle answers with DuckDB's
# JSON extraction.
sql_query(
    "q_fn_variant",
    """
    SELECT event_id,
           variant_get(try_parse_json(props), '$.k', 'int') AS k,
           try_variant_get(try_parse_json(props), '$.missing', 'int') AS missing_k,
           to_json(try_parse_json(props)) AS roundtrip
    FROM events WHERE event_id < 300
    """,
    oracle="""
    -- try_parse_json / json_valid guards: Spark parse_json THROWS on
    -- malformed input and DuckDB json() ERRORS — NULL on both engines
    -- (adversarial extremes replay, r6)
    SELECT event_id,
           CASE WHEN json_valid(props)
                THEN CAST(json_extract_string(props, '$.k') AS INT) END AS k,
           CAST(NULL AS INT) AS missing_k,
           CASE WHEN json_valid(props)
                THEN CAST(json(props) AS VARCHAR) END AS roundtrip
    FROM events WHERE event_id < 300
    """,
    tags=("functions", "json", "compat"),
)

# --- collations (Spark 4 UTF8_LCASE) -----------------------------------------------
# Case-insensitive comparison/search via COLLATION rather than lower()
# rewriting — the Spark 4 surface; the oracle proves the semantics with
# explicit lower() folds. The collated column itself never leaves the
# query (comparisons yield plain booleans/counts).
sql_query(
    "q_fn_collation",
    """
    SELECT c_custkey,
           collate(c_mktsegment, 'UTF8_LCASE') = 'building' AS seg_ci_eq,
           startswith(collate(c_name, 'UTF8_LCASE'), 'CUSTOMER') AS name_ci_prefix,
           contains(collate(c_mktsegment, 'UTF8_LCASE'), 'MOBILE') AS seg_ci_contains
    FROM customer WHERE c_custkey <= 200
    """,
    oracle="""
    SELECT c_custkey,
           lower(c_mktsegment) = 'building' AS seg_ci_eq,
           starts_with(lower(c_name), lower('CUSTOMER')) AS name_ci_prefix,
           contains(lower(c_mktsegment), lower('MOBILE')) AS seg_ci_contains
    FROM customer WHERE c_custkey <= 200
    """,
    tags=("functions", "string", "compat"),
)

# --- string distance ---------------------------------------------------------------
sql_query(
    "q_fn_stringdist",
    """
    SELECT n_nationkey,
           levenshtein(n_name, 'NATION_0') AS lev,
           levenshtein(left(n_name, 5), 'NATIO') AS lev_prefix,
           (levenshtein(n_name, 'NATION_0') <= 2) AS near_seed
    FROM nation
    """,
    oracle="""
    SELECT n_nationkey,
           CAST(levenshtein(n_name, 'NATION_0') AS INT) AS lev,
           CAST(levenshtein(left(n_name, 5), 'NATIO') AS INT) AS lev_prefix,
           (levenshtein(n_name, 'NATION_0') <= 2) AS near_seed
    FROM nation
    """,
    tags=("functions", "string"),
)
