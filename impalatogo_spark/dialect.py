"""Impala-dialect SQL -> Spark SQL translation (SURVEY.md §7: translation,
not reimplementation — Spark SQL accepts the overwhelming majority of the
reference grammar unchanged; this layer rewrites the ~dozen Impala-isms).

Handled rewrites (reference citations):
  * plan hints `[broadcast]` / `[shuffle]` after JOIN
    (grammar fe/src/main/cup/sql-parser.y:1917-1940) -> Spark join hints
  * STRAIGHT_JOIN select modifier (same grammar block) -> stripped; Spark
    equivalent is disabling CBO reorder per-query, approximated by a hint
  * DIV integer-division operator -> Spark DIV exists; kept (no-op listed
    for documentation)
  * function-name shims (functions.registry.IMPALA_SQL_FUNCTION_REWRITES)
  * `INVALIDATE METADATA tbl` / `REFRESH tbl`
    (sql-parser.y:581-589) -> REFRESH TABLE; bare `INVALIDATE METADATA`
    is a catalog operation (engine.Engine.invalidate_metadata)
  * `COMPUTE STATS tbl` (sql-parser.y:1249) -> ANALYZE TABLE ... COMPUTE
    STATISTICS FOR ALL COLUMNS

The tokenizer is deliberately simple (string-literal aware, word-boundary
regex); golden tests in tests/test_dialect.py pin each rewrite.
"""

from __future__ import annotations

import re

from impalatogo_spark.functions.registry import IMPALA_SQL_FUNCTION_REWRITES

_STRING_OR_COMMENT = re.compile(
    r"""('(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*"|--[^\n]*|/\*.*?\*/)""", re.DOTALL
)


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace string literals / comments with placeholder tokens so
    rewrites never touch their contents (they restore verbatim). Placeholders
    contain no parens/commas, so argument scanning stays correct."""
    stash: list[str] = []

    def repl(m: re.Match) -> str:
        stash.append(m.group(0))
        return f"\x00{len(stash) - 1}\x00"

    return _STRING_OR_COMMENT.sub(repl, sql), stash


def _restore_literals(sql: str, stash: list[str]) -> str:
    return re.sub(r"\x00(\d+)\x00", lambda m: stash[int(m.group(1))], sql)


# simple-arg function call rewriter: name(arg[, arg]) for shim names whose
# template is pure substitution. Nested calls are handled by repeated passes.
_SIMPLE_TEMPLATES = {
    name: tmpl
    for name, tmpl in IMPALA_SQL_FUNCTION_REWRITES.items()
    # these Spark-side names already exist or the template is 1:1; rewrite all
}

# Impala defaults for optional trailing arguments (BuiltinsDb.java):
# group_concat(expr) == group_concat(expr, ', ')
_DEFAULT_TRAILING_ARGS = {
    "group_concat": ["', '"],
    "truncate": ["0"],
    "dtrunc": ["0"],
}

# Impala trunc(ts, 'FMT') Oracle-style unit codes (timestamp-functions.cc
# TruncUnit) -> Spark date_trunc units. DAY/DY/D truncate to start of week
# (Monday) in both. WW/W (align to the weekday of Jan-1 / month-start) have
# no date_trunc equivalent and expand to date arithmetic in _rewrite_trunc;
# numeric trunc(x[, d]) is untouched (no string-literal second argument).
_TRUNC_UNIT = {
    "SYYYY": "YEAR", "YYYY": "YEAR", "YEAR": "YEAR", "SYEAR": "YEAR",
    "YYY": "YEAR", "YY": "YEAR", "Y": "YEAR",
    "Q": "QUARTER",
    "MONTH": "MONTH", "MON": "MONTH", "MM": "MONTH", "RM": "MONTH",
    "DAY": "WEEK", "DY": "WEEK", "D": "WEEK",
    "DDD": "DAY", "DD": "DAY", "J": "DAY",
    "HH": "HOUR", "HH12": "HOUR", "HH24": "HOUR",
    "MI": "MINUTE",
}


def _split_top(argstr: str) -> list[str]:
    """Split on top-level commas only (paren-depth aware)."""
    args, depth, cur = [], 0, []
    for ch in argstr:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    args.append("".join(cur).strip())
    return args


def _rewrite_trunc(chunk: str, stash: list[str]) -> str:
    """trunc(expr, <masked 'FMT' literal>) -> date_trunc('UNIT', expr);
    numeric trunc(x[, d]) -> truncate-toward-zero arithmetic (Spark has no
    numeric trunc builtin; CAST-to-BIGINT truncates toward zero like Impala,
    where floor() would round negatives the wrong way). Runs on masked text:
    a string-literal format is a stash placeholder, resolved and dropped."""
    pat = re.compile(r"\btrunc\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(chunk, pos)
        if not m:
            return chunk
        depth, i = 1, m.end()
        while i < len(chunk) and depth:
            if chunk[i] == "(":
                depth += 1
            elif chunk[i] == ")":
                depth -= 1
            i += 1
        if depth:
            return chunk
        args = _split_top(chunk[m.end() : i - 1])
        repl = None
        if len(args) == 2:
            ph = re.fullmatch(r"\x00(\d+)\x00", args[1])
            if ph:
                fmt = stash[int(ph.group(1))].strip("'\"").upper()
                unit = _TRUNC_UNIT.get(fmt)
                if unit:
                    repl = f"date_trunc('{unit}', {args[0]})"
                elif fmt in ("WW", "W"):
                    # TruncUnit WEEK_OF_YEAR / WEEK_OF_MONTH
                    # (timestamp-functions.cc): most recent day <= x whose
                    # day-of-week matches Jan-1 (WW) / the 1st of x's month
                    # (W) — i.e. anchor + 7 * ((x - anchor) div 7) days.
                    base = "YEAR" if fmt == "WW" else "MONTH"
                    x = args[0]
                    anchor = f"CAST(date_trunc('{base}', {x}) AS DATE)"
                    repl = (
                        f"CAST(date_add({anchor}, 7 * CAST("
                        f"(datediff(CAST({x} AS DATE), {anchor}) DIV 7)"
                        f" AS INT)) AS TIMESTAMP)"
                    )
            else:
                repl = (
                    f"(CAST(({args[0]}) * pow(10, ({args[1]})) AS BIGINT)"
                    f" / pow(10, ({args[1]})))"
                )
        elif len(args) == 1 and args[0]:
            repl = f"CAST(CAST(({args[0]}) AS BIGINT) AS DOUBLE)"
        if repl is not None:
            chunk = chunk[: m.start()] + repl + chunk[i:]
            pos = m.start() + len(repl)
        else:
            pos = m.end()


def _rewrite_functions(chunk: str) -> str:
    def split_args(argstr: str) -> list[str] | None:
        args, depth, cur = [], 0, []
        for ch in argstr:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                args.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        args.append("".join(cur).strip())
        return args

    for _ in range(3):  # fixpoint-ish for nesting
        changed = False
        for name, tmpl in _SIMPLE_TEMPLATES.items():
            pattern = re.compile(rf"\b{name}\s*\(", re.IGNORECASE)
            pos = 0
            while True:
                m = pattern.search(chunk, pos)
                if not m:
                    break
                # find matching close paren
                depth, i = 1, m.end()
                while i < len(chunk) and depth:
                    if chunk[i] == "(":
                        depth += 1
                    elif chunk[i] == ")":
                        depth -= 1
                    i += 1
                if depth:
                    break  # unbalanced; leave as-is
                inner = chunk[m.end() : i - 1]
                args = split_args(inner)
                slots = re.findall(r"\{(\d)\}", tmpl)
                n_slots = (max(int(s) for s in slots) + 1) if slots else 0
                if n_slots == 0:
                    # zero-arg shims: user() -> current_user() etc.
                    if inner.strip() == "":
                        chunk = chunk[: m.start()] + tmpl + chunk[i:]
                        changed = True
                        pos = m.start() + len(tmpl)
                    else:
                        pos = m.end()
                    continue
                defaults = _DEFAULT_TRAILING_ARGS.get(name.lower(), [])
                while len(args) < n_slots and defaults:
                    args = args + [defaults[len(args) - (n_slots - len(defaults))]]
                if len(args) == n_slots:
                    try:
                        replacement = tmpl.format(*args)
                    except (IndexError, KeyError):
                        pos = m.end()
                        continue
                    chunk = chunk[: m.start()] + replacement + chunk[i:]
                    changed = True
                    pos = m.start() + len(replacement)
                else:
                    pos = m.end()
        if not changed:
            break
    return chunk


def translate(sql: str) -> str:
    """Impala SQL -> Spark SQL."""
    text = sql.strip().rstrip(";")

    # statement-level translations -------------------------------------------
    # bare INVALIDATE METADATA is a catalog operation, not a statement:
    # Engine.invalidate_metadata
    m = re.match(r"INVALIDATE\s+METADATA\s+(\S+)", text, re.IGNORECASE)
    if m:
        return f"REFRESH TABLE {m.group(1)}"
    m = re.match(r"REFRESH\s+(?!TABLE\b)(\S+)\s*$", text, re.IGNORECASE)
    if m:
        return f"REFRESH TABLE {m.group(1)}"
    m = re.match(r"COMPUTE\s+(INCREMENTAL\s+)?STATS\s+(\S+)", text, re.IGNORECASE)
    if m:
        return f"ANALYZE TABLE {m.group(2)} COMPUTE STATISTICS FOR ALL COLUMNS"
    # CREATE TABLE ... STORED AS <fmt> (sql-parser.y file_format_create_
    # table_params_val): Impala's Hive-style DDL -> Spark's USING form.
    # Hive-style typed partition columns are appended to the column list
    # and PARTITIONED BY keeps only the names (Spark declares partition
    # columns inside the schema). Only formats Spark writes natively are
    # rewritten; rcfile/seqfile fall through to their dedicated readers.
    m = re.match(
        r"(?is)^CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([\w.`]+)\s*(\((?:[^()]|\([^()]*\))*\))?\s*"
        r"(?:PARTITIONED\s+BY\s*\(([^)]*)\))?\s*"
        r"STORED\s+AS\s+(\w+)(\s+LOCATION\s+'[^']+')?\s*$", text)
    if m:
        ine, name, cols, parts, fmt, loc = m.groups()
        fmt = {"textfile": "csv", "parquetfile": "parquet"}.get(
            fmt.lower(), fmt.lower())
        if fmt in ("parquet", "orc", "avro", "csv", "json"):
            cols_inner = cols[1:-1].strip() if cols else ""
            part_clause = ""
            if parts:
                entries = [p.strip() for p in parts.split(",") if p.strip()]
                names = [e.split()[0] for e in entries]
                typed = [e for e in entries if len(e.split()) > 1]
                if typed:
                    cols_inner = ", ".join(
                        x for x in ([cols_inner] if cols_inner else [])
                        + typed)
                part_clause = f" PARTITIONED BY ({', '.join(names)})"
            col_clause = f" ({cols_inner})" if cols_inner else ""
            return (f"CREATE TABLE {ine or ''}{name}{col_clause} "
                    f"USING {fmt}{part_clause}{loc or ''}")

    # token-level rewrites with literals/comments masked ---------------------
    chunk, stash = _mask_literals(text)
    # [broadcast] / [shuffle] hints after JOIN: Impala attaches the hint to
    # the join; Spark hints live after SELECT and name the table/alias.
    # "JOIN [broadcast] region r ON ..." -> hint BROADCAST(r), bracket removed.
    hints: list[str] = []

    def lift_hint(m: re.Match) -> str:
        kind = "BROADCAST" if m.group(1).lower() == "broadcast" else "SHUFFLE_HASH"
        tbl, alias = m.group(2), m.group(3)
        target = alias if alias and alias.upper() not in ("ON", "USING") else tbl
        hints.append(f"{kind}({target})")
        rest = f" {alias}" if alias and alias.upper() not in ("ON", "USING") else (
            f" {alias}" if alias else ""
        )
        return f"JOIN {tbl}{rest}"

    chunk = re.sub(
        r"\bJOIN\s*\[\s*(broadcast|shuffle)\s*\]\s+(\w+)(?:\s+(?!ON\b|USING\b)(?:AS\s+)?(\w+))?",
        lift_hint,
        chunk,
        flags=re.IGNORECASE,
    )
    if hints:
        chunk = re.sub(
            r"\bSELECT\b", f"SELECT /*+ {', '.join(hints)} */", chunk, count=1,
            flags=re.IGNORECASE,
        )
    # straight_join: Impala disables join reordering. Spark: CBO reorder
    # is off per-plan when hints exist; strip the keyword.
    chunk = re.sub(r"\bSELECT\s+STRAIGHT_JOIN\b", "SELECT", chunk, flags=re.IGNORECASE)
    # remaining bracket plan hints (opt_plan_hints LBRACKET ident_list
    # RBRACKET): INSERT-level [shuffle|noshuffle|clustered] (the pre-write
    # exchange — Spark AQE owns that choice) and scan-level
    # [schedule_*] replica placement (no HDFS replicas here) are
    # advisory: strip them. JOIN [broadcast|shuffle] was lifted above.
    # Safe: this grammar has no array subscripts, and only known hint
    # names are matched.
    chunk = re.sub(
        r"\[\s*(?:shuffle|noshuffle|clustered|straight_join|schedule_\w+)"
        r"(?:\s*,\s*\w+)*\s*\]",
        " ",
        chunk,
        flags=re.IGNORECASE,
    )
    # Impala accepts && as AND (sql-scanner lexer; used in the AMPLab
    # hive-benchmark workload: "pageRank > 10 && pageRank < 25").
    # Spark SQL does not. Literals are masked, so this cannot hit strings.
    chunk = re.sub(r"&&", " AND ", chunk)
    # RIGHT SEMI / RIGHT ANTI JOIN (sql-parser.y join_operator; Impala
    # returns the RIGHT side's rows). Spark only parses the LEFT forms, so
    # swap sides textually: everything between FROM and the operator
    # becomes the new right side (parenthesized when it is itself a join
    # chain — Spark accepts a parenthesized joined-table there), the
    # joined relation becomes the new left. Left-associativity keeps any
    # tail joins correct: (X RSJ C) JOIN D == (C LSJ X) JOIN D.
    _rsj = re.compile(
        r"\bFROM\s+(?P<left>.+?)\s+RIGHT\s+(?P<kind>SEMI|ANTI)\s+JOIN\s+"
        r"(?P<right>\w+(?:\.\w+)?(?:\s+(?:AS\s+)?(?!ON\b)\w+)?)\s+ON\s+"
        r"(?P<cond>.+?)"
        r"(?P<tail>\s+(?:(?:LEFT|RIGHT|FULL|INNER|CROSS)\s+(?:OUTER\s+)?"
        r"JOIN|JOIN|WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION)\b.*|$)",
        re.IGNORECASE | re.DOTALL,
    )
    def _last_toplevel_comma(s: str) -> int:
        depth, last = 0, -1
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                last = i
        return last

    def _split_at_unbalanced(s: str) -> tuple[str, str]:
        """Split s at the first unmatched ')' (the ON condition of a
        RIGHT SEMI/ANTI inside a derived table captures past the subquery's
        closing paren; everything from that paren on belongs to the tail)."""
        depth = 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return s[:i].rstrip(), s[i:]
        return s, ""

    pos = 0
    while True:
        m = _rsj.search(chunk, pos)
        if not m:
            break
        left = m.group("left").strip()
        # A FROM outside the subquery holding the RIGHT SEMI/ANTI captures
        # across a paren boundary (unbalanced left side): skip this FROM and
        # keep scanning — the inner FROM matches next with a balanced left.
        if left.count("(") != left.count(")"):
            pos = m.start() + len("FROM")
            continue
        # Comma join binds looser than JOIN: FROM a, b RIGHT SEMI JOIN c
        # means a CROSS (b RSJ c) — only the last relation swaps.
        prefix = ""
        lc = _last_toplevel_comma(left)
        if lc >= 0:
            prefix = left[: lc + 1] + " "
            left = left[lc + 1:].strip()
        cond, spill = _split_at_unbalanced(m.group("cond"))
        if re.search(r"\bJOIN\b", left, flags=re.IGNORECASE):
            left = f"({left})"
        chunk = (
            chunk[: m.start()]
            + f"FROM {prefix}{m.group('right')} LEFT "
            + f"{m.group('kind').upper()} JOIN "
            + f"{left} ON {cond}{spill}{m.group('tail')}"
        )
        pos = 0
    chunk = _rewrite_trunc(chunk, stash)
    chunk = _rewrite_functions(chunk)
    return _restore_literals(chunk, stash)
