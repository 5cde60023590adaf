"""Syntactic validation for the capture DDL that sources/capture.py generates.

No live Pg/MySQL exists in this environment, so a syntax slip in the
generated trigger/table DDL (dbopt/PgOperation.scala:110-268 runs these
in production databases) would otherwise be invisible. Two layers close
that gap without a server:

1. `check_sql` — a quote-aware structural lint: single/double/backtick
   quotes must balance (with '' escape handling), parentheses must
   balance outside quotes, PostgreSQL dollar-quoted bodies must pair,
   and procedural blocks must close (BEGIN/END, IF/END IF). This catches
   the classic generator bugs: an unescaped quote in a condition, a
   dropped paren in a column list, a missing END IF.

2. dialect normalization (`to_duckdb`) — rewrites engine-specific
   tokens (BIGSERIAL, AUTO_INCREMENT, backtick quoting, trigger-row
   expressions) into DuckDB-executable SQL so tests can EXECUTE the
   statements for real: a full parse + bind check, much stronger than
   regexing. Trigger bodies can't run anywhere headless, but their inner
   INSERT statements can (`extract_inserts`), with the row-image
   expression (`row_to_json(NEW)` / `JSON_OBJECT(...)`) replaced by NULL.
"""

from __future__ import annotations

import re


def _scan(sql: str):
    """Yield (char, context) where context is None outside quotes or one
    of "'", '"', '`', '$$' inside the respective quoting."""
    i, n, ctx = 0, len(sql), None
    while i < n:
        c = sql[i]
        if ctx == "'":
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":  # '' escape
                    yield from ((c, ctx), (c, ctx))
                    i += 2
                    continue
                ctx = None
        elif ctx in ('"', "`"):
            if c == ctx:
                ctx = None
        elif ctx == "$$":
            if sql.startswith("$$", i):
                yield (c, ctx)
                yield (sql[i + 1], ctx)
                ctx = None
                i += 2
                continue
            if c == "'":
                # a string literal INSIDE the procedural body (e.g. a
                # user condition `note = 'foo('`): its content is data,
                # not code — parens/keywords in it must not count
                ctx = "$$'"
        elif ctx == "$$'":
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":  # '' escape
                    yield from ((c, "'"), (c, "'"))
                    i += 2
                    continue
                ctx = "$$"
                yield (c, ctx)
                i += 1
                continue
            yield (c, "'")
            i += 1
            continue
        else:
            if c in ("'", '"', "`"):
                ctx = c
            elif sql.startswith("$$", i):
                yield (c, "$$-open")
                yield (sql[i + 1], "$$-open")
                ctx = "$$"
                i += 2
                continue
        yield (c, ctx)
        i += 1
    if ctx is not None:
        raise SqlLintError(f"unterminated {ctx} quote")


class SqlLintError(ValueError):
    pass


def strip_quoted(sql: str) -> str:
    """The SQL with every quoted region (including $$ bodies treated as
    code — they ARE code in plpgsql) blanked to spaces; quote characters
    removed. Raises on unterminated quotes."""
    out = []
    for c, ctx in _scan(sql):
        if ctx is None:
            out.append(c)
        elif ctx == "$$":
            out.append(c)  # dollar-quoted body is procedural code: keep
        else:
            out.append(" ")  # string data, incl. literals inside $$
    return "".join(out)


def check_sql(sql: str, procedural: bool = False) -> None:
    """Raise SqlLintError on structural problems; return None if clean."""
    code = strip_quoted(sql)  # raises on unbalanced quotes
    depth = 0
    for ch in code:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                raise SqlLintError("unmatched ')'")
    if depth != 0:
        raise SqlLintError(f"{depth} unclosed '('")
    if sql.count("$$") % 2 != 0:
        raise SqlLintError("unpaired $$ quoting")
    if procedural:
        words = re.findall(r"\b(BEGIN|END IF|END|IF)\b", code, re.IGNORECASE)
        begins = sum(1 for w in words if w.upper() == "BEGIN")
        ends = sum(1 for w in words if w.upper() == "END")
        ifs = sum(1 for w in words if w.upper() == "IF")
        end_ifs = sum(1 for w in words if w.upper() == "END IF")
        if begins != ends:
            raise SqlLintError(f"BEGIN/END mismatch ({begins}/{ends})")
        if ifs != end_ifs:
            raise SqlLintError(f"IF/END IF mismatch ({ifs}/{end_ifs})")


_ROW_IMAGE = re.compile(
    r"row_to_json\((?:NEW|OLD)\)|JSON_OBJECT\(", re.IGNORECASE)


def _blank_json_object(sql: str) -> str:
    """Replace every JSON_OBJECT(...) call (balanced parens) with NULL."""
    out = []
    i = 0
    while True:
        m = re.search(r"JSON_OBJECT\(", sql[i:], re.IGNORECASE)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        start = i + m.start()
        out.append(sql[i:start])
        j, depth = start + m.end() - m.start(), 1
        while j < len(sql) and depth:
            if sql[j] == "(":
                depth += 1
            elif sql[j] == ")":
                depth -= 1
            j += 1
        out.append("NULL")
        i = j


def to_duckdb(sql: str) -> str:
    """Normalize dialect-specific tokens so DuckDB can EXECUTE the
    statement (parse + bind validation). Not a general translator — just
    the tokens our generators emit."""
    s = sql
    s = re.sub(r"`([^`]*)`", r'"\1"', s)  # backtick -> standard quoting
    # serial PKs become defaulted BIGINTs (no PK): keeps id-less INSERTs
    # bindable, which is the point of the validation
    s = re.sub(r"BIGINT PRIMARY KEY AUTO_INCREMENT", "BIGINT DEFAULT 0", s,
               flags=re.IGNORECASE)
    s = re.sub(r"BIGSERIAL PRIMARY KEY", "BIGINT DEFAULT 0", s,
               flags=re.IGNORECASE)
    s = re.sub(r"row_to_json\((?:NEW|OLD)\)", "NULL", s, flags=re.IGNORECASE)
    s = _blank_json_object(s)
    return s


def extract_inserts(trigger_ddl: str) -> list[str]:
    """The INSERT statements inside a generated trigger body — the part
    a live engine would actually execute per row."""
    return re.findall(r"INSERT INTO[^;]+;", trigger_ddl, re.IGNORECASE)
