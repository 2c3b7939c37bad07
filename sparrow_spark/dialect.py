"""MySQL-dialect front-end utilities.

The reference front-end normalizes statements before handing them to
its query engine (`fix_statement`, reference src/core/execution.rs:157-331):
it injects `FROM dual`, qualifies names, lowercases identifiers, and
substitutes @@system/@user variables at planning time (reference
src/variable/system.rs:42-68). Spark's analyzer already resolves names
case-insensitively, so this shim only covers the genuine dialect gaps:
statement classification, variable substitution, `dual`, and the
paren/quote-aware splitting the DDL/DML statements need.
"""

from __future__ import annotations

import re


def strip_comments(sql: str) -> str:
    """Remove /* */, -- and # comments, quote-aware for all three forms.

    Single-pass scanner rather than per-form regexes: a regex pass
    corrupts string literals containing comment markers ('a -- b',
    '/*x*/'), and quote-segmenting first mis-lexes comments that
    themselves contain quotes (/* don't */). MySQL rules: `--` starts a
    comment only when followed by whitespace/EOL (so 1--2 still parses);
    quoted strings honor doubled quotes and backslash escapes."""
    out: list[str] = []
    i, n = 0, len(sql)
    quote: str | None = None
    while i < n:
        c = sql[i]
        if quote:
            out.append(c)
            if c == "\\" and quote in ("'", '"') and i + 1 < n:
                out.append(sql[i + 1])
                i += 1
            elif c == quote:
                if i + 1 < n and sql[i + 1] == quote:
                    out.append(sql[i + 1])
                    i += 1
                else:
                    quote = None
            i += 1
        elif c in ("'", '"', "`"):
            quote = c
            out.append(c)
            i += 1
        elif c == "/" and sql[i : i + 2] == "/*":
            j = sql.find("*/", i + 2)
            out.append(" ")
            i = n if j < 0 else j + 2
        elif c == "-" and sql[i : i + 2] == "--":
            if i + 2 >= n or sql[i + 2] in " \t\r\n":
                j = sql.find("\n", i)
                out.append(" ")
                i = n if j < 0 else j
            else:
                # MySQL: -- without trailing whitespace is double minus
                # (SELECT 1--2 = 3). Spark strips -- comments
                # unconditionally, so split the pair to keep arithmetic.
                out.append("- ")
                i += 1
        elif c == "#":
            j = sql.find("\n", i)
            out.append(" ")
            i = n if j < 0 else j
        else:
            out.append(c)
            i += 1
    return "".join(out).strip().rstrip(";").strip()


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep at paren depth 0, respecting quoted strings."""
    parts: list[str] = []
    depth = 0
    quote: str | None = None
    cur: list[str] = []
    i = 0
    while i < len(s):
        c = s[i]
        if quote:
            cur.append(c)
            if c == quote:
                # doubled quote = escaped
                if i + 1 < len(s) and s[i + 1] == quote:
                    cur.append(s[i + 1])
                    i += 1
                else:
                    quote = None
        elif c in ("'", '"', "`"):
            quote = c
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            cur.append(c)
        elif c == sep and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


_WORD = re.compile(r"^\s*([A-Za-z_@]+)")


def first_words(sql: str, n: int = 3) -> list[str]:
    toks = re.findall(r"[A-Za-z_]+", sql[:120])
    return [t.upper() for t in toks[:n]]


# @@[session.|global.]name, @name and DATABASE(): the session state a
# statement may read, matched in one pass so that the text of a value
# already substituted is never expanded again.
_SESSION_REF = re.compile(
    r"@@(?:session\.|global\.)?([A-Za-z_][A-Za-z0-9_]*)"
    r"|@([A-Za-z_][A-Za-z0-9_]*)"
    r"|(?<![\w.])database\s*\(\s*\)",
    re.I,
)


def substitute_variables(
    sql: str,
    system_vars: dict[str, str],
    user_vars: dict[str, str],
    current_schema: str | None,
) -> str:
    """Replace @@[session.|global.]name, @name and DATABASE() with
    literals, the way the reference expands them at planning time.
    DATABASE() (the reference's one custom UDF, src/core/execution.rs:
    135-156) becomes the session's schema as a string literal, or a
    string-typed NULL when none is selected, so switching sessions
    registers nothing with Spark. Quoted strings are left untouched."""
    if not _SESSION_REF.search(sql):
        return sql

    def repl(m: re.Match) -> str:
        sys_name, user_name = m.groups()
        if sys_name:
            val = system_vars.get(sys_name.lower())
        elif user_name:
            val = user_vars.get(user_name.lower())
        elif current_schema is None:
            return "CAST(NULL AS STRING)"
        else:
            return _quote(current_schema)
        return _render(val) if val is not None else "NULL"

    return "".join(
        piece if quoted else _SESSION_REF.sub(repl, piece)
        for piece, quoted in _split_quotes(sql)
    )


def _render(val: str) -> str:
    if re.match(r"^-?\d+(\.\d+)?$", val):
        return val
    return _quote(val)


def _quote(val: str) -> str:
    # Double backslashes BEFORE quotes: Spark SQL treats \ as an escape
    # by default, so a value ending in '\' would otherwise escape the
    # closing quote (malformed statement / injection vector).
    return "'" + val.replace("\\", "\\\\").replace("'", "''") + "'"


def _split_quotes(sql: str):
    """Yield (piece, is_quoted) segments."""
    i = 0
    start = 0
    quote = None
    while i < len(sql):
        c = sql[i]
        if quote:
            if c == quote:
                if i + 1 < len(sql) and sql[i + 1] == quote:
                    i += 1
                else:
                    yield sql[start : i + 1], True
                    start = i + 1
                    quote = None
        elif c == "'" or c == '"':
            if i > start:
                yield sql[start:i], False
            start = i
            quote = c
        i += 1
    if start < len(sql):
        yield sql[start:], quote is not None


def strip_dual(sql: str) -> str:
    """`SELECT ... FROM dual` → table-less SELECT (Spark allows it).
    The reference instead materializes a 1-row `dual` MemTable
    (src/datafusion_impl/catalog/information_schema.rs:117-133)."""
    return re.sub(r"\bFROM\s+dual\b", "", sql, flags=re.I)


def like_to_regex(pattern: str) -> str:
    """MySQL LIKE pattern → anchored regex (for catalog filtering)."""
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def split_statements(sql: str) -> list[str]:
    """Split a multi-statement script on top-level semicolons
    (quote-aware; semicolons inside string literals are preserved).
    Empty statements are dropped."""
    out: list[str] = []
    buf: list[str] = []
    for piece, is_quoted in _split_quotes(sql):
        if is_quoted:
            buf.append(piece)
            continue
        while ";" in piece:
            head, piece = piece.split(";", 1)
            buf.append(head)
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
        buf.append(piece)
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out
