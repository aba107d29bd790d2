"""Result checking: parse the program's formatted output and compare it,
order-insensitively and with a float tolerance, to DuckDB's answer on the
same parquet files (the comparison rules of the project's oracle check).
"""
import datetime
import hashlib
import json
import math
from decimal import Decimal

REL_TOL = 1e-9


def _cell(v):
    """Canonical cell: None, float, datetime or str."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day)
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join("" if x is None else str(_cell(x)) for x in v) + "]"
    s = str(v)
    if s == "":
        return None  # the table format prints NULL as an empty cell
    try:
        return float(s)
    except ValueError:
        pass
    if len(s) >= 19 and s[4] == "-" and s[10] == "T":
        try:
            return datetime.datetime.fromisoformat(s)
        except ValueError:
            pass
    return s


def _sort_key(row):
    return tuple((0, "") if c is None else
                 (1, f"{c:.6e}") if isinstance(c, float) else (2, str(c)) for c in row)


def canonical(headers, rows):
    return list(headers), sorted((tuple(_cell(c) for c in r) for r in rows), key=_sort_key)


def _same_cell(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def same(got, want):
    """`got`, `want`: (headers, rows) in canonical form. Returns None when
    equal, else a short reason."""
    (gh, gr), (wh, wr) = got, want
    if gh != wh:
        return f"columns {gh} != {wh}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if len(a) != len(b) or not all(_same_cell(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None


def parse_table(text):
    """Split an executeSql Table-format string into (headers, rows) per
    statement. An empty-schema result prints as '++' twice."""
    lines = text.split("\n")
    out, i = [], 0

    def cells(line):
        return [c[1:].rstrip() for c in line[1:-1].split("|")]

    while i < len(lines):
        if lines[i] == "++":
            out.append(([], []))
            i += 2
            continue
        border = lines[i]
        if not border.startswith("+-") or lines[i + 2] != border:
            raise ValueError(f"not a table at line {i}: {border[:60]!r}")
        headers = cells(lines[i + 1])
        j = i + 3
        rows = []
        while lines[j] != border:
            rows.append(cells(lines[j]))
            j += 1
        out.append((headers, rows))
        i = j + 1
    return out


def parse_json(text, columns):
    """Split a Json-format string (one array per statement, one per line)
    into rows ordered by `columns`; missing fields are NULLs."""
    out = []
    for line, cols in zip(text.split("\n"), columns):
        objs = json.loads(line)
        extra = {k for o in objs for k in o} - set(cols)
        if extra:
            raise ValueError(f"unexpected fields {sorted(extra)}")
        out.append((list(cols), [[o.get(c) for c in cols] for o in objs]))
    return out


def duck_results(con, stmts):
    """DuckDB's (headers, rows) per statement; None statements (DDL/DML)
    expect an empty result with no columns."""
    out = []
    for s in stmts:
        if s is None:
            out.append(([], []))
        else:
            cur = con.execute(s)
            out.append(([d[0] for d in cur.description], cur.fetchall()))
    return out


def check_output(text, fmt, want):
    """Compare one output string against DuckDB results; None when equal."""
    if fmt == "json":
        got = parse_json(text, [h for h, _ in want])
    else:
        got = parse_table(text)
    if len(got) != len(want):
        return f"{len(got)} results != {len(want)} statements"
    for k, (g, w) in enumerate(zip(got, want)):
        why = same(canonical(*g), canonical(*w))
        if why:
            return f"statement {k + 1}: {why}"
    return None


def result_rows(text, fmt):
    if fmt == "json":
        return sum(len(json.loads(line)) for line in text.split("\n"))
    return sum(len(r) for _, r in parse_table(text))


def digest(headers, rows):
    """Row count and order-insensitive hash of one result."""
    headers, rows = canonical(headers, rows)
    h = hashlib.sha256(json.dumps(headers).encode())
    for r in rows:
        h.update(repr(tuple(f"{c:.9g}" if isinstance(c, float) else c for c in r)).encode())
    return len(rows), h.hexdigest()[:16]
