#!/usr/bin/env python3
"""Fill or check the expected blocks of graft's slt corpus with DuckDB.

The corpus (`src/test/resources/slt/tests/slt/**/*.slt`, fixtures in
`src/test/resources/slt/tests/csv`) is replayed against graft's SQL
surface by `graft.SltReplaySpec`. Its expected rows come from DuckDB
1.0.0, never from graft: this script runs every record through DuckDB
the way the spec runs it through Spark and writes (or, with `--check`,
compares) each `query` record's expected block.

    python3 tools/slt_oracle.py            # rewrite expected blocks in place
    python3 tools/slt_oracle.py --check    # exit 1 if any block differs
    python3 tools/slt_oracle.py --check select.slt join.slt

What it mirrors from the spec, so both engines see the same input:
  - fixtures: every `tests/csv/*.csv` is a view named by its stem, with
    an empty varchar field read as '' and an empty numeric field as NULL;
    each .slt file starts from a fresh catalog, and `create table x`
    drops a fixture view named x first;
  - records: one statement per line in `statement ok|error` records (an
    error record passes when any of its lines fails); a query's lines
    are joined with spaces; skipif/onlyif lines are ignored;
  - shims: `read_csv('p', header=>false, delim=>'|')` becomes a scan
    view with headerless columns named column_1..n, a bare-path
    `FROM 'p.csv' [alias]` becomes a view named by the file stem,
    `X unsigned` becomes X, `'tests/...` resolves against the corpus
    root, and the catalog forms (`show tables`, `describe t`,
    `template_query_tables()`, `template_query_columns()`) are answered
    from DuckDB's own catalog in the spec's row shape;
  - rendering (the spec's slt rules): columns joined by one space, NULL
    for null, `(empty)` for '', an integral double as an integer, a
    decimal without trailing zeros, a midnight timestamp as its date,
    other doubles and timestamps as Java prints them;
  - comparison: a query without ORDER BY (or marked rowsort) is a
    multiset, so its block is written sorted.

Relative `'target/...'` paths (COPY TO targets and what reads them
back) are redirected to `target/slt_oracle/...`, so the oracle never
writes where the spec does, and never under `src/`. The column-type
letters after `query` (I integer, R float/decimal, T other) are written
from DuckDB's result types; `explain` records keep DuckDB's plan text,
one line per non-blank plan line (the spec does not replay explain.slt).
"""
import datetime
import decimal
import re
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
CORPUS = ROOT / "src" / "test" / "resources" / "slt"
SLT_DIR = CORPUS / "tests" / "slt"
CSV_DIR = CORPUS / "tests" / "csv"
TARGET = ROOT / "target" / "slt_oracle"

READ_CSV_RE = re.compile(r"read_csv\('([^']+)'([^)]*)\)", re.I)
BARE_PATH_RE = re.compile(
    r"from\s+'([^']+\.csv)'"
    r"(\s+(?!where\b|group\b|order\b|limit\b|join\b|on\b|union\b|having\b)(\w+))?",
    re.I)
CREATE_TABLE_RE = re.compile(r"\s*create\s+table\s+(\w+).*", re.I | re.S)
DESCRIBE_RE = re.compile(r"\s*describe\s+(\w+)\s*", re.I)
SHOW_TABLES_RE = re.compile(r"\s*show\s+tables\s*", re.I)
# the spec's reference type names for catalog renderings
REF_TYPES = {"INTEGER": "Integer", "BIGINT": "BigInt", "VARCHAR": "Varchar",
             "BOOLEAN": "Boolean", "DOUBLE": "Double"}


class Rec:
    def __init__(self, kind, head, sql, expected, start, sep, end):
        self.kind = kind          # "ok" | "error" | "query"
        self.head = head          # the `statement ...` / `query ...` line
        self.sql = sql            # SQL lines, trimmed
        self.expected = expected  # expected lines, trimmed
        self.start = start        # index of the head line
        self.sep = sep            # index of `----`, or None
        self.end = end            # index one past the record's last line

    @property
    def rowsort(self):
        return "rowsort" in self.head.split()[2:]

    @property
    def ordered(self):
        sql = " ".join(self.sql).lower()
        return not self.rowsort and ("order by" in sql or sql.startswith("explain"))


def parse(lines):
    """The spec's parser, keeping each record's line span."""
    out, i = [], 0
    while i < len(lines):
        line = lines[i].strip()
        if not line or line.startswith("#"):
            i += 1
            continue
        while i < len(lines) and lines[i].strip().startswith(("skipif ", "onlyif ")):
            i += 1
        if i >= len(lines) or not lines[i].strip() or lines[i].strip().startswith("#"):
            i += 1
            continue
        head, start = lines[i].strip(), i
        i += 1
        if head.startswith("statement"):
            sql = []
            while i < len(lines) and lines[i].strip():
                sql.append(lines[i].strip())
                i += 1
            out.append(Rec("error" if "error" in head else "ok", head, sql, [], start, None, i))
        elif head.startswith("query"):
            sql = []
            while i < len(lines) and lines[i].strip() not in ("----", ""):
                sql.append(lines[i].strip())
                i += 1
            expected, sep = [], None
            if i < len(lines) and lines[i].strip() == "----":
                sep = i
                i += 1
                while i < len(lines) and lines[i].strip():
                    expected.append(lines[i].strip())
                    i += 1
            out.append(Rec("query", head, sql, expected, start, sep, i))
    return out


# ---- rendering (the spec's slt rules) -------------------------------

def java_double(d):
    """Double.toString for a finite non-integral double."""
    if 1e-3 <= abs(d) < 1e7:
        return repr(d)
    sign, digits, exp = decimal.Decimal(repr(d)).as_tuple()
    ds = "".join(map(str, digits))
    e10 = len(ds) + exp - 1
    ds = ds.rstrip("0") or "0"
    return ("-" if sign else "") + ds[0] + "." + (ds[1:] or "0") + "E" + str(e10)


def render(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v if v else "(empty)"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v == v and v not in (float("inf"), float("-inf")) and v == round(v):
            return str(int(v))
        return java_double(v)
    if isinstance(v, decimal.Decimal):
        n = v.normalize()
        return format(n, "f") if n != 0 else "0"
    if isinstance(v, datetime.datetime):
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        frac = ("%06d" % v.microsecond).rstrip("0") or "0"
        return v.strftime("%Y-%m-%d %H:%M:%S") + "." + frac
    if isinstance(v, datetime.date):
        return v.isoformat()
    raise TypeError(f"no slt rendering for {type(v).__name__}: {v!r}")


def type_letter(t):
    t = str(t).upper()
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "I"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "R"
    return "T"


# ---- one file against DuckDB ----------------------------------------

class Runner:
    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 1")
        self.fixtures = set()
        for c in sorted(CSV_DIR.glob("*.csv")):
            scan = f"read_csv('{c}', header = true)"
            cols = self.con.execute(f"DESCRIBE SELECT * FROM {scan}").fetchall()
            sel = ", ".join(
                f"coalesce(\"{n}\", '') AS \"{n}\"" if t == "VARCHAR" else f"\"{n}\""
                for n, t, *_ in cols)
            self.con.execute(f"CREATE TEMP VIEW {c.stem} AS SELECT {sel} FROM {scan}")
            self.fixtures.add(c.stem)

    def tables(self):
        return [r[0] for r in self.con.execute(
            "SELECT table_name FROM duckdb_tables() WHERE NOT temporary "
            "ORDER BY table_name").fetchall()]

    def describe(self, t):
        cols = self.con.execute(
            "SELECT column_name, data_type FROM duckdb_columns() "
            "WHERE table_name = ? ORDER BY column_index", [t]).fetchall()
        if not cols:
            raise duckdb.CatalogException(f"describe: no table {t}")
        return (t, "[" + ", ".join(n for n, _ in cols) + "]",
                "[" + ", ".join(REF_TYPES.get(ty, ty.capitalize()) for _, ty in cols) + "]")

    def catalog_table(self, name, columns, rows):
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE {name} ({columns})")
        if rows:
            self.con.executemany(
                f"INSERT INTO {name} VALUES ({', '.join('?' * len(rows[0]))})", rows)

    def shim(self, sql):
        low = sql.lower()
        if "template_query_tables()" in low:
            self.catalog_table("slt_catalog_tables",
                              "schema_name VARCHAR, schema_oid INTEGER, table_name VARCHAR",
                              [("main", 1, t) for t in self.tables()])
            sql = re.sub(r"template_query_tables\(\)", "slt_catalog_tables", sql, flags=re.I)
        if "template_query_columns()" in low:
            self.catalog_table("slt_catalog_columns",
                              "table_name VARCHAR, column_names VARCHAR, column_types VARCHAR",
                              [self.describe(t) for t in self.tables()])
            sql = re.sub(r"template_query_columns\(\)", "slt_catalog_columns", sql, flags=re.I)

        def path(p):
            if p.startswith("tests/"):
                return str(CORPUS / p)
            if p.startswith("target/"):
                out = TARGET / p[len("target/"):]
                out.parent.mkdir(parents=True, exist_ok=True)
                return str(out)
            return p

        if not low.strip().startswith("copy"):
            def bare(m):
                stem = Path(m.group(1)).name[:-len(".csv")]
                self.con.execute(f"CREATE OR REPLACE TEMP VIEW {stem} AS "
                                 f"SELECT * FROM read_csv('{path(m.group(1))}', header = true)")
                return "from " + stem + (" " + m.group(3) if m.group(3) else "")
            sql = BARE_PATH_RE.sub(bare, sql)

        def read_csv(m):
            p, opts = m.group(1), m.group(2)
            header = "header=>false" not in opts.lower()
            dm = re.search(r"delim=>'([^']+)'", opts)
            delim = dm.group(1) if dm else ","
            view = "slt_csv_" + re.sub(r"\W", "_", Path(p).name)
            scan = (f"read_csv('{path(p)}', header = {str(header).lower()}, "
                    f"delim = '{delim}')")
            sel = "*"
            if not header:  # the spec names headerless columns column_1..n
                raw = self.con.execute(f"DESCRIBE SELECT * FROM {scan}").fetchall()
                sel = ", ".join(f"\"{r[0]}\" AS column_{i + 1}" for i, r in enumerate(raw))
            self.con.execute(f"CREATE OR REPLACE TEMP VIEW {view} AS SELECT {sel} FROM {scan}")
            return view
        sql = READ_CSV_RE.sub(read_csv, sql)

        sql = re.sub(r"\b(tinyint|smallint|int|integer|bigint)\s+unsigned\b", r"\1", sql, flags=re.I)
        return re.sub(r"'((?:tests|target)/[^']*)'", lambda m: "'" + path(m.group(1)) + "'", sql)

    def statement(self, line):
        sql = self.shim(line.rstrip(";"))
        m = CREATE_TABLE_RE.fullmatch(sql)
        if m and m.group(1) in self.fixtures:  # the table shadows the fixture
            self.fixtures.discard(m.group(1))
            self.con.execute(f"DROP VIEW {m.group(1)}")
        try:
            self.con.execute(sql)
            return None
        except duckdb.Error as e:
            return str(e).splitlines()[0]

    def query(self, rec):
        joined = " ".join(s.rstrip(";") for s in rec.sql).strip()
        if SHOW_TABLES_RE.fullmatch(joined):
            return "TT", [f"main {t}" for t in self.tables()]
        m = DESCRIBE_RE.fullmatch(joined)
        if m:
            return "TTT", [" ".join(self.describe(m.group(1)))]
        res = self.con.sql(self.shim(joined))
        types = "".join(type_letter(t) for t in res.types)
        rows = res.fetchall()
        if joined.lower().startswith("explain"):
            return "T", [l.rstrip() for r in rows for l in r[-1].splitlines() if l.strip()]
        return types, [" ".join(render(v) for v in r).rstrip() for r in rows]


def norm(lines):
    return [re.sub(r"\s+", " ", l.strip()) for l in lines]


def run_file(f, check):
    """Returns the list of problems; rewrites f in fill mode."""
    lines = f.read_text(encoding="utf-8").split("\n")
    runner, problems, edits = Runner(), [], []
    for rec in parse(lines):
        where = f"{f.relative_to(SLT_DIR)}:{rec.start + 1}"
        if rec.kind in ("ok", "error"):
            errs = [e for e in map(runner.statement, rec.sql) if e]
            if rec.kind == "ok" and errs:
                problems.append(f"{where} statement failed in DuckDB: {errs[0]}")
            if rec.kind == "error" and not errs:
                problems.append(f"{where} expected an error, DuckDB succeeded")
            continue
        try:
            types, rows = runner.query(rec)
        except duckdb.Error as e:
            problems.append(f"{where} query failed in DuckDB: {str(e).splitlines()[0]}")
            continue
        if not rec.ordered:
            rows = sorted(rows)
        head = rec.head.split()
        new_head = " ".join([head[0], types] + head[2:])
        if check:
            exp = norm(rec.expected)
            exp = exp if rec.ordered else sorted(exp)
            if exp != norm(rows) or rec.sep is None:
                problems.append(f"{where} expected block differs from DuckDB\n"
                                f"  committed: {' | '.join(exp)}\n  duckdb:    {' | '.join(rows)}")
            if len(head) < 2 or head[1] != types:
                problems.append(f"{where} column types {head[1:2]} differ from DuckDB's {types}")
        else:
            body_end = rec.sep if rec.sep is not None else rec.end
            edits.append((rec.start, rec.end, [new_head] + lines[rec.start + 1:body_end] + ["----"] + rows))
    if not check and edits:
        out = list(lines)
        for start, end, repl in reversed(edits):
            out[start:end] = repl
        text = "\n".join(out)
        if text != "\n".join(lines):
            f.write_text(text, encoding="utf-8")
            print(f"updated {f.relative_to(ROOT)}")
    return problems


def main(argv):
    check = "--check" in argv
    names = [a for a in argv if not a.startswith("--")]
    if duckdb.__version__ != "1.0.0":
        print(f"warning: expected blocks are pinned to DuckDB 1.0.0, running {duckdb.__version__}",
              file=sys.stderr)
    if not SLT_DIR.is_dir():
        sys.exit(f"slt corpus directory not found: {SLT_DIR}")
    files = sorted(SLT_DIR.rglob("*.slt"), key=lambda p: p.name)
    if names:
        files = [f for f in files if f.name in names]
    problems = []
    for f in files:
        problems += run_file(f, check)
    for p in problems:
        print(p)
    print(f"{len(files)} files, {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
