"""Output checks for one benchmark run, in DuckDB, outside the timed window.

The JVM lists what to check; each check names the operation and pass whose
output it covers:

  sql  -- `got` (a query over landed files) must equal `want` (a query over
          the lake) exactly: the same column names and the same multiset of
          rows, every cell compared as its string form (the rules of the
          repo's oracle comparison, evaluated inside DuckDB).
  ctl  -- the CTL manifest's RecordCount equals the rows of its data files,
          and its checksum is the SHA-256 of the one landed file, or for a
          directory the SHA-256 of the per-file hex digests in file order.
"""
import csv
import hashlib

import duckdb

from lakegen import TABLES


def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _columns(con, sql):
    return sorted(r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall())


def _sql(con, c):
    gc, wc = _columns(con, c["got"]), _columns(con, c["want"])
    if gc != wc:
        return f"columns {gc} vs {wc}"
    cols = ", ".join(f'CAST("{x}" AS VARCHAR) AS "{x}"' for x in gc)
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT {cols} FROM ({c['got']})")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS SELECT {cols} FROM ({c['want']})")
    ng, nw, diff = con.execute(
        "SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want), "
        "(SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))").fetchone()
    if ng != nw:
        return f"rows {ng} vs {nw}"
    return f"{diff} rows differ" if diff else None


def _ctl(con, c):
    with open(c["ctl"], newline="") as f:
        rec = list(csv.DictReader(f))[0]
    rows = sum(con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
               for p in c["files"])
    if int(rec["RecordCount"]) != rows:
        return f"RecordCount {rec['RecordCount']} vs {rows} landed rows"
    if c["multi"]:
        want = hashlib.sha256("".join(_sha256(p) for p in c["files"]).encode()).hexdigest()
    else:
        want = _sha256(c["files"][0])
    if rec["Checksum"] != want:
        return f"checksum {rec['Checksum']} vs {want}"
    return None


def run(checks, lake_dir):
    """Return [(op, pass, message)] for every failed check."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')")
    failures = []
    for c in checks:
        try:
            if c["kind"] == "sql":
                msg = _sql(con, c)
            elif c["kind"] == "ctl":
                msg = _ctl(con, c)
            else:
                msg = f"unknown check kind {c['kind']}"
        except Exception as e:  # a check that cannot run is a failed check
            msg = f"{type(e).__name__}: {e}"
        if msg:
            failures.append((c["op"], c["pass"], f"{c['kind']}: {msg}"))
    con.close()
    return failures
