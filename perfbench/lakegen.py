"""Seeded lake generator.

Builds the benchmark lake from the base tables in `data/base` with the
replication rules of the repository's sf1 lake script (`tools/make_sf1.py`):

  - region, nation, customer, supplier, part: copied byte for byte;
  - orders, lineitem: orderkey += r * 1_000_000 per replica r;
  - events: event_id += r * 1_000_000 (user_id and ts unchanged);
  - documents: doc_id += r * 100_000, and every replica r >= 1 gets one
    suffix token, so replicas are near duplicates rather than exact clones;
  - embeddings: vec_id += r * 100_000.

The seed only picks the suffix tokens (one per replica, always six letters, so
document lengths do not depend on the seed). The replication factor is fixed
by the caller (`REPLICAS` in `run.py`). DuckDB runs single-threaded with an
explicit row order, so one seed always gives a byte-identical lake.
"""
import hashlib
import json
import os
import random
import shutil

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "base")
DIMS = ["region", "nation", "customer", "supplier", "part"]
# table -> (key column, per-replica key offset)
FACTS = {
    "orders": ("o_orderkey", 1_000_000),
    "lineitem": ("l_orderkey", 1_000_000),
    "events": ("event_id", 1_000_000),
    "documents": ("doc_id", 100_000),
    "embeddings": ("vec_id", 100_000),
}
TABLES = DIMS + list(FACTS)


def suffix_tokens(seed, replicas):
    rng = random.Random(seed)
    return [""] + ["".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(6))
                   for _ in range(1, replicas)]


def generate(out_dir, seed, replicas):
    """Write the lake for `seed` to `out_dir`; return per-table row counts and
    a digest over every file's bytes."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET preserve_insertion_order = true")
    for t in DIMS:
        shutil.copyfile(os.path.join(BASE, f"{t}.parquet"),
                        os.path.join(out_dir, f"{t}.parquet"))
    toks = suffix_tokens(seed, replicas)
    con.execute("CREATE TABLE tok(r INTEGER, tok VARCHAR)")
    con.executemany("INSERT INTO tok VALUES (?, ?)", list(enumerate(toks)))
    for t, (key, off) in FACTS.items():
        src = os.path.join(BASE, f"{t}.parquet")
        mx = con.execute(f"SELECT max({key}) FROM '{src}'").fetchone()[0]
        assert mx < off, f"{t}.{key} max={mx} >= replica offset {off}"
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM '{src}'").fetchall()]
        sel = []
        for c in cols:
            if c == key:
                sel.append(f"{c} + r.r * {off} AS {c}")
            elif t == "documents" and c == "text":
                sel.append("CASE WHEN r.r = 0 THEN text ELSE text || ' ' || tok.tok END AS text")
            else:
                sel.append(c)
        con.execute(f"""
            COPY (SELECT {', '.join(sel)}
                  FROM read_parquet('{src}', file_row_number = true) s,
                       range({replicas}) r(r) JOIN tok ON tok.r = r.r
                  ORDER BY r.r, s.file_row_number)
            TO '{os.path.join(out_dir, t + '.parquet')}'
            (FORMAT PARQUET, COMPRESSION SNAPPY)""")
    rows = {t: con.execute(f"SELECT count(*) FROM '{os.path.join(out_dir, t + '.parquet')}'")
            .fetchone()[0] for t in TABLES}
    con.close()
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(out_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    manifest = {"seed": seed, "replicas": replicas, "rows": rows, "sha256": h.hexdigest()}
    with open(os.path.join(out_dir, "lake.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
