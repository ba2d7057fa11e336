"""Output check for llm_operator_mix: each query's parquet result against its
oracleSql run by DuckDB on the same sf tables. Columns are compared sorted by
name, rows in order, values exactly (floats by repr), the same comparison the
engine's correctness gate makes.

The tables are fixed, so an oracle's result depends only on its SQL text and
the table files. It is kept under the cache directory, keyed by a hash of
both, and computed again only when either changes."""
import hashlib
import json
import math
import pickle
from pathlib import Path

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return v


def _rows(df):
    df = df[sorted(df.columns)]
    return list(df.columns), [tuple(_cell(v) for v in r)
                              for r in df.itertuples(index=False)]


def _tables_digest(sf_dir: Path):
    h = hashlib.sha256()
    for t in TABLES:
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            h.update(t.encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def check(sf_dir: Path, out_dir: Path, cache_dir: Path):
    """Returns one line per mismatching or unreadable query."""
    import duckdb
    con = None
    tables = _tables_digest(sf_dir)
    cache_dir.mkdir(parents=True, exist_ok=True)

    def oracle_rows(sql):
        nonlocal con
        key = hashlib.sha256((tables + sql).encode()).hexdigest()
        cached = cache_dir / f"{key}.pkl"
        if cached.exists():
            return pickle.loads(cached.read_bytes())
        if con is None:
            con = duckdb.connect()
            con.execute("SET TimeZone='UTC'")
            for t in TABLES:
                if (sf_dir / f"{t}.parquet").exists():
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{sf_dir / (t + '.parquet')}'")
        rows = _rows(con.execute(sql).fetchdf())
        cached.write_bytes(pickle.dumps(rows))
        return rows

    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            want_cols, want = oracle_rows(sql)
            got_cols, got = _rows(duckdb.connect().execute(
                f"SELECT * FROM '{out_dir / name}/*.parquet'").fetchdf())
        except Exception as e:  # an unreadable result is a mismatch too
            bad.append(f"{name}: {type(e).__name__}: {e}")
            continue
        if want_cols != got_cols:
            bad.append(f"{name}: columns {got_cols} != oracle {want_cols}")
        elif len(want) != len(got):
            bad.append(f"{name}: {len(got)} rows != oracle {len(want)}")
        else:
            diff = [i for i, (a, b) in enumerate(zip(want, got)) if a != b]
            if diff:
                bad.append(f"{name}: {len(diff)} rows differ, first at {diff[0]}")
    return bad
