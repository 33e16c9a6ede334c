"""Compare the warm-up pass's query outputs with their DuckDB oracles.

Mirrors the normalization of the repository's oracle compare: columns
sorted by name, floats rounded to 6 places (NaN kept as a token), rows
sorted, then compared exactly.
"""
import glob
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def _rows(df, cols):
    return sorted(tuple(_norm(v) for v in r)
                  for r in df[cols].itertuples(index=False))


def compare(check_dir, table_dir, oracle):
    """Return [(query, ok, detail)] for each query in `oracle`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{table_dir}/{t}.parquet'")
    out = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{check_dir}/{name}/*.parquet")
        if not files:
            out.append((name, False, "no output"))
            continue
        try:
            odf = con.sql(sql).df()
            sdf = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        except Exception as e:  # an oracle error is a failed check
            out.append((name, False, f"oracle error: {e}"))
            continue
        ocols, scols = sorted(odf.columns), sorted(sdf.columns)
        if ocols != scols:
            out.append((name, False, f"schema {scols} vs oracle {ocols}"))
            continue
        orows, srows = _rows(odf, ocols), _rows(sdf, ocols)
        if len(orows) != len(srows):
            out.append((name, False,
                        f"rows {len(srows)} vs oracle {len(orows)}"))
        elif orows != srows:
            diff = [(s, o) for s, o in zip(srows, orows) if s != o]
            out.append((name, False, f"{len(diff)} rows differ; first "
                        f"spark={diff[0][0]} oracle={diff[0][1]}"))
        else:
            out.append((name, True, f"{len(srows)} rows"))
    con.close()
    return out
