"""Output checks for the registered-query workloads.

Each op's output (written by the harness's untimed pass) is compared with
the DuckDB oracle SQL from ``SparkEntry.oracleSql`` over the same input
tables, using the type-faithful normalisation of ``scripts/compare.py``
(taken from that file unchanged). An op with no oracle SQL fails its check.
"""
import ast
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare_helpers(root):
    """``norm`` and ``read_spark_parquet`` from the repo's compare script.
    Only its imports and those two functions are executed: the script's
    top level runs a whole verify pass."""
    path = os.path.join(root, "scripts", "compare.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    keep = [n for n in tree.body
            if isinstance(n, (ast.Import, ast.ImportFrom)) or
            (isinstance(n, ast.FunctionDef) and
             n.name in ("norm", "read_spark_parquet"))]
    ns = {}
    exec(compile(ast.Module(body=keep, type_ignores=[]), path, "exec"), ns)
    return ns["norm"], ns["read_spark_parquet"]


def check(root, data_dir, check_dir, names, oracle_sql):
    """Return {op: error or None} for every name."""
    norm, read_spark_parquet = compare_helpers(root)
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'")
    out = {}
    for name in names:
        pdir = os.path.join(check_dir, name)
        try:
            if name not in oracle_sql:
                out[name] = "no oracle SQL"
                continue
            got = read_spark_parquet(pdir)
            want = con.sql(oracle_sql[name]).df()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            out[name] = f"{type(e).__name__}: {e}"[:300]
            continue
        gcols, wcols = sorted(got.columns), sorted(want.columns)
        if gcols != wcols:
            out[name] = f"columns {gcols} != oracle {wcols}"
        elif len(got) != len(want):
            out[name] = f"rows {len(got)} != oracle {len(want)}"
        else:
            g = sorted(tuple(norm(v) for v in row)
                       for row in got[gcols].itertuples(index=False))
            w = sorted(tuple(norm(v) for v in row)
                       for row in want[wcols].itertuples(index=False))
            diff = [(a, b) for a, b in zip(g, w) if a != b][:2]
            out[name] = f"values differ: {diff}"[:300] if diff else None
    con.close()
    return out
