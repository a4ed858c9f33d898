"""Generate the ops-dedup fixture and its DuckDB oracle answers.

    python3 perfbench/fixture.py OUT_ROOT SF SEED QUERY...

Writes the parquet fixture with tools/regen_testdata.py under OUT_ROOT/sf<SF>,
drawing from SEED instead of the tool's fixed seed, then prints one JSON object
mapping each QUERY (a registered query name) to the value hash of its DuckDB oracle
answer (`table_hash` from tools/check_oracle.py). It runs as its own process
so the generator's and DuckDB's memory stay out of the benchmark driver's RSS.
"""

import contextlib
import importlib.util
import json
import os
import sys
import types

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def load_tool(name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(REPO, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate(out_root: str, sf: float, seed: int) -> str:
    regen = load_tool("regen_testdata")

    class _SeededNumpy(types.SimpleNamespace):
        def __getattr__(self, name):
            return getattr(np, name)

    regen.np = _SeededNumpy(
        random=types.SimpleNamespace(default_rng=lambda _fixed: np.random.default_rng(seed)))
    regen.ROOT = out_root
    with contextlib.redirect_stdout(sys.stderr):
        regen.gen_sf(sf)
    return os.path.join(out_root, f"sf{sf:g}")


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, str]:
    import duckdb

    from athena_delta_lake_spark.queries import registry
    from athena_delta_lake_spark.queries.base import TABLES

    table_hash = load_tool("check_oracle").table_hash
    reg = registry()
    by_sql: dict[str, str] = {}
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            sql = reg[name].oracle
            if sql not in by_sql:  # d03 and d04 share their oracle
                res = con.execute(sql)
                by_sql[sql] = table_hash([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    return {name: by_sql[reg[name].oracle] for name in names}


def main() -> int:
    out_root, sf, seed, names = sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), sys.argv[4:]
    sf_dir = generate(out_root, sf, seed)
    print(json.dumps(oracle_hashes(sf_dir, names)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
