"""Catalog-wide smoke + oracle parity at sf0.001 (fast tier; the driver's
harness and tools/check_oracle.py run the same compare at sf0.01)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from hive_udf_neologd_spark.catalog import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.map(lambda v: "<null>" if v is None or v != v else (repr(v) if isinstance(v, float) else str(v)))
    return out.sort_values(by=list(out.columns), ignore_index=True) if len(out) else out


def test_catalog_complete():
    assert len(QUERIES) >= 30
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    sql = ORACLES.get(name)
    if sql is None:
        assert len(sdf) >= 0  # rows-only contract
        return
    ddf = duck.execute(sql).fetch_df()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf)
    a, b = _canon(sdf), _canon(ddf)
    pd.testing.assert_frame_equal(a, b)


def test_q34_hll_estimate_within_bound(spark, duck):
    """q34 is oracle-gated via its self-check column: the HLL estimate must
    sit within 2% of Spark's own exact countDistinct (rsd=0.01 → wide
    margin), and the exact counts must equal DuckDB's."""
    sdf = (
        QUERIES["q34_approx_distinct"](spark, SF_DIR)
        .toPandas()
        .set_index("c_mktsegment")
    )
    assert sdf["estimate_within_2pct"].all()
    exact = duck.execute(
        """
        SELECT c_mktsegment, COUNT(DISTINCT o_custkey) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    ).fetch_df().set_index("c_mktsegment")
    for seg, row in exact.iterrows():
        assert sdf.loc[seg, "n_customers"] == row["n"]


def test_u01_rounds_ties_like_sql(spark, tmp_path):
    """u01's pct = ROUND(rnk / n, 4) rounds a tie half away from zero like
    its SQL oracle: with 800 customers in one segment, rank 3 is 0.00375
    → 0.0038 (Python's round on the double gives 0.0037)."""
    n = 800
    pd.DataFrame(
        {
            "c_custkey": pd.Series(range(1, n + 1), dtype="int64"),
            "c_mktsegment": ["BUILDING"] * n,
            "c_acctbal": [float(i) for i in range(n)],
        }
    ).to_parquet(tmp_path / "customer.parquet", index=False)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{tmp_path}/customer.parquet')"
    )
    name = "u01_applyinpandas_rank"
    sdf = QUERIES[name](spark, str(tmp_path)).toPandas()
    ddf = con.execute(ORACLES[name]).fetch_df()
    con.close()
    assert ddf["pct"].tolist()[2] == 0.0038
    pd.testing.assert_frame_equal(_canon(sdf), _canon(ddf))


# Top-level names kept although nothing references them, each with its reason.
_UNREFERENCED_ALLOWED = {
    # The reference UDF's 10 s connect bound.  urllib has one timeout for
    # connect and read, so only the 60 s read bound is passed; the constant
    # records the reference value that bound stands in for.
    "CONNECT_TIMEOUT_SEC",
}


def test_no_unreferenced_package_names():
    """Every top-level def, class and simple assignment in the package is
    referenced somewhere: its name occurs as a whole word at least twice
    (definition plus one use) across the repository's Python files."""
    import ast
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    package = root / "hive_udf_neologd_spark"
    files = [
        *package.rglob("*.py"),
        *(root / "tests").rglob("*.py"),
        *(root / "tools").rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    corpus = "\n".join(p.read_text(encoding="utf-8") for p in files)

    defined = set()
    for path in package.rglob("*.py"):
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            mod = ".".join(path.relative_to(root).with_suffix("").parts)
            defined.update((mod, n) for n in names if not n.startswith("__"))

    unreferenced = sorted(
        f"{mod}.{name}"
        for mod, name in defined
        if name not in _UNREFERENCED_ALLOWED
        and len(re.findall(rf"\b{re.escape(name)}\b", corpus)) < 2
    )
    assert unreferenced == []
