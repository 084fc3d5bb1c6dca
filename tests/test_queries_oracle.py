"""Local replica of the driver's correctness gate: run each registry query
in Spark AND its DuckDB oracle on the same parquet tables; compare row
count, column names, and the order-insensitive value multiset."""

import duckdb
import pytest

from logparser_llm_spark.plans.queries import QUERIES

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    return con


def _canon(rows, cols):
    # order-insensitive: sort columns by name, stringify, sort rows
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = [r[i] for i in order]
        out.append(tuple("" if v is None else str(v) for v in vals))
    return sorted(out)


def test_variables_udf_matches_canonical_functions(spark):
    """q_variables_extract's JVM columns (extract_template_col →
    extract_variables_col) agree with the Python references
    drain.extract_template/extract_variables on the actual sf corpus
    rows."""
    import duckdb as _duck

    from logparser_llm_spark.operators.drain import extract_template, extract_variables
    from logparser_llm_spark.plans.queries import QUERIES, clean_sql, EVENT_LINE_SQL

    con = _duck.connect()
    con.execute(f"create view events as select * from '{SF_DIR}/events.parquet'")
    cleaned_rows = con.execute(
        f"select event_id, {clean_sql(EVENT_LINE_SQL)} from events limit 500"
    ).fetchall()
    spark_rows = {
        r["event_id"]: (r["var_1"], r["var_2"])
        for r in QUERIES["variables_extract"][0](spark, SF_DIR).collect()
    }
    for eid, cleaned in cleaned_rows:
        v = extract_variables(cleaned, extract_template(cleaned))
        assert spark_rows[eid] == (v.get("var_1"), v.get("var_2"))


# driver's value-hash is byte-level: DuckDB HUGEINT (un-cast sum()) vs
# Spark BIGINT hash differently even when values stringify identically —
# the round-1 red cells. Map both sides to arrow-ish type names and compare.
_SPARK_TO_ARROW = {"bigint": "int64", "int": "int32", "double": "double",
                   "float": "float", "string": "string", "boolean": "bool"}


def _assert_dtypes_match(name, sdf, arrow_table):
    duck_types = {f.name: str(f.type) for f in arrow_table.schema}
    for col, styp in sdf.dtypes:
        mapped = _SPARK_TO_ARROW.get(styp)
        if mapped is None:
            continue  # arrays/structs/timestamps: value compare covers them
        dtyp = duck_types[col].replace("large_string", "string")
        assert dtyp == mapped, (
            f"{name}.{col}: spark {styp} vs duckdb arrow {duck_types[col]} "
            "(driver value-hash would mismatch)"
        )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    spark_fn, sql_fn = QUERIES[name]
    if sql_fn is None:
        pytest.skip("rows-only query")
    sdf = spark_fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(sql_fn(SF_DIR))
    arrow = res.fetch_arrow_table()
    _assert_dtypes_match(name, sdf, arrow)
    res = duck.execute(sql_fn(SF_DIR))
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    sc = _canon(srows, scols)
    dc = _canon(drows, dcols)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
