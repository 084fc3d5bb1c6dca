"""operators/fuzzy.py — FastSS edit-distance-1 fuzzy self-join."""

import pytest
from pyspark.sql import functions as F  # noqa: F401


def _pairs(spark, rows):
    from logparser_llm_spark.operators.fuzzy import fuzzy_join_ed1

    df = spark.createDataFrame(rows, "id long, s string")
    return {(r["id1"], r["id2"]): r["ed"]
            for r in fuzzy_join_ed1(df, "id", "s").collect()}


def test_all_three_edit_kinds_and_exact(spark):
    """Substitution, deletion, insertion each pair at ed 1; identical
    strings pair at ed 0; an unrelated string pairs with nothing."""
    rows = [(1, "abcd"), (2, "abzd"), (3, "abd"), (4, "qabcd"),
            (5, "abcd"), (6, "zzzz")]
    got = _pairs(spark, rows)
    assert got[(1, 2)] == 1      # substitution
    assert got[(1, 3)] == 1      # deletion
    assert got[(1, 4)] == 1      # insertion
    assert got[(1, 5)] == 0      # exact duplicate
    assert not any(6 in p for p in got)


def test_distance_two_candidates_die_at_verify(spark):
    """A transposition ('ab' vs 'ba') SHARES deletion keys, so it
    enters the candidate set — and must be killed by the exact
    levenshtein verify (ed = 2). Likewise two different substitutions
    of one stem."""
    got = _pairs(spark, [(1, "ab"), (2, "ba")])
    assert got == {}
    got = _pairs(spark, [(1, "abcd"), (2, "zbcd"), (3, "azcd")])
    assert (1, 2) in got and (1, 3) in got and (2, 3) not in got


def test_null_excluded_and_overlong_raises(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from logparser_llm_spark.operators.fuzzy import fuzzy_join_ed1

    rows = [(1, "abc"), (2, None), (3, "abc")]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {(r["id1"], r["id2"]) for r in fuzzy_join_ed1(df, "id", "s").collect()}
    assert got == {(1, 3)}

    longrow = spark.createDataFrame([(1, "x" * 300)], "id long, s string")
    # the woven assert_true surfaces as the raw JVM failure or, depending
    # on session state, as PySpark's converted SparkRuntimeException
    # [USER_RAISED_EXCEPTION]; both carry the assert's message
    with pytest.raises((Py4JJavaError, SparkRuntimeException)) as excinfo:
        fuzzy_join_ed1(longrow, "id", "s").collect()
    assert "fuzzy_join_ed1: string over" in str(excinfo.value)


def test_matches_bruteforce_duckdb_unit_scale(spark):
    import duckdb

    from logparser_llm_spark.operators.fuzzy import (
        fuzzy_join_ed1,
        fuzzy_join_ed1_oracle_sql,
    )

    import hashlib
    rows = []
    for i in range(60):
        b = hashlib.md5(str(i // 4).encode()).hexdigest()[:8]
        if i % 4 == 1:
            b = b[:2] + "z" + b[3:]
        elif i % 4 == 2:
            b = b[1:]
        rows.append((i, b))
    df = spark.createDataFrame(rows, "id long, s string")
    got = sorted(map(tuple, fuzzy_join_ed1(df, "id", "s").collect()))
    con = duckdb.connect()
    con.execute("create table t (id bigint, s varchar)")
    con.executemany("insert into t values (?, ?)", rows)
    sql = fuzzy_join_ed1_oracle_sql(rel="t", id_col="id", str_col="s")
    assert got == sorted(map(tuple, con.execute(sql).fetchall()))


def test_partition_invariance(spark):
    from logparser_llm_spark.operators.fuzzy import fuzzy_join_ed1

    rows = [(i, f"w{i // 3:04d}" + ("x" if i % 3 == 1 else ""))
            for i in range(90)]
    df = spark.createDataFrame(rows, "id long, s string")
    a = sorted(map(tuple, fuzzy_join_ed1(df.repartition(1), "id", "s").collect()))
    b = sorted(map(tuple, fuzzy_join_ed1(df.repartition(13), "id", "s").collect()))
    assert a == b and a


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"])
def test_fuzzy_titles_registered_classes(spark, sf):
    """Per 5-doc family: the ed-0 pair is exactly the two base copies
    (edited variants all differ in length, so they can never tie at 0)
    and ALL six planted base↔edited ed-1 pairs are found; no
    cross-family pairs (md5 stems). Edited↔edited pairs MAY also
    appear at ed 1 when the stem has repeated characters (e.g. a
    substitution of a doubled char equals the deletion variant plus
    one insert) — those are genuine ed-1 pairs the brute-force oracle
    also finds, so they are allowed, not asserted away."""
    from logparser_llm_spark.plans.queries import QUERIES

    rows = QUERIES["fuzzy_titles"][0](spark, sf).collect()
    n_fam = max(r["id2"] for r in rows) // 5 + 1
    found = set()
    ed0 = 0
    for r in rows:
        assert r["id1"] // 5 == r["id2"] // 5, r  # no cross-family pair
        m1, m2 = r["id1"] % 5, r["id2"] % 5
        if r["ed"] == 0:
            assert {m1, m2} == {0, 4}, r
            ed0 += 1
        else:
            found.add((r["id1"] // 5, min(m1, m2), max(m1, m2)))
    assert ed0 == n_fam, (sf, ed0, n_fam)
    for fam in range(n_fam):
        for edited in (1, 2, 3):   # sub/del/ins × both base copies
            assert (fam, 0, edited) in found, (sf, fam, edited)
            assert (fam, edited, 4) in found, (sf, fam, edited)


# --- snm_pairs ---------------------------------------------------------------


def test_snm_pairs_hand_check_order_and_count(spark):
    """Sorted order (key, id); each record pairs with its window−1
    successors; candidate count is exactly n·(w−1) − C(w−1,2) − ...
    boundary truncation; NULL keys sort first as ''."""
    from logparser_llm_spark.operators.fuzzy import snm_pairs

    rows = [(1, "b"), (2, "a"), (3, "a"), (4, None), (5, "c")]
    # sort order: (''/4), (a/2), (a/3), (b/1), (c/5)
    df = spark.createDataFrame(rows, "id long, key string")
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in snm_pairs(df, "id", "key", window=3).collect()
    )
    assert got == [
        (1, 5, 1),
        (2, 1, 2), (2, 3, 1),
        (3, 1, 1), (3, 5, 2),
        (4, 2, 1), (4, 3, 2),
    ]


def test_snm_pairs_validation_and_guards(spark):
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from logparser_llm_spark.operators.fuzzy import (
        snm_pairs,
        snm_pairs_oracle_sql,
    )

    df = spark.createDataFrame([(1, "k")], "id long, key string")
    with _pytest.raises(ValueError, match="window"):
        snm_pairs(df, "id", "key", window=1)
    with _pytest.raises(ValueError, match="window"):
        snm_pairs_oracle_sql(rel="t", id_col="id", key_col="key", window=0)
    neg = spark.createDataFrame([(-1, "k"), (2, "k")], "id long, key string")
    with _pytest.raises(SparkRuntimeException, match="non-negative"):
        snm_pairs(neg, "id", "key").collect()
    ctl = spark.createDataFrame([(1, "a\x01b"), (2, "c")],
                                "id long, key string")
    with _pytest.raises(SparkRuntimeException, match="x00"):
        snm_pairs(ctl, "id", "key").collect()


def test_snm_pairs_matches_duckdb_and_partition_invariance(spark):
    import duckdb

    from logparser_llm_spark.operators.fuzzy import (
        snm_pairs,
        snm_pairs_oracle_sql,
    )

    rows = [(i, f"k{(i * 7) % 13:02d}") for i in range(80)] + [
        (100, None), (101, "k03"), (102, "k03")
    ]
    df = spark.createDataFrame(rows, "id long, key string")
    got = sorted(map(tuple, snm_pairs(df, "id", "key", window=5).collect()))
    con = duckdb.connect()
    con.execute("create table t (id bigint, key varchar)")
    con.executemany("insert into t values (?,?)", rows)
    want = sorted(map(tuple, con.execute(snm_pairs_oracle_sql(
        rel="t", id_col="id", key_col="key", window=5)).fetchall()))
    assert got == want
    n, w = len(rows), 5
    assert len(got) == n * (w - 1) - (w - 1) * (w - 2) // 2 - (w - 1)
    g2 = sorted(map(tuple,
                    snm_pairs(df.repartition(9), "id", "key",
                              window=5).collect()))
    assert g2 == got


def test_snm_pairs_no_global_single_partition_window(spark):
    """The global order must come from the range-shuffle prefix sum —
    the plan carries no SinglePartition exchange and no Window over
    the full frame."""
    from logparser_llm_spark.operators.fuzzy import snm_pairs
    from logparser_llm_spark.plans.inspect import physical_plan

    df = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).selectExpr("doc_id as id", "source as key")
    plan = physical_plan(snm_pairs(df, "id", "key"))
    assert "SinglePartition" not in plan
    assert "Window" not in plan
