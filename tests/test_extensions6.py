"""Invariant tests for the fourth-batch round-4 operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from blspark.catalog import registry
from tests.conftest import SF_SMOKE

REG = registry()


def test_python_datasource_partitions_and_values(spark):
    """The custom source honors n/parts options, splits rows across the
    requested partitions, and produces the hash-derived payload."""
    import hashlib

    from blspark.ext.pysource import register_manifest_source

    register_manifest_source(spark)
    df = (
        spark.read.format("blspark_manifest")
        .option("n", "10")
        .option("parts", "3")
        .load()
    )
    assert df.rdd.getNumPartitions() == 3
    rows = {r.key: r for r in df.collect()}
    assert len(rows) == 10
    d = hashlib.md5(b"file_000003.dat").hexdigest()
    assert rows["file_000003.dat"].checksum == d
    assert rows["file_000003.dat"].size_bytes == int(d[:4], 16)


def test_cooccurrence_lift_symmetric_and_bounded(spark):
    """lift is computed over ordered pairs (a < b), support holds, and
    a pair of independent tokens has lift near c_xy*N/(df_a*df_b) by
    construction — verify the formula against recomputed counts."""
    out = REG["x_cooccurrence_lift"].spark_fn(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 50
    from blspark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    d = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    n_docs = d.select("doc_id").distinct().count()
    df_map = {r.tok: r.c for r in d.groupBy("tok").agg(F.count("*").alias("c")).collect()}
    for r in out:
        assert r.tok_a < r.tok_b
        assert r.c_xy >= 10
        expect = r.c_xy * n_docs / (df_map[r.tok_a] * df_map[r.tok_b])
        assert abs(r.lift - expect) < 1e-12, (r.tok_a, r.tok_b)


def test_sql_params_binding_matches_inlined(spark):
    a = REG["q_sql_params"].spark_fn(spark, SF_SMOKE).collect()
    from blspark.catalog import register_views

    register_views(spark, SF_SMOKE, ("orders",))
    b = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                    AS STRING) AS DOUBLE) AS total
        FROM orders WHERE o_totalprice > 150000.0
        GROUP BY o_orderpriority
        """
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_incremental_lsh_orientation_and_threshold(spark):
    """Every emitted pair crosses the base/new boundary in the right
    direction and clears the Jaccard threshold."""
    out = REG["x_dedup_incremental_lsh"].spark_fn(spark, SF_SMOKE).collect()
    assert len(out) > 0
    for r in out:
        assert r.new_id % 3 != 0 and r.base_id % 3 == 0
        assert r.jaccard >= 0.6


def test_recursive_closure_equals_iterative_components(spark):
    """The hop-bounded SQL recursion reaches the same fixpoint as the
    iterative star-contraction operator on the real dup graph
    (diameter << hop bound)."""
    rec = {
        (r.node, r.component)
        for r in REG["q_recursive_closure"].spark_fn(spark, SF_SMOKE).collect()
    }
    it = {
        (r.node, r.component)
        for r in REG["x_dedup_components"].spark_fn(spark, SF_SMOKE).collect()
    }
    assert rec == it


def test_gaps_and_islands_streaks_are_maximal_and_consistent(spark):
    out = REG["q_gaps_and_islands"].spark_fn(spark, SF_SMOKE).collect()
    seen = {}
    for r in out:
        # streak length equals the day span
        assert (r.streak_end - r.streak_start).days == r.streak_days - 1
        seen.setdefault(r.user_id, []).append(r)
    # islands of one user never touch or overlap (maximality)
    for rows in seen.values():
        rows.sort(key=lambda r: r.streak_start)
        for x, y in zip(rows, rows[1:]):
            assert (y.streak_start - x.streak_end).days >= 2


def test_topk_merge_equals_direct(spark):
    from blspark.catalog import load_table

    got = [
        (r.doc_id, r.n_chars)
        for r in REG["x_topk_merge"].spark_fn(spark, SF_SMOKE).collect()
    ]
    docs = load_table(spark, SF_SMOKE, "documents")
    direct = [
        (r.doc_id, r.n_chars)
        for r in docs.orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(10)
        .collect()
    ]
    assert got == direct


def test_cooccurrence_pair_clamp_bounds_pathological_doc(spark):
    """The per-doc pairing clamp is real: a doc with 200 distinct
    tokens contributes at most C(64, 2) pairs (the 64 lexicographically
    smallest tokens), not C(200, 2) — the explicit O(M^2) bound the
    operator's scale story rests on. Checked through the same pairing
    expressions the query uses."""
    from blspark.queries.extensions6 import _MAX_PAIR_TOKS

    text = " ".join(f"tok{i:04d}" for i in range(200))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    dp = docs.select(
        "doc_id", F.explode(F.slice(toks, 1, _MAX_PAIR_TOKS)).alias("tok")
    )
    a, b = dp.alias("a"), dp.alias("b")
    n_pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.tok") < F.col("b.tok")),
    ).count()
    assert n_pairs == _MAX_PAIR_TOKS * (_MAX_PAIR_TOKS - 1) // 2
    kept = {r["tok"] for r in dp.collect()}
    assert kept == {f"tok{i:04d}" for i in range(_MAX_PAIR_TOKS)}
