"""Pinning tests for the acid change feed's multiset diff.

``acid._cdc_diff`` turns a commit's before/after rows into a change set
twice over: keyed, for MERGE's CDC sidecar (cow and DV paths), and
unkeyed, for the ``table_changes`` derive path (MERGE/UPDATE/DELETE
commits without a sidecar). Each case below compares both with an
``exceptAll``-based reference kept here — the definition the signed
count must reproduce — on the inputs where a rewrite could drift:
NULL keys, NaN and -0.0, NULL values, multiset duplicates and an
additively evolved schema.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from als_hadoop_spark.sources.acid import AcidTable, _cdc_diff
from als_hadoop_spark.sql import acid_sql

TAG = "_change_type"


def _aligned(before, after):
    for c in after.columns:
        if c not in before.columns:
            before = before.withColumn(c, F.lit(None).cast(dict(after.dtypes)[c]))
    return before.select(after.columns)


def _reference_cdc(before, after, key):
    """The change set as two exceptAll passes plus semi/anti joins on
    ``key``: a key on both sides pairs as an update."""
    before = _aligned(before, after)
    gone = before.exceptAll(after)
    born = after.exceptAll(before)
    gone_keys = gone.select(key).distinct()
    born_keys = born.select(key).distinct()
    return (
        gone.join(born_keys, key, "semi").withColumn(TAG, F.lit("update_preimage"))
        .unionByName(gone.join(born_keys, key, "anti").withColumn(TAG, F.lit("delete")))
        .unionByName(born.join(gone_keys, key, "semi").withColumn(TAG, F.lit("update_postimage")))
        .unionByName(born.join(gone_keys, key, "anti").withColumn(TAG, F.lit("insert")))
    )


def _reference_derive(before, after):
    """table_changes without a sidecar: delete/insert only."""
    before = _aligned(before, after)
    return (
        before.exceptAll(after).withColumn(TAG, F.lit("delete"))
        .unionByName(after.exceptAll(before).withColumn(TAG, F.lit("insert")))
    )


def _canon(v):
    # repr keeps NaN comparable and tells -0.0 from 0.0
    return repr(v) if isinstance(v, float) else v


def _bag(df):
    assert df.columns[-1] == TAG
    return Counter(tuple(_canon(v) for v in r) for r in df.collect())


def _check(before, after, key):
    """Both diffs equal their references; returns the keyed one's bag."""
    got = _cdc_diff(before, after, key)
    assert got.columns == after.columns + [TAG]
    cdc = _bag(got)
    assert cdc == _bag(_reference_cdc(before, after, key))
    assert _bag(_cdc_diff(before, after)) == _bag(_reference_derive(before, after))
    return cdc


KV = "k LONG, v STRING"


def test_null_key_never_pairs(spark):
    before = spark.createDataFrame([(None, "a"), (1, "x"), (2, "keep")], KV)
    after = spark.createDataFrame([(None, "b"), (1, "y"), (2, "keep")], KV)
    cdc = _check(before, after, "k")
    assert cdc == Counter({
        (None, "a", "delete"): 1,
        (None, "b", "insert"): 1,
        (1, "x", "update_preimage"): 1,
        (1, "y", "update_postimage"): 1,
    })


def test_nan_and_negative_zero_values(spark):
    s = "k LONG, x DOUBLE"
    nan = float("nan")
    before = spark.createDataFrame([(1, nan), (2, -0.0), (3, 1.0), (4, nan)], s)
    after = spark.createDataFrame([(1, nan), (2, 0.0), (3, 2.0), (4, 5.0)], s)
    cdc = _check(before, after, "k")
    # NaN == NaN and -0.0 == 0.0 under grouping: keys 1 and 2 cancel
    assert cdc == Counter({
        (3, "1.0", "update_preimage"): 1,
        (3, "2.0", "update_postimage"): 1,
        (4, "nan", "update_preimage"): 1,
        (4, "5.0", "update_postimage"): 1,
    })


def test_nan_and_negative_zero_keys(spark):
    s = "k DOUBLE, v STRING"
    nan = float("nan")
    before = spark.createDataFrame([(nan, "a"), (-0.0, "b"), (1.0, "c")], s)
    after = spark.createDataFrame([(nan, "A"), (0.0, "B"), (1.0, "c")], s)
    cdc = _check(before, after, "k")
    # NaN keys pair with each other, -0.0 with 0.0
    assert Counter(tag for *_, tag in cdc.elements()) == Counter(
        {"update_preimage": 2, "update_postimage": 2}
    )


def test_null_values(spark):
    before = spark.createDataFrame([(1, None), (2, None), (3, "c")], KV)
    after = spark.createDataFrame([(1, None), (2, "z"), (3, None)], KV)
    cdc = _check(before, after, "k")
    assert cdc == Counter({
        (2, None, "update_preimage"): 1,
        (2, "z", "update_postimage"): 1,
        (3, "c", "update_preimage"): 1,
        (3, None, "update_postimage"): 1,
    })


def test_multiset_duplicates(spark):
    # key 1: one row twice before, once after → one delete
    # key 2: one pre-image, two identical post-images
    # key 3: one pre-image, two distinct post-images
    before = spark.createDataFrame([(1, "a"), (1, "a"), (2, "p"), (3, "p")], KV)
    after = spark.createDataFrame([(1, "a"), (2, "q"), (2, "q"), (3, "q"), (3, "r")], KV)
    cdc = _check(before, after, "k")
    assert cdc == Counter({
        (1, "a", "delete"): 1,
        (2, "p", "update_preimage"): 1,
        (2, "q", "update_postimage"): 2,
        (3, "p", "update_preimage"): 1,
        (3, "q", "update_postimage"): 1,
        (3, "r", "update_postimage"): 1,
    })


def test_after_with_added_column(spark):
    before = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], KV)
    after = spark.createDataFrame(
        [(1, "a", None), (2, "b", 7), (4, "d", None)], "k LONG, v STRING, n INT"
    )
    cdc = _check(before, after, "k")
    # key 1 carries over (the new column is NULL on both sides)
    assert cdc == Counter({
        (2, "b", None, "update_preimage"): 1,
        (2, "b", 7, "update_postimage"): 1,
        (3, "c", None, "delete"): 1,
        (4, "d", None, "insert"): 1,
    })


@pytest.mark.parametrize("cdf", [False, True])
def test_merge_cdf_sidecar_matches_reference(spark, tmp_path, cdf):
    """merge(cdf=True) stages exactly the reference diff of the matched
    rows against the merge output, on a DV table; without a sidecar,
    table_changes derives the same rows as delete/insert."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(20)], KV).coalesce(2))
    t.set_property("deletionVectors", "true")
    chg = spark.createDataFrame([(1, "X"), (2, "v2"), (50, "new")], KV)

    def upsert(touched, c):
        return touched.join(c.select("k"), "k", "anti").unionByName(c)

    v = t.merge(chg, "k", upsert, cdf=cdf)
    got = _bag(t.table_changes(v, v).drop("_commit_version"))
    before = spark.createDataFrame([(1, "v1"), (2, "v2")], KV)
    after = spark.createDataFrame([(1, "X"), (2, "v2"), (50, "new")], KV)
    ref = _reference_cdc if cdf else (lambda b, a, _k: _reference_derive(b, a))
    assert got == _bag(ref(before, after, "k"))


def test_dv_table_changes_counts_per_commit(spark, tmp_path):
    """End to end on a deletionVectors table: SQL MERGE INTO, update
    and delete commit no CDC sidecar, so table_changes derives each
    commit's change set from its masked and added rows — rows carried
    over unchanged must cancel."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.createDataFrame([(i, f"v{i}") for i in range(10)], KV).coalesce(2))
    t.set_property("deletionVectors", "true")
    first = t.latest_version() + 1
    spark.createDataFrame([(1, "X"), (2, "v2"), (100, "new")], KV).createOrReplaceTempView(
        "cdc_diff_src"
    )
    v_merge = acid_sql(
        spark,
        f"MERGE INTO acid.`{t.path}` AS t USING cdc_diff_src AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    # k = 0 keeps its value: matched and rewritten, but no change
    v_update = t.update({"v": "CASE WHEN k = 0 THEN v ELSE 'U' END"}, "k < 3")
    v_delete = t.delete("k IN (8, 9)")
    assert (v_merge, v_update, v_delete) == (first, first + 1, first + 2)
    counts = {
        (r[0], r[1]): r[2]
        for r in t.table_changes(first, v_delete)
        .groupBy("_commit_version", TAG).count().collect()
    }
    assert counts == {
        (v_merge, "delete"): 1,  # (1, v1); (2, v2) carried over
        (v_merge, "insert"): 2,  # (1, X), (100, new)
        (v_update, "delete"): 2,  # (1, X), (2, v2); (0, v0) carried over
        (v_update, "insert"): 2,  # (1, U), (2, U)
        (v_delete, "delete"): 2,  # k = 8, 9
    }
    assert sorted(tuple(r) for r in t.snapshot().collect()) == sorted(
        [(0, "v0"), (1, "U"), (2, "U"), (100, "new")]
        + [(i, f"v{i}") for i in range(3, 8)]
    )


def test_stage_dv_refuses_unpersisted_positions(spark, tmp_path):
    """_stage_dv takes its per-file counts from the positions frame, so
    that frame must be persisted: an unpersisted one would be recomputed
    for the count, and a nondeterministic upstream could then count
    other rows than the sidecar holds. It is refused before anything is
    staged."""
    t = AcidTable(spark, str(tmp_path / "t"))
    t.append(spark.range(2000).selectExpr("id AS k", "'v' AS v").coalesce(2))
    state = t._state()
    positions = t._assemble(state, with_pos=True)
    with pytest.raises(ValueError, match="persisted"):
        t._stage_dv(state, positions)
    assert not os.path.exists(os.path.join(t.path, "_acid_dv"))
