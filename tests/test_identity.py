"""Identity constraints: uniqueness, key, keyref, occurs
(reference test style: tests/validators/test_identities.py)."""

from xmlschema_spark.operators.identity import (keyref_violations,
                                                occurs_violations,
                                                unique_violations)
from xmlschema_spark.specs import KeyrefSpec, OccursSpec, UniqueSpec


def test_unique_duplicates_with_counts(spark):
    df = spark.createDataFrame(
        [("r1", "a"), ("r2", "b"), ("r3", "a"), ("r4", "a"), ("r5", None)],
        "k string, v string")
    out = unique_violations(df, UniqueSpec("v", ["v"]), "k").collect()
    got = {(r.row_key, r.occurs) for r in out}
    # one violation per offending row, each carrying the group count
    assert got == {("r1", 3), ("r3", 3), ("r4", 3)}
    assert all(r.constraint == "unique:v" for r in out)


def test_unique_skips_null_tuples_key_reports_them(spark):
    df = spark.createDataFrame([("r1", None), ("r2", "x")], "k string, v string")
    assert unique_violations(df, UniqueSpec("v", ["v"]), "k").count() == 0
    out = unique_violations(df, UniqueSpec("v", ["v"], is_key=True), "k").collect()
    assert {(r.row_key, r.constraint) for r in out} == {("r1", "key:v:missing")}


def test_unique_composite(spark):
    df = spark.createDataFrame(
        [("r1", "a", 1), ("r2", "a", 2), ("r3", "a", 1)],
        "k string, x string, y int")
    out = unique_violations(df, UniqueSpec("xy", ["x", "y"]), "k").collect()
    assert {r.row_key for r in out} == {"r1", "r3"}


def test_keyref_misses_with_n_times(spark):
    child = spark.createDataFrame(
        [("r1", "a"), ("r2", "zz"), ("r3", "zz"), ("r4", None)],
        "k string, ref string")
    parent = spark.createDataFrame([("a",), ("b",)], "ref string")
    out = keyref_violations(child, parent,
                            KeyrefSpec("fk", ["ref"], "parent", ["ref"]),
                            "k").collect()
    got = {(r.row_key, r.occurs) for r in out}
    # "(2 times)" count like identities.py:403-418; nulls skipped
    assert got == {("r2", 2), ("r3", 2)}
    assert all("(2 times)" in r.reason for r in out)


def test_occurs_bounds(spark):
    df = spark.createDataFrame(
        [("o1", 1), ("o1", 2), ("o2", 1), ("o2", 2), ("o2", 3)],
        "parent string, line int")
    out = occurs_violations(df, OccursSpec("lines", ["parent"],
                                           min_occurs=1, max_occurs=2)).collect()
    assert {(r.row_key, r.occurs) for r in out} == {("o2", 3)}


def test_caption_equality_vs_sidecar(spark):
    from xmlschema_spark.operators.identity import caption_equality_violations
    from xmlschema_spark.sources.fixtures import (MOD, make_captions_ref,
                                                  make_images)
    n = 4000
    imgs = make_images(spark, n, dirty=True, with_bytes=False)
    ref = make_captions_ref(spark, n)
    out = caption_equality_violations(imgs, ref, part_key="part_key").collect()
    # defects at k in (4,5,11) mutate the caption; k==7 rows carry row
    # i-2's id so their caption mismatches that id's reference; k==13 ids
    # are absent from the sidecar (keyref scope, skipped here)
    expected = {k for k in (4, 5, 7, 11)}
    got_ks = {int(r.row_key[4:]) % MOD if r.row_key[4:].isdigit() else -1
              for r in out}
    n_expected = len([i for i in range(n)
                      if i % MOD in (4, 5, 11) or
                      (i % MOD == 7 and (i - 2) % MOD != 13)])
    assert len(out) == n_expected, (len(out), n_expected)


def test_idref_self_reference(spark):
    from xmlschema_spark.operators.identity import idref_violations
    df = spark.createDataFrame(
        [("r1", "a", None), ("r2", "b", "a"), ("r3", "c", "zz")],
        "k string, id string, ref string")
    out = idref_violations(df, "id", "ref", "k").collect()
    assert {(r.row_key, r.occurs) for r in out} == {("r3", 1)}


def test_from_dict_drops_legacy_salt_with_one_warning():
    """UniqueSpec.salt is retired: a spec dict that still carries it
    loads, with exactly one DeprecationWarning, and the key is gone."""
    import warnings

    from xmlschema_spark.specs import TableSpec
    d = {"name": "t", "key_column": "k",
         "uniques": [{"name": "u", "columns": ["a"], "salt": 16},
                     {"name": "v", "columns": ["b"], "salt": None}]}
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        spec = TableSpec.from_dict(d)
    dep = [x for x in w if issubclass(x.category, DeprecationWarning)]
    assert len(dep) == 1 and "salt" in str(dep[0].message)
    assert [(u.name, u.columns) for u in spec.uniques] == \
        [("u", ["a"]), ("v", ["b"])]
    assert not hasattr(spec.uniques[0], "salt")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        TableSpec.from_dict({**d, "uniques": [{"name": "u",
                                               "columns": ["a"]}]})
