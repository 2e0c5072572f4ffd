"""M6 LSH blocking + skew salting."""

from refined_spark.operators.blocking import (
    hot_keys,
    lsh_mention_pairs,
    salted_array_join,
    with_block_keys,
)
from refined_spark.operators.candidates import pem_surface_arrays


def _mentions(spark, rows):
    return spark.createDataFrame(
        rows, "mention_key: string, norm_sf: string")


def test_lsh_identical_surfaces_share_all_bands(spark):
    m = _mentions(spark, [("m1", "jaguar motors"), ("m2", "jaguar motors"),
                          ("m3", "completely unrelated text")])
    bk = with_block_keys(m)
    k1 = {r["block_key"] for r in bk.where("mention_key='m1'").collect()}
    k2 = {r["block_key"] for r in bk.where("mention_key='m2'").collect()}
    k3 = {r["block_key"] for r in bk.where("mention_key='m3'").collect()}
    assert k1 == k2
    assert not (k1 & k3)


def test_lsh_near_surfaces_share_some_band(spark):
    m = _mentions(spark, [("m1", "jaguar automobiles incorporated"),
                          ("m2", "jaguar automobiles incorporatd"),  # typo
                          ("m3", "zzz completely different zzz")])
    pairs = {(r["key_a"], r["key_b"])
             for r in lsh_mention_pairs(m).collect()}
    assert ("m1", "m2") in pairs
    assert ("m1", "m3") not in pairs and ("m2", "m3") not in pairs


def test_hot_key_census_and_salted_join(spark, fx_t1):
    pem = spark.read.parquet(f"{fx_t1}/pem.parquet")
    entity = spark.read.parquet(f"{fx_t1}/entity.parquet")
    rows = [(f"m{i:04d}", "acme") for i in range(50)]
    rows += [(f"r{i:04d}", "jaguar") for i in range(3)]
    m = _mentions(spark, rows)
    hot = hot_keys(m, "norm_sf", threshold=10)
    assert [r["norm_sf"] for r in hot.collect()] == ["acme"]

    pem_arrays = pem_surface_arrays(pem, entity)
    salted = salted_array_join(m, pem_arrays, hot, buckets=4)
    plain = m.join(pem_arrays, m.norm_sf == pem_arrays.surface_form,
                   "left").drop("surface_form")
    got = {(r["mention_key"], tuple(c["qcode"] for c in r["pem_arr"]))
           for r in salted.collect()}
    want = {(r["mention_key"], tuple(c["qcode"] for c in r["pem_arr"]))
            for r in plain.collect()}
    assert got == want and len(got) == 53  # salting never changes the join


def test_salted_array_join_with_forced_hot_key(spark):
    """salted_array_join with an explicitly hot surface must equal the
    plain join — every salt bucket must find its replicated array row."""
    import pyspark.sql.functions as F

    from refined_spark.operators.blocking import salted_array_join

    mentions = spark.createDataFrame(
        [(f"u{i}|{i:08d}", "john" if i % 3 else "mary", "ctx")
         for i in range(60)],
        "mention_key string, norm_sf string, ctx_word string")
    pem_arrays = spark.createDataFrame(
        [("john", [(1, "Q1", 0.9, True)]), ("mary", [(1, "Q2", 0.8, True)])],
        "surface_form string, pem_arr array<struct<rank:int,qcode:string,"
        "prob:double,is_human:boolean>>")
    hot = spark.createDataFrame([("john",)], "norm_sf string")

    got = {(r["mention_key"], tuple(r["pem_arr"][0]))
           for r in salted_array_join(mentions, pem_arrays, hot,
                                      buckets=4).collect()}
    want = {(r["mention_key"], tuple(r["pem_arr"][0]))
            for r in mentions.join(
                pem_arrays,
                mentions.norm_sf == pem_arrays.surface_form).collect()}
    assert got == want and len(got) == 60
