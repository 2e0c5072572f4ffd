"""M6 — MinHash-LSH blocking keys + skew salting for the candidate join.

The reference blocks ONLY by exact normalized surface form (M2). The
north_rule additionally requires MinHash-LSH keys so near-identical
mentions (typos, partial names) land in a bounded number of shared
blocks, and explicit skew handling for hot keys.

Band keys: character-shingle MinHash over the normalized surface form,
banded b ways → ``explode(band_keys)`` → self-join / candidate-join on the
band key. Bucket population is uniform by construction, which bounds
candidate pairs per partition — the property the north_rule asks for at
10^12 docs.

Skew salting: :func:`salted_array_join` implements the classic
replicate-dim/salt-fact pattern for the non-broadcast alias-array join —
hot blocking keys (detected with the cheap count pre-pass
:func:`hot_keys`, SURVEY.md §4) are split into SKEW_SALT_BUCKETS
sub-keys; the alias side replicates per salt, the mention side picks a
deterministic salt — pre-AQE engines needed this manually and AQE still
benefits when hot keys dwarf its splitting granularity.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .. import config
from .dedup import _minhash_sig


# per-worker surface-form -> band-keys memo: mention surfaces are Zipfian,
# so in steady state the UDF is a dict lookup, not a MinHash computation
_BAND_CACHE: dict[str, list[int]] = {}


def band_keys_udf(num_perm: int = config.MINHASH_PERMS,
                  bands: int = config.MINHASH_BANDS,
                  k: int = config.SHINGLE_K):
    rows = num_perm // bands

    @pandas_udf(ArrayType(LongType()))
    def bands_of(texts: pd.Series) -> pd.Series:
        cache = _BAND_CACHE

        def one(t: str) -> list[int]:
            t = t or ""
            v = cache.get(t)
            if v is not None:
                return v
            # char shingles: surface forms are 1-4 words; word shingles
            # degenerate there (one typo -> Jaccard 0)
            sig = np.asarray(_minhash_sig(t, num_perm, k, char=True),
                             dtype=np.int64)
            out = []
            for b in range(bands):
                chunk = sig[b * rows:(b + 1) * rows].tobytes()
                # stable hash (python hash() is process-salted -> unusable
                # across executors)
                h = int.from_bytes(
                    hashlib.blake2b(bytes([b]) + chunk,
                                    digest_size=7).digest(), "little")
                out.append((b << 56) | h)
            if len(cache) < 2_000_000:
                cache[t] = out
            return out

        return texts.map(one)

    return bands_of


def with_block_keys(mentions: DataFrame,
                    sf_col: str = "norm_sf") -> DataFrame:
    """mentions + exploded LSH band key column ``block_key`` (one row per
    (mention, band)); union-compatible with the exact-surface block key."""
    udf = band_keys_udf()
    return (
        # empty/null surfaces all share the zero signature -> one degenerate
        # block pairing every empty mention with every other; drop them
        mentions.where(F.col(sf_col).isNotNull() & (F.length(sf_col) > 0))
        .withColumn("band_keys", udf(F.col(sf_col)))
        .withColumn("block_key", F.explode("band_keys"))
        .drop("band_keys")
    )


def lsh_mention_pairs(mentions: DataFrame,
                      max_block: int = 1000) -> DataFrame:
    """Candidate mention pairs sharing an LSH band key (bounded per block).

    Blocks larger than ``max_block`` are dropped with a count pre-pass
    (logged upstream) — unbounded blocks are exactly what LSH banding is
    meant to prevent; a hot block signals a degenerate key.
    """
    mb = with_block_keys(
        mentions.select("mention_key", "norm_sf")).select(
        "mention_key", "norm_sf", "block_key")
    sizes = mb.groupBy("block_key").agg(F.count(F.lit(1)).alias("n"))
    # broadcast the OVER-cap keys and anti-join: the under-cap
    # complement is ~every distinct band key (mention-scale — the r5
    # review's driver-OOM class at the module's own 10^12 framing);
    # the over-cap set is bounded by corpus_size/max_block
    big = sizes.where(F.col("n") > max_block).select("block_key")
    bounded = mb.join(F.broadcast(big), "block_key", "left_anti")
    a, b = bounded.alias("a"), bounded.alias("b")
    return (
        a.join(b, (F.col("a.block_key") == F.col("b.block_key"))
               & (F.col("a.mention_key") < F.col("b.mention_key")))
        .select(F.col("a.mention_key").alias("key_a"),
                F.col("b.mention_key").alias("key_b"),
                F.col("a.norm_sf").alias("sf_a"),
                F.col("b.norm_sf").alias("sf_b"))
        .distinct()
    )


def hot_keys(df: DataFrame, key_col: str,
             threshold: int = config.SKEW_KEY_THRESHOLD) -> DataFrame:
    """Cheap skew census: keys whose row count exceeds threshold."""
    return (
        df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > threshold)
        .select(key_col)
    )


def salted_array_join(mentions: DataFrame, pem_arrays: DataFrame,
                      hot: DataFrame,
                      buckets: int = config.SKEW_SALT_BUCKETS
                      ) -> DataFrame:
    """Skew-salted shuffle join for the ARRAY-shaped pem (one alias-array
    row per surface) — the escape hatch when the alias table outgrows
    broadcast range. Hot surfaces replicate their (single) array row
    ``buckets`` ways, each mention picks a deterministic salt, so no
    reduce task receives more than 1/buckets of a hot key's mentions;
    other surfaces join with salt 0 on both sides (no replication
    cost). mentions must carry (norm_sf, mention_key); returns
    mentions + pem_arr (left join shape)."""
    hot_b = F.broadcast(hot.withColumnRenamed(hot.columns[0], "hk")
                        .withColumn("is_hot", F.lit(True)))
    m = (
        mentions.join(hot_b, mentions.norm_sf == hot_b.hk, "left")
        .withColumn(
            "_salt",
            F.when(F.col("is_hot"),
                   F.pmod(F.xxhash64("mention_key"), F.lit(buckets))
                   .cast("int"))
            .otherwise(F.lit(0)))
        .drop("hk", "is_hot")
    )
    salts = F.explode(
        F.when(F.col("is_hot"),
               F.sequence(F.lit(0), F.lit(buckets - 1)))
        .otherwise(F.array(F.lit(0)))).alias("_salt")
    p = (
        pem_arrays.join(hot_b, pem_arrays.surface_form == hot_b.hk, "left")
        .select("surface_form", "pem_arr", salts)
    )
    return (
        m.join(p, (m.norm_sf == p.surface_form)
               & (m["_salt"] == p["_salt"]), "left")
        .drop("surface_form", "_salt")
    )

