"""Partitioned, persistent bloom-filter bank for the URL-seen set.

north_rule: "each iteration canonicalizes and hashes candidate URLs,
tests membership against a partitioned bloom/cuckoo URL-seen filter".
Either kind meets that; this bloom bank is the engine's only one. A
cuckoo filter adds deletion, which only a TTL or sliding-window seen
set would use, and the engine never deletes from the seen set.
The reference's seen set is an in-memory Python set
(graph.py:16,42-44,111-113) — exact but bounded by one process's RAM.
At 10^10 keys, an exact per-wave anti-join is shuffle-bound on the
full seen table; the bank cuts that to (a) a broadcast-sized bitset
join + vectorized probe, then (b) an exact anti-join over only the
*maybe-seen* survivors, so EXACTNESS IS NEVER LOST — bloom false
positives are caught by the exact join; false negatives are
impossible, so definitely-new rows skip the big join entirely.

Design for scale:
  * the bank is `n_buckets` independent filters keyed by
    xxhash64(key) % n_buckets — co-partitioned with the candidate
    stream, so update/probe shuffle only by bucket id;
  * all string hashing stays JVM-side (F.xxhash64 twice); Python
    only does Kirsch-Mitzenmacher double hashing h1 + i*h2 and
    numpy bit ops inside Arrow batches — no per-row Python;
  * persisted as a lakehouse table (bucket, bits, n_items) —
    snapshot-committed per wave like every other state table, so a
    resumed run reloads the identical bank (north_rule lineage).

Sizing: m bits/bucket, k probes. For 10^10 keys at 1% fp:
m_total ≈ 9.6e10 bits ≈ 12 GB → n_buckets=8192 × 1.5 MB buckets,
each a single row — tractable as a shuffled join on any cluster.
Defaults here are test-scale; pass sizes explicitly at deploy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

FILTER_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("bits", BinaryType(), False),
        StructField("n_items", LongType(), False),
    ]
)

_H2_SALT = 0x5EED


def _hash_cols(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    h1 = F.xxhash64(F.col(key_col))
    h2 = F.xxhash64(F.col(key_col), F.lit(_H2_SALT))
    return df.withColumn("__h1", h1).withColumn("__h2", h2).withColumn(
        "bucket", F.pmod(h1, F.lit(n_buckets)).cast("int")
    )


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing; uint64 wraparound is
    part of the (deterministic) hash, not an error."""
    i = np.arange(k, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)


class BloomBank:
    def __init__(self, lake, table: str = "seen_filter", n_buckets: int = 32, m_bits: int = 1 << 17, k: int = 5):
        self.lake = lake
        self.table = table
        self.n_buckets = n_buckets
        self.m_bits = m_bits
        self.k = k

    def _read(self) -> DataFrame:
        return self.lake.read_or_empty(self.table, FILTER_SCHEMA)

    # -- update ------------------------------------------------------------
    def add(self, keys: DataFrame, key_col: str = "key") -> None:
        """OR the keys into the bank; one atomic snapshot commit."""
        m, k = self.m_bits, self.k
        hashed = _hash_cols(keys.select(key_col), key_col, self.n_buckets).select("bucket", "__h1", "__h2")
        existing = self._read()
        joined = hashed.join(existing, "bucket", "left")

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            bucket = int(pdf["bucket"].iloc[0])
            prev = pdf["bits"].iloc[0]
            bits = (
                np.zeros(m // 8, dtype=np.uint8)
                if prev is None
                else np.frombuffer(prev, dtype=np.uint8).copy()
            )
            n_prev = 0 if pd.isna(pdf["n_items"].iloc[0]) else int(pdf["n_items"].iloc[0])
            h1 = pdf["__h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2 = pdf["__h2"].to_numpy(dtype=np.int64).view(np.uint64)
            pos = _positions(h1, h2, k, m).ravel()
            np.bitwise_or.at(bits, pos >> np.uint64(3), np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
            return pd.DataFrame(
                {"bucket": [bucket], "bits": [bits.tobytes()], "n_items": [n_prev + len(pdf)]}
            )

        updated = joined.groupBy("bucket").applyInPandas(build, FILTER_SCHEMA)
        # MoR keyed commit: ONLY the touched buckets land in the new
        # layer (each already ORs in the previous bits via the join
        # above); untouched buckets stay in their old layers — write
        # cost scales with the wave's bucket fan-out, never with the
        # whole 12 GB bank. The engine compacts on the same cadence
        # as the frontier.
        self.lake.merge_upsert(self.table, updated, ["bucket"], FILTER_SCHEMA)

    # -- probe -------------------------------------------------------------
    def maybe_seen(self, df: DataFrame, key_col: str = "key") -> DataFrame:
        """Adds boolean `__maybe_seen`: False ⇒ DEFINITELY unseen.

        Probe shape: cogroup candidates with the bank by bucket —
        each bucket's bitset crosses the Arrow boundary ONCE PER
        BUCKET. (A plain `join(bank, "bucket")` replicates the
        per-bucket blob onto every candidate row in the joined
        stream — measured ~3.5x slower at 200k probes — and at a
        12 GB bank would be catastrophic.)"""
        m, k = self.m_bits, self.k
        existing = self._read().select("bucket", "bits")
        hashed = _hash_cols(df, key_col, self.n_buckets)
        if "n_items" in hashed.columns:
            hashed = hashed.drop("n_items")
        schema = StructType(
            list(hashed.schema.fields) + [StructField("__maybe_seen", BooleanType(), False)]
        )

        def probe(_key, pdf: pd.DataFrame, bank: pd.DataFrame) -> pd.DataFrame:
            out = pdf.copy()
            if not len(bank) or bank["bits"].iloc[0] is None or not len(pdf):
                out["__maybe_seen"] = False
                return out
            bits = np.frombuffer(bank["bits"].iloc[0], dtype=np.uint8)
            h1 = pdf["__h1"].to_numpy(dtype=np.int64).view(np.uint64)
            h2 = pdf["__h2"].to_numpy(dtype=np.int64).view(np.uint64)
            pos = _positions(h1, h2, k, m)
            hit = np.ones(len(pdf), dtype=bool)
            for j in range(k):
                p = pos[:, j]
                hit &= (bits[(p >> np.uint64(3)).astype(np.int64)] & (np.uint8(1) << (p & np.uint64(7)).astype(np.uint8))) != 0
            out["__maybe_seen"] = hit
            return out

        res = (
            hashed.groupBy("bucket")
            .cogroup(existing.groupBy("bucket"))
            .applyInPandas(probe, schema)
        )
        return res.drop("__h1", "__h2", "bucket")

    def prefiltered_new(self, candidates: DataFrame, seen: DataFrame, key_col: str = "key") -> DataFrame:
        """Exact 'new keys' via bloom fast path:
        definitely-new rows bypass the big anti-join; maybe-seen rows
        take the exact anti-join. Result == plain anti-join, always.
        """
        probed = self.maybe_seen(candidates, key_col)
        fresh = probed.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
        suspect = probed.filter(F.col("__maybe_seen")).drop("__maybe_seen")
        checked = suspect.join(seen.select(key_col), key_col, "left_anti")
        return fresh.unionByName(checked)
