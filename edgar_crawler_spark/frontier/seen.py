"""URL-seen set at scale: partitioned Bloom pre-filter + exact anti-join.

Semantics reproduced: the reference keeps a new index row only if its
``html_index`` does not appear in the old metadata table — an O(n²)
scalar scan per row (download_filings.py:151-158). The exact Spark
equivalent is a hash ``left_anti`` join; at 10^10 URLs the anti-join
shuffles the full seen table every wave, so we put a partitioned Bloom
filter in front:

* BUILD — seen urls hashed (xxhash64), sharded by
  ``pmod(url_hash, num_shards)``; each shard's bitset built by an
  Arrow-batched applyInPandas (numpy bit ops). One row per shard:
  (shard, bitset binary, n_items, m_bits, k_hashes).
* CHECK — candidates repartitioned by the same shard key, cogrouped
  with the bloom table (each bitset travels to exactly one partition —
  never broadcast, never per-row), membership tested vectorized.
* FP SAFETY — Bloom "no" ⇒ definitely-new, emitted directly; Bloom
  "maybe" ⇒ exact anti-join recheck against the seen table. A false
  positive therefore costs one extra join probe and can never silently
  drop a new URL (SURVEY.md §4.3.2). Both branches read one
  materialized probe result, so each candidate is probed once.

Double hashing (Kirsch-Mitzenmacher): h_i = h1 + i·h2 mod m with h1/h2
carved from the single xxhash64 value, so the JVM computes the only
real hash and numpy does the rest.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_BLOOM_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("bitset", BinaryType()),
        StructField("n_items", LongType()),
        StructField("m_bits", LongType()),
        StructField("k_hashes", IntegerType()),
    ]
)


def _params(n: int, fpp: float) -> tuple[int, int]:
    """Optimal (m bits, k hashes) for n items at target fpp."""
    n = max(n, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) & ~63  # round to 64-bit words
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _h1h2(hashes: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray]:
    u = hashes.astype(np.uint64)
    h1 = (u & np.uint64(0xFFFFFFFF)) % np.uint64(m)
    h2 = ((u >> np.uint64(32)) | np.uint64(1)) % np.uint64(m)  # odd-ish stride
    return h1, h2


def _positions(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    h1, h2 = _h1h2(hashes, m)
    i = np.arange(k, dtype=np.uint64)[:, None]
    return (h1[None, :] + i * h2[None, :]) % np.uint64(m)  # (k, n)


class BloomFilterTable:
    """A DataFrame of per-shard Bloom bitsets over xxhash64(url)."""

    def __init__(self, df: DataFrame, num_shards: int):
        self.df = df
        self.num_shards = num_shards

    @staticmethod
    def build(
        seen: DataFrame,
        hash_col: str = "url_hash",
        num_shards: int = 32,
        expected_per_shard: int | None = None,
        fpp: float = 0.01,
    ) -> "BloomFilterTable":
        if expected_per_shard is None:
            # cheap upper bound; at production scale pass the known
            # frontier size instead of counting
            expected_per_shard = max(1, seen.count() // num_shards + 1)
        m, k = _params(expected_per_shard, fpp)

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            bits = np.zeros(m // 8, dtype=np.uint8)
            if len(pdf):
                pos = _positions(pdf["h"].to_numpy(np.int64), m, k).ravel()
                np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))
            shard = int(pdf["shard"].iloc[0]) if len(pdf) else 0
            return pd.DataFrame(
                [
                    {
                        "shard": shard,
                        "bitset": bits.tobytes(),
                        "n_items": len(pdf),
                        "m_bits": m,
                        "k_hashes": k,
                    }
                ]
            )

        sharded = seen.select(
            F.col(hash_col).alias("h"),
            F.pmod(F.col(hash_col), F.lit(num_shards)).cast("int").alias("shard"),
        )
        df = sharded.groupBy("shard").applyInPandas(build_shard, _BLOOM_SCHEMA)
        return BloomFilterTable(df, num_shards)

    def maybe_contains(self, candidates: DataFrame, hash_col: str = "url_hash") -> DataFrame:
        """candidates + boolean ``bloom_maybe_seen``. Cogrouped per
        shard: each bitset meets exactly its own candidate partition."""
        out_schema = StructType(
            candidates.schema.fields + [StructField("bloom_maybe_seen", BooleanType())]
        )
        cand_cols = [f.name for f in candidates.schema.fields]

        def check(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(cand_pdf):
                return pd.DataFrame(columns=cand_cols + ["bloom_maybe_seen"])
            out = cand_pdf[cand_cols].copy()
            if not len(bloom_pdf):  # no bitset for this shard ⇒ nothing seen
                out["bloom_maybe_seen"] = False
                return out
            row = bloom_pdf.iloc[0]
            bits = np.frombuffer(row["bitset"], dtype=np.uint8)
            m, k = int(row["m_bits"]), int(row["k_hashes"])
            pos = _positions(cand_pdf[hash_col].to_numpy(np.int64), m, k)  # (k, n)
            hit = (bits[(pos >> 3).astype(np.int64)] >> (pos & 7).astype(np.uint8)) & 1
            out["bloom_maybe_seen"] = hit.all(axis=0).astype(bool)
            return out

        shard = F.pmod(F.col(hash_col), F.lit(self.num_shards)).cast("int")
        cand_g = candidates.withColumn("__shard", shard).groupBy("__shard")
        bloom_g = self.df.groupBy("shard")
        return cand_g.cogroup(bloom_g).applyInPandas(check, out_schema)


class PersistedBloomTable:
    """Incrementally-maintained Bloom filter: shard bitsets persisted
    in a :class:`SnapshotTable`, OR-updated with ONLY the new hashes at
    each wave commit — the seen table is never re-scanned or re-hashed
    (VERDICT r01 item 3: the per-submit ``BloomFilterTable.build`` full
    rebuild was the scale-killer this replaces).

    Invariants:
    * filter ⊇ seen — ``update`` is committed strictly BEFORE the seen
      append in the wave protocol, so the filter can never miss a seen
      URL (a miss would skip the exact recheck and re-admit a fetched
      URL). Extra bits from a crash between the two commits are mere
      false positives — the FP direction is safe by construction.
    * fixed geometry per shard — a shard's (m_bits, k_hashes) are
      pinned at creation; new hashes OR into the same bitset. When a
      shard's n_items exceeds its sized capacity the fpp decays, so
      ``max_load`` > 1 signals a ``rebuild`` (full scan, rare,
      amortized — e.g. at compaction time).
    * no deletes — a Bloom bit cannot be cleared, so removing URLs from
      seen (``CrawlFrontier.invalidate``) rebuilds the bitsets from the
      rewritten seen table.
    """

    def __init__(
        self,
        table,
        num_shards: int = 32,
        expected_per_shard: int = 1 << 17,
        fpp: float = 0.01,
    ):
        self.table = table
        self.num_shards = num_shards
        self.expected_per_shard = expected_per_shard
        self.fpp = fpp

    def _guard_shard_count(self) -> None:
        """Validate the configured shard count against the one persisted
        in the filter table's manifest metrics (ADVICE r02). Routing
        candidates with a different ``num_shards`` than the bitsets were
        built with checks hashes against the WRONG shard — silent false
        negatives, so already-fetched URLs skip the exact recheck and are
        re-admitted. Fail loudly instead; ``rebuild()`` is the legitimate
        way to change the shard count (it rewrites every bitset from the
        seen table). Tables written before this guard have no stamp —
        first write adds it."""
        stored = (self.table.latest_manifest().get("metrics") or {}).get("num_shards")
        if stored is not None and int(stored) != int(self.num_shards):
            raise ValueError(
                f"persisted filter at {self.table.root} was "
                f"built with num_shards={stored} but this instance is "
                f"configured with num_shards={self.num_shards}; construct "
                "with the stored value or rebuild() the filter"
            )

    def read_filter(self, spark: SparkSession) -> BloomFilterTable | None:
        self._guard_shard_count()
        df = self.table.read(spark)
        return BloomFilterTable(df, self.num_shards) if df is not None else None

    def _sharded(self, new: DataFrame, hash_col: str) -> DataFrame:
        return new.select(
            F.col(hash_col).alias("h"),
            F.pmod(F.col(hash_col), F.lit(self.num_shards)).cast("int").alias("shard"),
        )

    def update(self, new: DataFrame, hash_col: str = "url_hash", metrics: dict | None = None) -> int:
        """OR the new hashes into the persisted bitsets. Touches only
        the filter table (KBs–GBs of bitsets), never the seen parquet.
        Untouched shards are carried through the cogroup unchanged."""
        self._guard_shard_count()
        spark = new.sparkSession
        cur = self.table.read(spark)
        m0, k0 = _params(self.expected_per_shard, self.fpp)

        def or_in(new_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(bloom_pdf):
                row = bloom_pdf.iloc[0]
                bits = np.frombuffer(row["bitset"], dtype=np.uint8).copy()
                m, k = int(row["m_bits"]), int(row["k_hashes"])
                n_items = int(row["n_items"])
                shard = int(row["shard"])
            else:
                m, k, n_items = m0, k0, 0
                bits = np.zeros(m // 8, dtype=np.uint8)
                shard = int(new_pdf["shard"].iloc[0])
            if len(new_pdf):
                pos = _positions(new_pdf["h"].to_numpy(np.int64), m, k).ravel()
                np.bitwise_or.at(
                    bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8)
                )
            return pd.DataFrame(
                [
                    {
                        "shard": shard,
                        "bitset": bits.tobytes(),
                        "n_items": n_items + len(new_pdf),
                        "m_bits": m,
                        "k_hashes": k,
                    }
                ]
            )

        sharded = self._sharded(new, hash_col)
        if cur is None:
            merged = sharded.groupBy("shard").applyInPandas(
                lambda pdf: or_in(pdf, pd.DataFrame()), _BLOOM_SCHEMA
            )
        else:
            merged = (
                sharded.groupBy("shard")
                .cogroup(cur.groupBy("shard"))
                .applyInPandas(or_in, _BLOOM_SCHEMA)
            )
        m = {"num_shards": self.num_shards, **(metrics or {})}
        return self.table.overwrite(merged, metrics=m)

    def max_load(self, spark: SparkSession) -> float:
        """max over shards of n_items / sized capacity — a tiny job on
        the num_shards-row filter table; > 1.0 means fpp has decayed
        past target and a rebuild is due."""
        df = self.table.read(spark)
        if df is None:
            return 0.0
        top = df.agg(F.max("n_items").alias("n")).first()["n"]
        return float(top or 0) / float(self.expected_per_shard)

    def rebuild(
        self,
        seen: DataFrame,
        hash_col: str = "url_hash",
        expected_per_shard: int | None = None,
        metrics: dict | None = None,
    ) -> int:
        """Full rebuild from the seen table (the ONLY path that scans
        it) — run on overload or at compaction, and after an
        invalidation, never per wave. Without ``expected_per_shard``
        the new capacity is sized from the actual item count with 2×
        headroom (the rebuild scans seen anyway, so the count is free),
        floored at double the current size so rebuilds amortize
        geometrically; pass the current capacity to keep the geometry."""
        if expected_per_shard is not None:
            self.expected_per_shard = expected_per_shard
        else:
            n = seen.count()
            self.expected_per_shard = max(
                self.expected_per_shard * 2,
                2 * (n // self.num_shards + 1),
            )
        built = BloomFilterTable.build(
            seen,
            hash_col=hash_col,
            num_shards=self.num_shards,
            expected_per_shard=self.expected_per_shard,
            fpp=self.fpp,
        )
        m = {"rebuild": True, "num_shards": self.num_shards, **(metrics or {})}
        return self.table.overwrite(built.df, metrics=m)


def url_seen_anti_join(
    new: DataFrame,
    seen: DataFrame,
    key: str = "url_hash",
    url_col: str = "canonical_url",
    bloom: BloomFilterTable | None = None,
) -> DataFrame:
    """Rows of ``new`` whose URL is not in ``seen`` — the J2 dedup
    (download_filings.py:151-158) as a hash anti-join, optionally
    Bloom-pre-filtered.

    Joins on (hash, url) pair so a 64-bit hash collision can never
    drop a genuinely-new URL.

    The Bloom-flagged frame feeds both the definitely-new and the
    suspect branch, so it is materialized once (a lazy local
    checkpoint): the pandas probe runs once per candidate row instead
    of once per branch. The probe is deterministic, so a lost
    checkpoint block fails the job loudly and can never change the
    result.
    """
    seen_keys = seen.select(key, url_col).dropDuplicates([key, url_col])
    if bloom is None:
        return new.join(seen_keys, on=[key, url_col], how="left_anti")
    flagged = bloom.maybe_contains(new, hash_col=key).localCheckpoint(eager=False)
    definitely_new = flagged.filter(~F.col("bloom_maybe_seen")).drop("bloom_maybe_seen")
    suspects = flagged.filter(F.col("bloom_maybe_seen")).drop("bloom_maybe_seen")
    rechecked = suspects.join(seen_keys, on=[key, url_col], how="left_anti")
    return definitely_new.unionByName(rechecked)
