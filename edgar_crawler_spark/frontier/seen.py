"""URL-seen set at scale: partitioned Bloom pre-filter + exact anti-join.

Semantics reproduced: the reference keeps a new index row only if its
``html_index`` does not appear in the old metadata table — an O(n²)
scalar scan per row (download_filings.py:151-158). The exact Spark
equivalent is a hash ``left_anti`` join; at 10^10 URLs the anti-join
shuffles the full seen table every wave, so we put a partitioned Bloom
filter in front:

* BUILD — seen urls hashed (xxhash64), sharded by
  ``pmod(url_hash, num_shards)``; each shard's bitset built by an
  Arrow-batched applyInPandas (numpy bit ops). A shard is one row per
  layer: (shard, bitset binary, n_items, m_bits, k_hashes).
* GROW — the persisted filter is a per-shard scalable Bloom filter
  (Almeida et al., IPL 2007): a shard's first layer is sized from its
  first batch; a batch that would overfill the newest layer starts a
  new one with at least twice its capacity and one more hash (half its
  false-positive rate), so bytes follow the seen set and the compound
  rate stays under target. A layer's capacity is read from its stored
  (m_bits, k_hashes), never from a constructor value.
* CHECK — candidates repartitioned by the same shard key, cogrouped
  with the bloom table (each shard's layers travel to exactly one
  partition — never broadcast, never per-row), membership tested
  vectorized; "maybe" if any layer of the shard says so.
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


def _set_bits(bits: np.ndarray, hashes: np.ndarray, m: int, k: int) -> None:
    """OR the k positions of every hash into ``bits`` (in place)."""
    pos = _positions(hashes, m, k).ravel()
    np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))


def _hits(bits: np.ndarray, hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """Per hash: whether all k of its positions are set."""
    pos = _positions(hashes, m, k)  # (k, n)
    return ((bits[(pos >> 3).astype(np.int64)] >> (pos & 7).astype(np.uint8)) & 1).all(axis=0)


# smallest first layer of a persisted shard, in items
_LAYER_FLOOR = 64


def _layer_bits(capacity: int, k: int) -> int:
    """Bits of a layer that holds ``capacity`` items with k hashes at
    most half full — where its false-positive rate is at most 2^-k."""
    m = math.ceil(capacity * k / math.log(2))
    return (m + 63) & ~63


def _capacity(m: int, k: int) -> int:
    """Items a stored layer holds before it passes half full: the
    inverse of ``_layer_bits``, read from the layer's own geometry."""
    return int(m * math.log(2) / k + 1e-9)


class BloomFilterTable:
    """A DataFrame of Bloom bitsets over xxhash64(url), one row per
    layer of each shard (``build`` makes one layer per shard)."""

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
                _set_bits(bits, pdf["h"].to_numpy(np.int64), m, k)
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
        shard: each shard's layers meet exactly its own candidate
        partition; a candidate is a maybe if any layer holds it."""
        out_schema = StructType(
            candidates.schema.fields + [StructField("bloom_maybe_seen", BooleanType())]
        )
        cand_cols = [f.name for f in candidates.schema.fields]

        def check(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(cand_pdf):
                return pd.DataFrame(columns=cand_cols + ["bloom_maybe_seen"])
            out = cand_pdf[cand_cols].copy()
            h = cand_pdf[hash_col].to_numpy(np.int64)
            hit = np.zeros(len(h), dtype=bool)  # no layer ⇒ nothing seen
            for row in bloom_pdf.itertuples(index=False):
                bits = np.frombuffer(row.bitset, dtype=np.uint8)
                hit |= _hits(bits, h, int(row.m_bits), int(row.k_hashes))
            out["bloom_maybe_seen"] = hit
            return out

        shard = F.pmod(F.col(hash_col), F.lit(self.num_shards)).cast("int")
        cand_g = candidates.withColumn("__shard", shard).groupBy("__shard")
        bloom_g = self.df.groupBy("shard")
        return cand_g.cogroup(bloom_g).applyInPandas(check, out_schema)


class PersistedBloomTable:
    """Incrementally-maintained scalable Bloom filter: per-shard layers
    persisted in a :class:`SnapshotTable`, updated with ONLY the new
    hashes at each wave commit — the seen table is never re-scanned or
    re-hashed (VERDICT r01 item 3: the per-submit
    ``BloomFilterTable.build`` full rebuild was the scale-killer this
    replaces).

    Invariants:
    * filter ⊇ seen — ``update`` is committed strictly BEFORE the seen
      append in the wave protocol, so the filter can never miss a seen
      URL (a miss would skip the exact recheck and re-admit a fetched
      URL). Extra bits from a crash between the two commits are mere
      false positives — the FP direction is safe by construction.
    * sized by what it holds — a shard's first layer holds twice its
      first batch (at least ``_LAYER_FLOOR`` items) at k₀ hashes, where
      2^-(k₀-1) ≤ fpp. New hashes OR into the newest layer (the one
      with the most bits); a batch that would take it past capacity
      starts a layer with at least double the capacity and k+1 hashes,
      so the layers' rates sum to under 2^-(k₀-1) ≤ fpp. Capacities are
      derived from each row's stored (m_bits, k_hashes), so a reopened
      filter grows exactly as the one that wrote it would, and a
      single-row-per-shard table from before layering reads as a
      one-layer filter.
    * no deletes — a Bloom bit cannot be cleared, so removing URLs from
      seen (``CrawlFrontier.invalidate``) rebuilds the layers from the
      rewritten seen table; ``CrawlFrontier.compact`` rebuilds too,
      folding every shard back into one layer sized from seen.
    """

    def __init__(self, table, num_shards: int = 32, fpp: float = 0.01):
        self.table = table
        self.num_shards = num_shards
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

    def _layered(self, new: DataFrame, hash_col: str, cur: DataFrame | None) -> DataFrame:
        """Every shard's layers after adding ``new``'s hashes to ``cur``
        (None: an empty filter). Shards ``new`` does not touch are
        carried through the cogroup unchanged."""
        k0 = math.ceil(math.log2(2 / self.fpp))

        def grow(new_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if not len(new_pdf):
                return bloom_pdf
            layers = bloom_pdf.sort_values("m_bits").to_dict("records") if len(bloom_pdf) else []
            h = new_pdf["h"].to_numpy(np.int64)
            top = layers[-1] if layers else None
            if top is None:
                cap, k = max(_LAYER_FLOOR, 2 * len(h)), k0
            elif top["n_items"] + len(h) > _capacity(top["m_bits"], top["k_hashes"]):
                cap = max(2 * _capacity(top["m_bits"], top["k_hashes"]), 2 * len(h))
                k = int(top["k_hashes"]) + 1
            else:
                cap = None  # the batch fits the newest layer
            if cap is not None:
                m = _layer_bits(cap, k)
                top = {
                    "shard": int(new_pdf["shard"].iloc[0]),
                    "bitset": bytes(m // 8),
                    "n_items": 0,
                    "m_bits": m,
                    "k_hashes": k,
                }
                layers.append(top)
            bits = np.frombuffer(top["bitset"], dtype=np.uint8).copy()
            _set_bits(bits, h, int(top["m_bits"]), int(top["k_hashes"]))
            top["bitset"] = bits.tobytes()
            top["n_items"] += len(h)
            return pd.DataFrame(layers, columns=_BLOOM_SCHEMA.fieldNames())

        sharded = new.select(
            F.col(hash_col).alias("h"),
            F.pmod(F.col(hash_col), F.lit(self.num_shards)).cast("int").alias("shard"),
        )
        if cur is None:
            empty = pd.DataFrame(columns=_BLOOM_SCHEMA.fieldNames())
            return sharded.groupBy("shard").applyInPandas(
                lambda pdf: grow(pdf, empty), _BLOOM_SCHEMA
            )
        return (
            sharded.groupBy("shard")
            .cogroup(cur.groupBy("shard"))
            .applyInPandas(grow, _BLOOM_SCHEMA)
        )

    def update(self, new: DataFrame, hash_col: str = "url_hash", metrics: dict | None = None) -> int:
        """Add the new hashes to the persisted layers. Touches only the
        filter table (bytes proportional to the seen set), never the
        seen parquet."""
        self._guard_shard_count()
        merged = self._layered(new, hash_col, self.table.read(new.sparkSession))
        m = {"num_shards": self.num_shards, **(metrics or {})}
        return self.table.overwrite(merged, metrics=m)

    def rebuild(self, seen: DataFrame, hash_col: str = "url_hash", metrics: dict | None = None) -> int:
        """Full rebuild from the seen table (the ONLY path that scans
        it): every shard becomes one layer sized from its own seen rows,
        as if they were its first batch. Run after an invalidation, at
        compaction and to migrate a workdir without a filter — never
        per wave."""
        built = self._layered(seen, hash_col, None)
        m = {"rebuild": True, "num_shards": self.num_shards, **(metrics or {})}
        return self.table.overwrite(built, metrics=m)


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
