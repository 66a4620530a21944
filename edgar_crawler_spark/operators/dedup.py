"""Deduplication operators for a large-scale training-data pipeline,
over a ``documents(doc_id, text, lang, source, n_chars)`` table.

All four families are expressed as DataFrame transformations whose
every stage is a standard shuffle-aware primitive (explode → groupBy →
join); nothing touches Python row-at-a-time.

Scale notes (100 TB):
* exact     — one hash-groupBy; the md5 shuffle key is tiny vs text.
* minhash   — explode(tokens) is the big flatMap; signatures are
  k longs per doc; the LSH band join shuffles only (band, key) pairs,
  never text. Candidate verification joins back by doc_id.
* simhash   — same explode, then a 32-way bit unpivot (sequence +
  explode) and one groupBy; output one long per doc.
* jaccard   — token self-join is quadratic per token; cap token
  document-frequency (stop-token removal) before joining at scale.

Persisted indexes (near-dup against everything ingested, one batch at
a time): every index table — the LSH band table and its doc-hash twin,
the Hamming band table, ``similarity.IncrementalIVFIndex``'s vectors —
is a :class:`BucketedTable` (one hive layout at :data:`INDEX_BUCKETS`,
one compaction, one pruned read), and the LSH and Hamming indexes
share one candidate core, :func:`_bucket_candidates`.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from edgar_crawler_spark.operators.fanout import fanout
from edgar_crawler_spark.operators.hashing import h48_col

MINHASH_K = 8  # permutations
LSH_BANDS = 4  # k/BANDS rows per band
SIMHASH_BITS = 32


def tok_hash_array(text_col: F.Column, distinct: bool) -> F.Column:
    """array<long> of H48 over the whitespace tokens of one document,
    computed entirely INSIDE the row (split → filter → [array_distinct]
    → transform) — the zero-shuffle twin of :func:`tokens`: every
    duplicate (doc_id, tok) pair lives in the row it came from, so the
    per-doc dedup needs no exchange, and per-doc aggregates (min-hash,
    bit votes) fold over the array with no groupBy (guide §2.4)."""
    toks = F.filter(F.split(text_col, " "), lambda x: x != "")
    if distinct:
        toks = F.array_distinct(toks)
    return F.transform(toks, lambda t: h48_col(t))


def _hashed_docs(docs: DataFrame, text_col: str, distinct: bool) -> DataFrame:
    """(doc_id, __hs) rows for docs with ≥1 token. The emptiness
    filter is `length(trim(text)) > 0` — exactly equivalent to "the
    space-split token list is non-empty" (trim strips the space
    character, the tokenizer splits on it; NULL text fails both) —
    and runs BEFORE the fan-out, so empty docs never shuffle and the
    filter never touches split() or the md5 transform (a filter on the
    hash array would be pushed below the projection and run the
    transform twice per row)."""
    return (
        fanout(docs.filter(F.length(F.trim(F.col(text_col))) > 0))
        .select("doc_id", tok_hash_array(F.col(text_col), distinct).alias("__hs"))
    )


def tokens(docs: DataFrame, text_col: str = "text", dedup: bool = True) -> DataFrame:
    """(doc_id, tok) — whitespace tokens per document, distinct by
    default (set semantics for Jaccard's intersection join).

    ``dedup=False`` skips the (doc_id, tok) dropDuplicates — a FULL
    shuffle of the exploded token stream — for consumers whose
    aggregate is duplicate-insensitive (minhash: min() over token
    hashes is unchanged by repeats).

    Scale-adaptive fan-out before the explode: the documents scan is
    often a single small file (1 task), but the exploded token stream
    is 10-100× larger — fan out BEFORE the multiplication, not after
    (and not at all when the scan is already wide enough).
    """
    out = (
        fanout(docs)
        .select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return out.dropDuplicates(["doc_id", "tok"]) if dedup else out


def shingles(
    docs: DataFrame, k: int = 8, text_col: str = "text", dedup: bool = True
) -> DataFrame:
    """(doc_id, tok) — character k-gram shingles per doc, distinct by
    default (the shingling front-end of shingle→minhash→band→
    bucket-join); ``dedup=False`` as in :func:`tokens`.
    Generated JVM-side: explode over a position sequence + substring."""
    t = F.col(text_col)
    n = F.greatest(F.length(t) - k + 1, F.lit(0))
    out = (
        fanout(docs)
        .filter(n > 0)
        .select("doc_id", F.explode(F.sequence(F.lit(1), n)).alias("pos"), t.alias("__t"))
        .select("doc_id", F.expr(f"substring(__t, pos, {k})").alias("tok"))
    )
    return out.dropDuplicates(["doc_id", "tok"]) if dedup else out


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content hash: representative = min doc_id per
    md5(text). Returns (doc_id, text_md5, dup_count). No fan-out: the
    md5+partial-agg runs inside the scan task and ships only (hash,
    min, count) — repartitioning first means shuffling the full text,
    measured 2× slower at sf1.0."""
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count"))
        .select("doc_id", "text_md5", "dup_count")
    )


# Per-seed permutation family over the base hash. A plain affine map
# (a_i·h + b_i) with the 64-bit-safe coefficient range NEVER wraps its
# modulus for h < 2^48 — every "permutation" is then monotone in h, so
# all k seeds pick the SAME argmin token and the signature degenerates
# to k copies of one permutation (banding collapses to a single
# Bernoulli(J) trial and the agreeing-seed Jaccard estimator is
# constant 1 on any banded pair). The fix is an order-DESTROYING
# per-seed bit rotation before the affine map:
#     perm_i(h) = (rot48(h, r_i) · a_i + b_i) mod 2^48,
#     r_i = (11·i + 7) mod 48, a_i = 2·i + 3, b_i = 7·i + 1
# rot48 keeps everything under 2^48, a_i < 2^13 keeps the product
# under 2^61 — still inside signed-64 in both engines, but the
# rotation makes the argmin genuinely seed-dependent.
MASK48 = (1 << 48) - 1


def minhash_coeffs(k: int) -> list[tuple[int, int, int]]:
    """(rotation, multiplier, offset) per seed."""
    return [((11 * i + 7) % 48, 2 * i + 3, 7 * i + 1) for i in range(k)]


def _perm_col(h: F.Column, r: int, a: int, b: int) -> F.Column:
    rot = F.shiftleft(h.bitwiseAND(F.lit((1 << (48 - r)) - 1)), r).bitwiseOR(
        F.shiftright(h, 48 - r)
    )
    return (rot * F.lit(a) + F.lit(b)).bitwiseAND(F.lit(MASK48))


def minhash_wide(docs: DataFrame, k: int = MINHASH_K, text_col: str = "text") -> DataFrame:
    """(doc_id, m0..m{k-1}) — the k min-hashes as ONE row per doc with
    ZERO exchanges past the scan fan-out: token hashes are an in-row
    array (:func:`tok_hash_array`; min() is duplicate-insensitive so no
    distinct), and each signature is a ``least``-fold over that array.
    The long-form ``minhash_signatures`` and the band keys both derive
    from this frame without any groupBy — the r05 plan paid two full
    token-stream shuffles (distinct + signature groupBy) for the same
    numbers. Docs with no tokens drop out, exactly as the groupBy
    formulation did."""
    base = _hashed_docs(docs, text_col, distinct=False)
    # NB: HOF lambdas must be built by a closure factory — a default
    # arg (lambda acc, h, _c=...) makes PySpark count THREE lambda
    # parameters and bind the third as a lambda variable (CLAUDE.md
    # round-1 gotcha; NOT_ITERABLE at py4j otherwise)
    def _minfold(r: int, a: int, b: int):
        return lambda acc, h: F.least(acc, _perm_col(h, r, a, b))

    coeffs = minhash_coeffs(k)
    return base.select(
        "doc_id",
        *[
            F.aggregate(
                "__hs", F.lit(MASK48).cast("long"), _minfold(r, a, b)
            ).alias(f"m{i}")
            for i, (r, a, b) in enumerate(coeffs)
        ],
    )


def _explode_wide_sigs(wide: DataFrame, k: int) -> DataFrame:
    return wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("seed"), F.col(f"m{i}").alias("minhash"))
                    for i in range(k)
                ]
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.seed").cast("int").alias("seed"), F.col("s.minhash").alias("minhash"))


def minhash_signatures(
    docs: DataFrame, k: int = MINHASH_K, tokenizer=tokens
) -> DataFrame:
    """(doc_id, seed, minhash) — k independent min-hashes per doc.
    Default (whitespace) tokenization folds in-row over the token-hash
    array (:func:`minhash_wide`) — no shuffle at all; the long form is
    a narrow explode of the wide row. Custom tokenizers (char
    shingles) keep the long-form pipeline: ONE md5 per token and k
    permutations as k aggregate expressions in a single
    map-side-combined groupBy — the token stream is never multiplied
    by k."""
    if tokenizer is tokens:
        return _explode_wide_sigs(minhash_wide(docs, k), k)
    try:
        # min() is duplicate-insensitive: skip the tokenizer's
        # (doc_id, tok) distinct — one full token-stream shuffle saved
        toks = tokenizer(docs, dedup=False)
    except TypeError:  # custom tokenizer without the dedup knob
        toks = tokenizer(docs)
    toks = toks.withColumn("h", h48_col(F.col("tok")))
    coeffs = minhash_coeffs(k)
    wide = toks.groupBy("doc_id").agg(
        *[
            F.min(_perm_col(F.col("h"), r, a, b)).alias(f"m{i}")
            for i, (r, a, b) in enumerate(coeffs)
        ]
    )
    return _explode_wide_sigs(wide, k)


LSH_BUCKET_CAP = 64


def band_rows_from_wide(wide: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, band, band_key) straight off the wide signature row —
    band_key is a concat of that band's minhashes in seed order, built
    per-row and exploded: no groupBy, no exchange (the long-form
    ``band_rows_from_sigs`` needs a (doc_id, band) groupBy because seed
    rows arrive separately). Band assignment mirrors the long form
    exactly: band = seed // (k // bands), INCLUDING the remainder band
    when bands does not divide k (seeds k - k%bands .. k-1 land in
    band `bands`, a short extra band — dropping them would silently
    lose recall vs indexes built by the long-form path)."""
    rows_per_band = k // bands
    groups: dict[int, list[int]] = {}
    for seed in range(k):
        groups.setdefault(seed // rows_per_band, []).append(seed)
    return wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.concat_ws(
                            ",",
                            *[F.col(f"m{s}").cast("string") for s in seeds],
                        ).alias("band_key"),
                    )
                    for b, seeds in sorted(groups.items())
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def band_rows(
    docs: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS, tokenizer=tokens
) -> DataFrame:
    """(doc_id, band, band_key) — each doc's banded LSH bucket keys
    (band key = that band's minhashes in seed order). Default
    tokenization goes wide-row → per-row band keys (zero exchanges);
    custom tokenizers keep the long-form groupBy. Shared by the
    one-shot pair join and the persisted incremental index."""
    if tokenizer is tokens:
        return band_rows_from_wide(minhash_wide(docs, k), k, bands)
    sigs = minhash_signatures(docs, k, tokenizer=tokenizer)
    return band_rows_from_sigs(sigs, k, bands)


def band_rows_from_sigs(sigs: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS) -> DataFrame:
    """Band keys from an EXISTING signature frame — lets a caller that
    also needs the signatures (verification) share one sigs subtree so
    Spark's exchange reuse executes the token pipeline once."""
    rows_per_band = k // bands
    return (
        sigs.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "minhash"))),
                    lambda x: x["minhash"].cast("string"),
                ),
                ",",
            ).alias("band_key")
        )
    )


# the one layout of every persisted index (LSH, Hamming, IVF): each
# commit writes its rows under ``<col>=<0..INDEX_BUCKETS-1>`` and a
# query reads only the buckets it touches
INDEX_BUCKETS = 16


class BucketedTable:
    """A snapshot table in the persisted-index layout: rows
    hive-partitioned under ``<col>=<bucket>`` by ``bucket``, a pure
    expression over the data columns with values in
    ``[0, INDEX_BUCKETS)``. The bucket column is recomputed on every
    write and never stored, so the table's data columns are all a
    reader sees. Every commit is stamped with the bucket count plus
    the owner's ``stamp``.

    * :meth:`append` / :meth:`write` — repartition on the bucket (one
      file per bucket per commit) and commit partitioned; ``append``
      skips an empty batch's commit (an empty hive write creates a
      partition-less data dir).
    * :meth:`migrate` — on reopen, a table whose latest commit is in
      another layout (a flat table, another bucket count) is rewritten
      once by :meth:`compact`.
    * :meth:`compact` — folds every commit into one data dir, keeping
      the layout and dropping exact duplicate rows (the only trace a
      crash-replayed append leaves, since every index row is a pure
      function of its input).
    * :meth:`touched` / :meth:`read` — the buckets a frame's rows hash
      into (a ≤ INDEX_BUCKETS-row collect) and the read of only those
      hive subdirs (directory stats, no scan); ``last_dirs`` records
      the planned dirs."""

    def __init__(self, spark, table, col: str, bucket: F.Column, stamp: dict | None = None):
        self.spark, self.table, self.col = spark, table, col
        self.bucket = bucket.cast("int")
        self.stamp = {**(stamp or {}), "n_buckets": INDEX_BUCKETS}
        self.last_dirs: list[str] | None = None

    def in_layout(self) -> bool:
        """True when the table holds no rows or its latest commit is in
        this layout (bucket-count stamp and manifest agree)."""
        m = self.table.latest_manifest()
        return not m["files"] or (
            (m.get("metrics") or {}).get("n_buckets") == INDEX_BUCKETS
            and m.get("partition_by") == [self.col]
        )

    def migrate(self) -> None:
        if not self.in_layout():
            self.compact()

    def write(self, mode: str, rows: DataFrame, **metrics) -> int:
        return getattr(self.table, mode)(
            rows.withColumn(self.col, self.bucket).repartition(INDEX_BUCKETS, self.col),
            metrics={**metrics, **self.stamp},
            partition_by=[self.col],
        )

    def append(self, rows: DataFrame, docs: int, **metrics) -> int | None:
        """Commit a batch of ``docs`` input rows; None (no commit) when
        the batch is empty."""
        return self.write("append", rows, docs=docs, **metrics) if docs else None

    def compact(self) -> int:
        df = self.table.read(self.spark)
        if df is None:
            return self.table.current_version()
        return self.write("overwrite", df.dropDuplicates(), compaction=True)

    def touched(self, rows: DataFrame) -> list[int]:
        return [r[0] for r in rows.select(self.bucket).distinct().collect()]

    def read(self, buckets: list[int]) -> DataFrame | None:
        self.last_dirs = self.table.pruned_paths(self.col, buckets)
        return self.table.read_pruned(self.spark, self.col, buckets)


def _xx_bucket(*cols: str) -> F.Column:
    return F.pmod(F.xxhash64(*cols), F.lit(INDEX_BUCKETS))


def _bucket_candidates(
    store: BucketedTable, new_rows: DataFrame, key: str, bucket_cap: int
) -> tuple[DataFrame, bool]:
    """The candidate core of the banded indexes: every (a, b) row pair
    sharing a ``(band, key)`` bucket with ``a`` in the new batch and
    ``b`` in batch ∪ corpus, ``a.doc_id != b.doc_id``; and whether the
    touched buckets held any corpus rows.

    Only buckets the batch touches can produce pairs, so the corpus is
    read pruned to the batch's hive buckets and semi-joined to its band
    keys before any aggregate or join: per-batch shuffle is proportional
    to rows in touched buckets, never to the corpus. Index rows are a
    pure function of their doc, so a crash-replayed batch re-appends
    exact duplicates: the corpus slice drops them, and the copies of
    any doc that is in this batch too (its fresh rows win), which keeps
    bucket sizes honest under the cap. ``bucket_cap`` is applied over
    batch ∪ corpus: a bucket that outgrows it stops emitting from then
    on (pairs already emitted are not retracted). No forced broadcast:
    a daily slice AQE broadcasts on its own, a bulk backfill must not
    OOM the driver."""
    band = ["band", key]
    old = store.read(store.touched(new_rows))
    relevant = new_rows
    if old is not None:
        relevant = new_rows.unionByName(
            old.join(new_rows.select(*band).dropDuplicates(), band, "left_semi")
            .dropDuplicates()
            .join(new_rows.select("doc_id").dropDuplicates(), "doc_id", "left_anti")
        )
    ok = (
        relevant.groupBy(*band)
        .agg(F.count("*").alias("__sz"))
        .filter(F.col("__sz") <= bucket_cap)
        .drop("__sz")
    )
    a = new_rows.join(ok, band, "left_semi").alias("a")
    b = relevant.join(ok, band, "left_semi").alias("b")
    return a.join(b, band).filter(F.col("a.doc_id") != F.col("b.doc_id")), old is not None


class IncrementalLSHIndex:
    """Persisted banded-LSH bucket table: near-dup candidate pairs for
    a NEW batch of documents against everything already ingested,
    without recomputing the corpus — the 100 TB ingestion shape (daily
    crawl slices deduped against the whole history). The URL-seen
    twin on the document side: PersistedBloomTable answers 'seen this
    exact key?', this answers 'near-duplicate of anything so far?'.

    State is one snapshot table of (doc_id, band, band_key) rows —
    MINHASH_K/LSH_BANDS integers per doc, NOT the token stream —
    appended per batch with the same crash-safe manifest commits as
    the frontier tables, in the :class:`BucketedTable` layout with
    ``kb = pmod(xxhash64(band, band_key), INDEX_BUCKETS)``. ``add(batch)``
    re-signs only the batch and returns every candidate pair touching
    it (batch×corpus plus batch-internal) from the shared candidate
    core :func:`_bucket_candidates`, which reads only the kb buckets
    the batch touches. ``bucket_cap`` matches the batch operator exactly
    whenever no bucket ever exceeds the cap. The signature shape is the
    module's (MINHASH_K, LSH_BANDS) and is not settable: the table does
    not stamp it, so a reopen with another shape would compute other
    band keys.

    ``min_sim`` additionally maintains a TWIN copy of the band rows
    under ``<path>/_bydoc`` in the same layout with ``db =
    pmod(xxhash64(doc_id), INDEX_BUCKETS)``: the dispose leg needs
    every band row of the candidate-member docs (non-matching bands
    count against the agreeing-seed estimate), and those rows scatter
    across ALL kb buckets — a doc-hash layout puts each doc's rows in
    exactly one bucket, so the dispose read prunes to the members'
    buckets instead of scanning the whole index.  Storage doubles
    (still k integers per doc — nothing next to the text); the twin
    commit is stamped with the main-table version it mirrors, and a
    reopen or compaction whose stamps disagree (crash between the two
    appends, ``min_sim`` enabled on a pre-twin table, a rewritten main
    table) rebuilds the twin from the main table — self-healing, no
    rollback protocol."""

    def __init__(
        self,
        spark,
        path: str,
        bucket_cap: int = LSH_BUCKET_CAP,
        min_sim: float | None = None,
    ):
        import os

        from edgar_crawler_spark.frontier.state import SnapshotTable

        self.spark = spark
        self._kb = BucketedTable(spark, SnapshotTable(path), "kb", _xx_bucket("band", "band_key"))
        self.table = self._kb.table
        self.bucket_cap = bucket_cap
        self.min_sim = min_sim
        self._db = (
            BucketedTable(spark, SnapshotTable(os.path.join(path, "_bydoc")), "db", _xx_bucket("doc_id"))
            if min_sim is not None
            else None
        )
        self.bydoc = self._db.table if self._db is not None else None
        self._kb.migrate()
        self._sync_twin()

    @property
    def last_scan_dirs(self) -> list[str] | None:
        return self._kb.last_dirs

    @property
    def last_dispose_dirs(self) -> list[str] | None:
        return self._db.last_dirs if self._db is not None else None

    def _sync_twin(self) -> None:
        """Rebuild the doc-hash twin from the main table (a one-time
        full scan) unless it is in its layout and mirrors the main
        table's current version."""
        main_v = self.table.current_version()
        if self._db is None or not main_v:
            return
        mirrored = int(self.bydoc.latest_metrics().get("main_version", -1))
        if mirrored != main_v or not self._db.in_layout():
            self._db.write("overwrite", self.table.read(self.spark), main_version=main_v)

    def compact(self) -> int:
        """Fold the per-batch commits into one data dir in the same
        layout, replayed rows dropped (:meth:`BucketedTable.compact`),
        and rebuild the twin from the result."""
        v = self._kb.compact()
        self._sync_twin()
        return v

    def add(self, docs: DataFrame) -> DataFrame:
        """Ingest a batch; returns distinct (doc_a, doc_b) candidate
        pairs (lexicographic order) with at least one batch member.
        The returned frame is materialized (the state append must not
        recompute through it)."""
        new_rows = band_rows(docs).persist()
        cand, has_corpus = _bucket_candidates(self._kb, new_rows, "band_key", self.bucket_cap)
        pairs = cand.select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        ).dropDuplicates()
        if self.min_sim is not None:
            # dispose step: the persisted band keys ARE the signatures
            # (rows_per_band minhashes each), so the agreeing-seed
            # Jaccard estimate reconstructs from the index itself. It
            # needs member docs' band rows across ALL bands, which the
            # doc-hash TWIN serves: materialize the candidates once (they
            # feed both the db collect and the verify join), then read
            # only the members' db buckets. Without corpus rows in the
            # touched buckets every member is a batch doc, and the batch
            # holds its rows.
            if has_corpus:
                pairs = pairs.localCheckpoint()
            members = (
                pairs.select(F.col("doc_a").alias("doc_id"))
                .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
                .dropDuplicates()
            )
            all_bands = new_rows
            if has_corpus:
                full_old = self._db.read(self._db.touched(members))
                if full_old is not None:
                    all_bands = new_rows.unionByName(
                        full_old.dropDuplicates().join(
                            new_rows.select("doc_id").dropDuplicates(), "doc_id", "left_anti"
                        )
                    )
            mb = all_bands.join(members, "doc_id", "left_semi")
            exploded = mb.select(
                "doc_id", "band", F.posexplode(F.split("band_key", ",")).alias("pos", "mh")
            )
            ea = exploded.select(
                F.col("doc_id").alias("doc_a"), "band", "pos", F.col("mh").alias("mh_a")
            )
            eb = exploded.select(
                F.col("doc_id").alias("doc_b"), "band", "pos", F.col("mh").alias("mh_b")
            )
            pairs = (
                pairs.join(ea, "doc_a")
                .join(eb, ["doc_b", "band", "pos"])
                .groupBy("doc_a", "doc_b")
                .agg(
                    F.round(
                        F.avg((F.col("mh_a") == F.col("mh_b")).cast("double")), 6
                    ).alias("est_jaccard")
                )
                .filter(F.col("est_jaccard") >= self.min_sim)
            )
        # eager localCheckpoint: materialize before the state append
        # (the result must not recompute through the mutated table)
        # without handing the caller a persist() it can never release —
        # checkpoint blocks are GC'd when the frame is dropped
        pairs = pairs.localCheckpoint()
        n_docs = docs.count()
        v = self._kb.append(new_rows, n_docs)
        if v is not None and self._db is not None:
            # a crash between these two commits leaves the twin's stamp
            # behind and the next open rebuilds the twin (_sync_twin)
            self._db.append(new_rows, n_docs, main_version=v)
        new_rows.unpersist()
        return pairs


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
    tokenizer=tokens,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: docs sharing any
    band (a group of k/bands consecutive minhashes) become a pair.
    Returns distinct (doc_a, doc_b), doc_a < doc_b.

    ``bucket_cap`` drops band buckets holding more than that many docs
    before the self-join — the standard production guard against the
    quadratic blowup of degenerate buckets (a bucket of 10^5 docs is
    10^10 pairs and carries almost no signal). The cap is explicit and
    mirrored in the DuckDB oracle, not silent.

    Default tokenization lazily localCheckpoints the banded frame: the
    wide-row pipeline has no exchange for the cap/join consumers to
    reuse, so without it the token-hash pass ran once per consumer
    (measured 0.7 s of a 2.8 s query at sf1.0). Custom tokenizers keep
    the long form, whose banded groupBy exchange is reused naturally.
    """
    banded = band_rows(docs, k, bands, tokenizer=tokenizer)
    if tokenizer is tokens:
        banded = banded.localCheckpoint(eager=False)
    return _pairs_from_banded(banded, bucket_cap)


def _pairs_from_banded(banded: DataFrame, bucket_cap: int) -> DataFrame:
    bucket_sizes = banded.groupBy("band", "band_key").agg(F.count("*").alias("__sz"))
    capped = banded.join(
        bucket_sizes.filter(F.col("__sz") <= bucket_cap).drop("__sz"),
        on=["band", "band_key"],
        how="left_semi",
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(b, on=["band", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard over all pairs sharing >=1 token:
    |A∩B| via token self-join, |A∪B| = |A|+|B|−|A∩B|.
    Returns (doc_a, doc_b, jaccard) for pairs >= threshold.

    ``max_df`` caps token document-frequency BEFORE the self-join: a
    token appearing in more than ``max_df`` documents is dropped from
    both the intersection join and the per-doc set sizes (i.e. Jaccard
    is computed over the df-filtered token sets — consistent on both
    sides of the ratio). This is the standard stop-token guard: one
    token shared by 10^6 docs otherwise makes the ``a.join(b, on='tok')``
    emit ~10^12 rows. The cap is explicit and mirrored in the DuckDB
    oracle (same pattern as ``bucket_cap`` in :func:`minhash_lsh_pairs`).
    """
    toks = tokens(docs, text_col)
    if max_df is not None:
        dfs = toks.groupBy("tok").agg(F.count("*").alias("__df"))
        toks = toks.join(
            dfs.filter(F.col("__df") <= max_df).drop("__df"),
            on="tok",
            how="left_semi",
        )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, on="tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash_band_bounds(bits: int, bands: int) -> list[tuple[int, int, int]]:
    """(band_index, start_bit, width) slices covering ``bits`` bits in
    ``bands`` contiguous bands, widths as even as possible. Shared by
    the Spark operator and the DuckDB oracle generator so both engines
    band identically."""
    base, extra = divmod(bits, bands)
    bounds, start = [], 0
    for j in range(bands):
        w = base + (1 if j < extra else 0)
        bounds.append((j, start, w))
        start += w
    return bounds


def _hamming_banded(df: DataFrame, id_col: str, hash_col: str, bounds) -> DataFrame:
    sk = F.col(hash_col)
    return df.select(
        F.col(id_col).alias("__id"),
        sk.alias("__sk"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        # w == 64 (single-band layout, e.g. max_hamming=0
                        # exact match): the mask literal 2^64-1 would be
                        # DECIMAL, not LONG — mask with -1 (all bits set)
                        F.expr(
                            f"({hash_col} >> {start}) & {(1 << w) - 1 if w < 64 else -1}"
                        ).alias("byteval"),
                    )
                    for j, start, w in bounds
                ]
            )
        ).alias("b"),
    ).select("__id", "__sk", F.col("b.j").alias("j"), F.col("b.byteval").alias("byteval"))


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int,
    max_hamming: int = 6,
    bands: int | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance over ANY integer sketch
    column (SimHash over text, perceptual aHash over images, …) via
    banded candidate generation: split the sketch into ``bands``
    contiguous bit slices (default ``max_hamming + 1``). By pigeonhole,
    any pair within Hamming ≤ max_hamming differs in at most
    max_hamming bands, so it MUST agree exactly on at least one band —
    candidate recall is guaranteed, not heuristic. Candidates are pairs
    agreeing on ANY band (key-equality join, no cross join), verified
    by exact bit_count(xor). Returns (id_a, id_b, hamming) named after
    ``id_col``: (doc_a, doc_b, hamming) when id_col='doc_id'.

    ``corpus`` switches to the incremental shape: pairs of ``df``
    (the new slice) against ``df ∪ corpus``, WITHOUT ever forming
    corpus×corpus candidates — at 10^10 ingested rows the candidate
    join is new×all, not all×all. Ids must be disjoint from the
    corpus; corpus-internal pairs are by definition already known."""
    if bands is None:
        bands = max_hamming + 1
    prefix = id_col.split("_")[0] if id_col.endswith("_id") else id_col
    out_a, out_b = f"{prefix}_a", f"{prefix}_b"
    bounds = simhash_band_bounds(bits, bands)
    banded = _hamming_banded(df, id_col, hash_col, bounds)
    a = banded.alias("a")
    if corpus is None:
        b = banded.alias("b")
        pair_filter = F.col("a.__id") < F.col("b.__id")
    else:
        b = banded.unionByName(
            _hamming_banded(corpus, id_col, hash_col, bounds)
        ).alias("b")
        # asymmetric sides: a (old, new) pair can arrive in either id
        # order, so order explicitly and let the final distinct dedup
        pair_filter = F.col("a.__id") != F.col("b.__id")
    return (
        a.join(b, on=["j", "byteval"])
        .filter(pair_filter)
        .select(
            F.least(F.col("a.__id"), F.col("b.__id")).alias(out_a),
            F.greatest(F.col("a.__id"), F.col("b.__id")).alias(out_b),
            F.bit_count(F.col("a.__sk").bitwiseXOR(F.col("b.__sk"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates([out_a, out_b])
    )


class IncrementalHammingIndex:
    """Persisted banded-Hamming near-dup index over an integer sketch
    column (perceptual image hashes, SimHash): ``add(batch)`` returns
    EXACT pairs (id_a, id_b, hamming ≤ max_hamming) of the batch
    against everything ingested so far plus batch-internal — never
    corpus×corpus. The image-axis twin of :class:`IncrementalLSHIndex`
    and the same candidate core (:func:`_bucket_candidates`, keyed by
    ``byteval``), with one structural simplification: the stored sketch
    rides along in every band row, so verification is an exact
    ``bit_count(xor)`` inside the candidate join itself — no second
    corpus pass (the MinHash index needs its agreeing-seed estimate
    leg; Hamming does not).

    State is (doc_id, sketch, band, byteval) rows — bands+1 banding
    per the pigeonhole guarantee of :func:`hamming_near_dup_pairs` —
    appended with the same crash-safe manifest commits as the frontier
    tables, in the :class:`BucketedTable` layout with ``kb =
    pmod(xxhash64(band, byteval), INDEX_BUCKETS)``.  (bits, bands) are
    stamped into every commit, and a reopen with another (bits, bands)
    raises — a mismatched banding would compute different bytevals and
    silently miss pairs.  ``bucket_cap`` is the degenerate-bucket guard
    (every near-black thumbnail shares byteval 0), same contract as the
    LSH index."""

    def __init__(
        self,
        spark,
        path: str,
        bits: int = 64,
        max_hamming: int = 6,
        bands: int | None = None,
        bucket_cap: int = LSH_BUCKET_CAP,
    ):
        from edgar_crawler_spark.frontier.state import SnapshotTable

        self.spark = spark
        self.table = SnapshotTable(path)
        self.bits = bits
        self.max_hamming = max_hamming
        self.bands = bands if bands is not None else max_hamming + 1
        if self.bands <= max_hamming:
            raise ValueError("pigeonhole recall needs bands > max_hamming")
        self.bucket_cap = bucket_cap
        if self.table.current_version():
            m = self.table.latest_metrics()
            stamped = (int(m.get("bits", 0)), int(m.get("bands", 0)))
            mine = (self.bits, self.bands)
            if stamped != mine:
                raise ValueError(
                    f"Hamming index at {path} was written with (bits, bands)="
                    f"{stamped} but reopened with {mine} — a mismatched "
                    "banding would silently miss pairs"
                )
        self._kb = BucketedTable(
            spark, self.table, "kb", _xx_bucket("band", "byteval"),
            stamp={"bits": self.bits, "bands": self.bands},
        )
        self._kb.migrate()

    @property
    def last_scan_dirs(self) -> list[str] | None:
        return self._kb.last_dirs

    def _band_rows(self, df: DataFrame, id_col: str, hash_col: str) -> DataFrame:
        bounds = simhash_band_bounds(self.bits, self.bands)
        return _hamming_banded(df, id_col, hash_col, bounds).select(
            F.col("__id").alias("doc_id"),
            F.col("__sk").alias("sketch"),
            F.col("j").alias("band"),
            "byteval",
        )

    def compact(self) -> int:
        """Fold per-batch commits into one data dir in the same layout,
        replayed rows dropped (:meth:`BucketedTable.compact`)."""
        return self._kb.compact()

    def add(
        self, df: DataFrame, id_col: str = "image_id", hash_col: str = "phash"
    ) -> DataFrame:
        """Ingest a batch; returns distinct exact pairs (<prefix>_a,
        <prefix>_b, hamming) with at least one batch member, names per
        the :func:`hamming_near_dup_pairs` convention. The returned
        frame is materialized (it must not recompute through the state
        append)."""
        prefix = id_col.split("_")[0] if id_col.endswith("_id") else id_col
        out_a, out_b = f"{prefix}_a", f"{prefix}_b"
        new_rows = self._band_rows(df, id_col, hash_col).persist()
        cand, _ = _bucket_candidates(self._kb, new_rows, "byteval", self.bucket_cap)
        pairs = (
            cand.select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias(out_a),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias(out_b),
                F.bit_count(F.col("a.sketch").bitwiseXOR(F.col("b.sketch"))).alias(
                    "hamming"
                ),
            )
            .filter(F.col("hamming") <= self.max_hamming)
            .dropDuplicates([out_a, out_b])
        ).localCheckpoint()
        self._kb.append(new_rows, df.count())
        new_rows.unpersist()
        return pairs


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 6,
    bits: int = SIMHASH_BITS,
    bands: int | None = None,
) -> DataFrame:
    """Text near-dup pairs: SimHash sketch → banded Hamming join
    (see :func:`hamming_near_dup_pairs` for the recall guarantee)."""
    return hamming_near_dup_pairs(
        simhash(docs, bits), "doc_id", "simhash", bits, max_hamming, bands
    )


def phash_near_dup_pairs(
    payload: DataFrame,
    max_hamming: int = 6,
    id_col: str = "image_id",
    hash_col: str = "phash",
    bands: int | None = None,
) -> DataFrame:
    """IMAGE near-dup pairs over the payload table's 64-bit perceptual
    hash column (input_hint: phash int64) — the image-axis twin of
    SimHash text dedup, sharing the banded Hamming machinery. Returns
    (image_a, image_b, hamming)."""
    return hamming_near_dup_pairs(
        payload, id_col, hash_col, 64, max_hamming, bands
    )


def image_dedup_representatives(
    payload: DataFrame,
    max_hamming: int = 6,
    id_col: str = "image_id",
    hash_col: str = "phash",
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """The full image-dedup pipeline over the payload table: phash
    banded-Hamming candidate pairs → connected components → one
    representative per visual cluster (min image_id, or the best
    ``scores`` row when given — e.g. resolution w*h so the sharpest
    copy survives). The image-axis twin of the text path
    candidates→components→representatives; every stage is the same
    bucketed machinery."""
    pairs = phash_near_dup_pairs(payload, max_hamming, id_col, hash_col)
    pairs = pairs.withColumnRenamed("image_a", "doc_a").withColumnRenamed(
        "image_b", "doc_b"
    )
    if scores is None:
        return dedup_representatives(payload, pairs, id_col=id_col)
    return dedup_representatives_by(payload, pairs, scores, id_col=id_col, score_col=score_col)


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iterations: int = 25,
    check_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) over the near-duplicate pair graph —
    component = the minimum node id reachable from each node. This is
    the clustering step of production dedup: pair candidates →
    components → keep one representative per component.

    Min-label propagation WITH pointer doubling (VERDICT r02 item 4):
    each round a node takes min(own label, neighbors' labels), then
    compresses through its parent (label := label(label)) — the
    propagation front roughly doubles per round, so convergence is
    O(log diameter) instead of O(diameter) (a 1000-hop chain closes in
    ~10 rounds; the 25-round cap covers diameters beyond any real
    dataset). Doubling preserves the invariants that make the fixpoint
    the true component min: a label is always a node id inside the same
    component, and labels only decrease. Labels are
    localCheckpoint-truncated every round so the plan stays O(1).

    Convergence is counted every ``check_every`` rounds (one driver job
    per check, not per round — the r02 verdict's other complaint). If
    the cap is hit while labels are still moving this RAISES rather
    than returning silently-wrong components (ADVICE r02: downstream
    dedup_representatives would keep multiple docs per true cluster)."""
    edges = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
        )
        .dropDuplicates()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for it in range(1, max_iterations + 1):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy(edges["src"].alias("node2"))
            .agg(F.min("component").alias("nmin"))
        )
        propagated = labels.join(
            neighbor_min, labels["node"] == F.col("node2"), "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )
        # pointer doubling: follow one's parent's label. component ids
        # ARE node ids, so the parent always has a label row; labels
        # are monotone decreasing, hence least() is pure compression.
        parents = propagated.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        new_labels = (
            propagated.join(parents, propagated["component"] == F.col("p_node"), "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        if it % check_every == 0 or it == max_iterations:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), on="node")
                .filter(F.col("n.component") != F.col("o.component"))
                .count()
            )
            if changed == 0:
                labels = new_labels
                converged = True
                break
        labels = new_labels
    edges.unpersist()
    if stats is not None:
        stats["iterations"] = it
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds — component labels are still moving; raise "
            "max_iterations (doubling covers diameter ~2^rounds, so this "
            "indicates a pathological graph or a bug)"
        )
    return labels


def dedup_representatives(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Documents surviving near-dup removal: drop every pair-graph
    member that is not its component's minimum id; rows in no pair are
    singletons and survive. One anti-join against the (small) member
    list — the documents table is never shuffled."""
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    # shuffle-hash, never broadcast: losers is checkpoint-backed (no
    # stats) and at dedup-heavy corpora it is O(duplicate docs) — the
    # same mis-estimated-broadcast class as the fetch join-back
    return docs.join(losers.hint("shuffle_hash"), on=id_col, how="left_anti")


def minhash_verified_pairs(
    docs: DataFrame,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    bucket_cap: int = LSH_BUCKET_CAP,
    min_sim: float = 0.5,
    tokenizer=tokens,
) -> DataFrame:
    """Banded-LSH candidates VERIFIED by the signature-estimated
    Jaccard — the production two-step: the band join proposes, the
    fraction of agreeing minhash seeds disposes (an unbiased Jaccard
    estimator), with NO second pass over the token streams. Returns
    (doc_a, doc_b, est_jaccard) with est_jaccard ≥ ``min_sim``.

    Cost over raw candidates: one join of the signature table against
    the pair list (pairs are the small side after banding) — token
    data never re-shuffles. Default tokenization verifies against the
    WIDE one-row-per-doc signature frame (two doc_id-key joins of 1-row
    sides, agreeing-seed fraction as a flat k-term expression — the
    exact Σ/k the AVG over k seed rows computed, 0/1 sums in double are
    order-exact); custom tokenizers keep the long-form seed-row join."""
    if tokenizer is tokens:
        # three consumers (band keys + both verification legs) and no
        # shared exchange subtree to reuse — lazily localCheckpoint the
        # tiny (doc_id, k longs) frame so the token pipeline runs once
        wide = minhash_wide(docs, k).localCheckpoint(eager=False)
        pairs = _pairs_from_banded(band_rows_from_wide(wide, k, bands), bucket_cap)
        wa = wide.select(
            F.col("doc_id").alias("doc_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(k)]
        )
        wb = wide.select(
            F.col("doc_id").alias("doc_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(k)]
        )
        matches = F.lit(0.0)
        for i in range(k):
            matches = matches + F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1.0).otherwise(0.0)
        return (
            pairs.join(wa, "doc_a")
            .join(wb, "doc_b")
            .select("doc_a", "doc_b", F.round(matches / F.lit(float(k)), 6).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= min_sim)
        )
    sigs = minhash_signatures(docs, k, tokenizer=tokenizer)
    pairs = _pairs_from_banded(band_rows_from_sigs(sigs, k, bands), bucket_cap)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), "seed", F.col("minhash").alias("mh_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), "seed", F.col("minhash").alias("mh_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "seed"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.round(
                F.avg((F.col("mh_a") == F.col("mh_b")).cast("double")), 6
            ).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= min_sim)
    )


def dedup_representatives_by(
    docs: DataFrame,
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Near-dup removal keeping the BEST-scoring member per component
    (ties → lowest id) instead of the minimum id — the production
    semantics when a quality signal exists ('of the k copies, keep the
    cleanest'). ``scores`` is (id_col, score_col), e.g. the output of
    :func:`operators.text.quality_score`.

    Plan: components (pair-graph members only, small) join scores, ONE
    map-side-combined groupBy computing the argmax via max(struct) —
    the A6 aggregation-argmax pattern, deterministic under ties — then
    an anti-join of the full docs table against the loser set. Like
    :func:`dedup_representatives`, the big table is never shuffled and
    the checkpoint-backed loser side carries a shuffle_hash hint."""
    comps = connected_components(pairs)
    # LEFT join + -inf sentinel: a member missing from ``scores`` must
    # still be a loser candidate (an inner join would silently keep it
    # ALONGSIDE the winner, breaking one-representative-per-component)
    member_scores = comps.join(
        scores.select(F.col(id_col).alias("node"), F.col(score_col).alias("__s")),
        "node",
        "left",
    ).withColumn("__s", F.coalesce(F.col("__s"), F.lit(float("-inf"))))
    # argmax score, ties → lowest id, for ANY orderable id type:
    # min over (-score, id) == (score desc, id asc)
    winners = member_scores.groupBy("component").agg(
        F.min(F.struct((-F.col("__s")).alias("__ns"), F.col("node").alias("__n"))).alias("w")
    ).select(F.col("w.__n").alias("__winner"))
    losers = member_scores.join(
        winners.hint("shuffle_hash"),
        member_scores["node"] == F.col("__winner"),
        "left_anti",
    ).select(F.col("node").alias(id_col))
    return docs.join(losers.hint("shuffle_hash"), on=id_col, how="left_anti")


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) — classic Charikar sketch over token hashes:
    bit b of the sketch = majority of bit b across H48(token).

    Zero-shuffle formulation: the DISTINCT token-hash set is an in-row
    array (:func:`tok_hash_array` — set semantics live inside the row,
    no (doc_id, tok) distinct exchange) and each bit vote is a fold
    over that array, so there is no groupBy either. The r05 plan paid
    two full token-stream exchanges (distinct + 32-vote groupBy) for
    the same sketch. Docs with no tokens drop out, exactly as the
    groupBy formulation did."""
    base = _hashed_docs(docs, "text", distinct=True)
    def _vote(b: int):
        # closure factory, NOT a default-arg lambda (see minhash_wide)
        return lambda acc, h: acc + (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)

    votes = [F.aggregate("__hs", F.lit(0).cast("long"), _vote(b)) for b in range(bits)]
    sketch = F.lit(0).cast("long")
    for b in range(bits):
        sketch = sketch + F.when(
            votes[b] > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return base.select("doc_id", sketch.alias("simhash"))
