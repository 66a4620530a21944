"""The crawl-frontier driver loop: iterative batch waves over
snapshot-committed state tables (the reference's two sequential CLI
stages become a resumable dataflow).

Wave dataflow (SURVEY.md §3 "Spark lifecycle"):

    pending ──prioritize──► quota gate ──► fetch_wave (token-bucketed
      ▲                        │                mapInPandas over a
      │                        │                host-hash repartition)
      │                     deferred                  │
      └── retries(attempts<max) ∪ deferred ◄── split by state
                                             fetched → payload + log + seen

State tables (SnapshotTable, Iceberg-layout):
  * ``seen``     — (url_hash, canonical_url, first_seen_version)
  * ``pending``  — frontier rows + attempts_total
  * ``log``      — fetch log (metadata + status/attempts/wave); sorted
                   by the global crawl key it reproduces the
                   reference's exact crawl order
  * ``payload``  — input_hint image+caption rows for fetched docs

Crash safety — the wave commit protocol (ADVICE r01, high):

    1. log + payload      append CONCURRENTLY, tagged with a per-wave
                          commit token
    2. bloom filter       OR-in new hashes (strictly before seen, so
                          filter ⊇ seen always holds; a crash here only
                          adds harmless false-positive bits)
    3. seen               append, same token — THE commit that gates
                          re-dispatch
    4. pending            overwrite, stamped ``seen_version`` = the
                          version step 3 returned

A crash inside 1–2 leaves log/payload snapshots whose token never
reached seen; ``_recover()`` (run at construction) rolls those tables
back one snapshot — an O(1) manifest operation — and the still-intact
pending rows are re-fetched cleanly. A crash inside 3–4 leaves stale
pending rows that the next wave's exact seen-anti-join drops before
dispatch. Either way: no duplicate log/payload rows, no lost URLs.

The ``seen_version`` stamp in a pending manifest names the seen
version its rows are known to be disjoint from (``submit`` stamps the
version it filtered against, the wave commit the version of its own
seen append). A wave re-filters pending against seen only when the
stamp differs from seen's current version: after the 3–4 crash above,
after ``invalidate``/``compact``/``bootstrap_seen`` (each commits a new
seen version), or for an unstamped snapshot. A pending table ``submit``
has just filtered is not filtered again.
"""

from __future__ import annotations

import os
import time
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from edgar_crawler_spark.frontier.canonical import with_url_identity
from edgar_crawler_spark.frontier.fetch import fetch_wave, stub_fetcher
from edgar_crawler_spark.frontier.priority import crawl_order, with_priority
from edgar_crawler_spark.frontier.seen import (
    BloomFilterTable,
    PersistedBloomTable,
    url_seen_anti_join,
)
from edgar_crawler_spark.frontier.state import SnapshotTable
from edgar_crawler_spark.plans.pipeline import filename_col
from edgar_crawler_spark.sources.dims import METADATA_CSV_COLUMNS

PAYLOAD_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def image_id_col() -> F.Column:
    """The key of a fetched URL's payload row: the filing's accession
    number, taken from its canonical URL."""
    return F.regexp_extract("canonical_url", r"/(\d{10}-\d{2}-\d{6})(?:-index\.html)?$", 1)


def fetched_filings(log: DataFrame) -> DataFrame:
    """The downloaded filings of a fetch log, as the reference's
    metadata CSV lists them (SURVEY.md S8): ``state = 'fetched'`` rows
    only (a failed URL or a retry attempt is no filing), keyed by the
    payload's ``image_id``, the P5 filename back-filled where the crawl
    did not fill it (download_filings.py:716-722), under the reference
    column names (``METADATA_CSV_COLUMNS``)."""
    fetched = log.filter(F.col("state") == "fetched")
    fetched = fetched.withColumn("filename", F.coalesce(F.col("filename"), filename_col(fetched)))
    return fetched.select(
        image_id_col().alias("image_id"),
        *[F.col(c.lower().replace(" ", "_")).alias(c) for c in METADATA_CSV_COLUMNS],
    )


class CrawlFrontier:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        fetcher=stub_fetcher,
        rate_per_host: float = 10.0,
        virtual_clock: bool = True,
        wave_quota: int = 10_000,  # PER-HOST cap: a wave dispatches up to
        #   wave_quota rows from EACH host's priority queue (host_rank <=
        #   quota), so a wave can carry quota × n_hosts rows total
        max_attempts: int = 3,
        max_wave_rows: int | None = None,  # GLOBAL per-wave row cap (quota
        #   is per-host); bounds a wave's persisted payload bytes on
        #   frontiers where host count × quota would explode
        robots_fetcher=None,  # robots.txt gate (north_rule; the reference
        #   has none) — callable(host) -> robots.txt text or None
        bloom_shards: int = 32,
        compact_every: int | None = None,  # auto-compact every K waves
    ):
        self.spark = spark
        self.fetcher = fetcher
        self.rate_per_host = rate_per_host
        self.virtual_clock = virtual_clock
        self.wave_quota = wave_quota
        self.max_attempts = max_attempts
        self.max_wave_rows = max_wave_rows
        self.robots_fetcher = robots_fetcher
        self.bloom_shards = bloom_shards
        self.compact_every = compact_every
        self.seen = SnapshotTable(os.path.join(workdir, "seen"))
        self.pending = SnapshotTable(os.path.join(workdir, "pending"))
        self.log = SnapshotTable(os.path.join(workdir, "log"))
        self.payload = SnapshotTable(os.path.join(workdir, "payload"))
        # incrementally-maintained Bloom pre-filter (VERDICT r01 item
        # 3): per-wave cost = insert of the new hashes only; the seen
        # parquet is scanned only on rebuild (compaction / invalidate).
        self.seen_filter = PersistedBloomTable(
            SnapshotTable(os.path.join(workdir, "seenfilter")),
            num_shards=bloom_shards,
        )
        self.metrics: list[dict] = []
        self._recover()

    def _recover(self) -> None:
        """Roll back log/payload snapshots from a wave whose commit
        token never reached the seen table (crash between steps 1–2 and
        3 of the wave protocol), and number the next wave after the last
        one seen committed. O(1) in the data: reads manifests, rewrites
        none of the data."""
        seen_metrics = [m.get("metrics") or {} for m in self.seen.history()]
        seen_tokens = {m.get("commit_token") for m in seen_metrics}
        # the last wave seen committed: history() follows parent links
        # back through compactions and invalidations, so rewriting seen
        # does not lose it
        self.last_wave = max((m.get("wave", 0) for m in seen_metrics), default=0)
        for tbl in (self.log, self.payload):
            last = tbl.latest_manifest()
            tok = (last.get("metrics") or {}).get("commit_token")
            if tok is not None and tok not in seen_tokens:
                tbl.rollback(
                    last.get("parent") or 0,
                    metrics={"recovered_partial_wave": last["version"]},
                )

    def _bloom_prefilter(self, seen_df: DataFrame) -> BloomFilterTable:
        """The candidate pre-filter: the persisted filter table (read,
        never rebuilt on the submit path except to migrate a workdir
        that has a seen table but no filter yet)."""
        pf = self.seen_filter.read_filter(self.spark)
        if pf is None:
            # migration path: seen exists but no filter table yet —
            # one full build, then incremental forever after
            self.seen_filter.rebuild(seen_df)
            pf = self.seen_filter.read_filter(self.spark)
        return pf

    # ---- seeding -----------------------------------------------------------
    def bootstrap_seen(self, metadata: DataFrame, url_col: str = "html_index") -> int:
        """Load a pre-existing metadata table as the initial URL-seen
        set (the reference's FILINGS_METADATA.csv read-back,
        download_filings.py:139-158). The rows are evaluated once:
        persisted for the count, the filter update and the seen
        append."""
        rows = (
            with_url_identity(metadata, url_col)
            .select("url_hash", "canonical_url")
            .dropDuplicates()
            .withColumn("first_seen_version", F.lit(0).cast("long"))
        ).persist()
        n = rows.count()
        if n:
            # filter before seen: preserves the filter ⊇ seen invariant
            self.seen_filter.update(rows, metrics={"bootstrap": n})
            self.seen.append(rows, metrics={"bootstrap": n})
        rows.unpersist()
        return n

    def invalidate(self, urls: DataFrame, url_col: str = "html_index") -> int:
        """Remove URLs from the seen set so they can be re-crawled
        (content invalidated / requeue). Seen is rewritten without the
        rows FIRST, then the Bloom filter is rebuilt from the rewritten
        seen table, one layer per shard sized from it, so the filter
        tracks seen exactly again. The order keeps filter ⊇ seen
        through a crash: until the rebuild commits, the old filter
        covers the old seen set, which covers the new one (the stale
        bits are harmless false positives). Administrative op: both rewrites are
        full-table commits — batch invalidations, don't loop them."""
        ids = (
            with_url_identity(urls, url_col)
            .select("url_hash", "canonical_url")
            .dropDuplicates()
        )
        seen_df = self.seen.read(self.spark)
        if seen_df is None:
            return 0
        ids = ids.join(
            seen_df.select("url_hash", "canonical_url"),
            on=["url_hash", "canonical_url"],
            how="left_semi",
        ).persist()
        n = ids.count()
        if n:
            remaining = seen_df.join(
                ids, on=["url_hash", "canonical_url"], how="left_anti"
            )
            self.seen.overwrite(remaining, metrics={"invalidated": n})
            self.seen_filter.rebuild(self.seen.read(self.spark), metrics={"invalidated": n})
        ids.unpersist()
        return n

    def submit(self, seed: DataFrame, url_col: str = "html_index") -> int:
        """Canonicalize seeds, drop already-seen and already-pending
        URLs (J2 semantics, download_filings.py:151-158), append the
        rest to the pending frontier. Returns rows admitted."""
        cand = with_url_identity(seed, url_col).withColumn("attempts_total", F.lit(0))
        cand = cand.dropDuplicates(["url_hash", "canonical_url"])
        seen_v = self.seen.current_version()
        seen_df = self.seen.read(self.spark, seen_v)
        if seen_df is not None:
            cand = url_seen_anti_join(
                cand, seen_df, bloom=self._bloom_prefilter(seen_df)
            )
        prev_m = self.pending.latest_manifest()
        prev = self.pending.read(self.spark, prev_m["version"])
        if prev is not None:
            # the select keeps the column order of the rows already
            # pending (a join on key names moves the keys first), so
            # the append keeps pending's recorded schema
            cand = cand.join(
                prev.select("url_hash", "canonical_url").dropDuplicates(),
                on=["url_hash", "canonical_url"],
                how="left_anti",
            ).select(cand.columns)
        cand = cand.persist()
        n = cand.count()
        if n:
            m = {"admitted": n}
            # the appended snapshot is disjoint from seen_v only if the
            # rows already pending were too
            if not prev_m["version"] or self._seen_stamp(prev_m) == seen_v:
                m["seen_version"] = seen_v
            self.pending.append(cand, metrics=m)
        cand.unpersist()
        return n

    # ---- one wave ----------------------------------------------------------
    def _terminal_state(self):
        """A retry that exhausted its attempt budget is 'failed' so the
        log carries every URL's final disposition."""
        return F.when(
            (F.col("state") == "retry")
            & (F.col("attempts_total") + 1 >= self.max_attempts),
            F.lit("failed"),
        ).otherwise(F.col("state"))

    @staticmethod
    def _seen_stamp(manifest: dict) -> int | None:
        """The seen version a pending snapshot is disjoint from (None
        when unstamped)."""
        return (manifest.get("metrics") or {}).get("seen_version")

    def _refiltered_pending(self) -> tuple[DataFrame | None, bool]:
        """Read the pending table and re-filter vs seen unless its
        ``seen_version`` stamp is seen's current version — makes
        crash-recovery idempotent. Returns (pending, whether it was
        re-filtered); pending is None when there is nothing to run,
        including a drained snapshot (0 rows recorded, stamp current),
        which is answered from its manifest without a Spark job (one
        behind seen needs a new stamp only, and counts as re-filtered).
        The persisted Bloom pre-filter keeps this exact (maybe → exact
        recheck) while the definitely-new bulk skips the seen scan;
        filter ⊇ seen (commit protocol step 2-before-3) guarantees no
        false negative can re-admit a fetched URL."""
        pm = self.pending.latest_manifest()
        pending = self.pending.read(self.spark, pm["version"])
        seen_v = self.seen.current_version()
        stamped = self._seen_stamp(pm) == seen_v
        if pending is None or (stamped and pm.get("rows") == 0):
            return None, False
        if stamped or pm.get("rows") == 0:
            return pending, not stamped
        seen_df = self.seen.read(self.spark, seen_v)
        if seen_df is not None:
            pending = url_seen_anti_join(
                pending, seen_df, bloom=self.seen_filter.read_filter(self.spark)
            )
        return pending, True

    def _clear_pending(self, rest) -> None:
        """Overwrite pending with the undispatched rows (or only their
        schema) of a run that fetched nothing; they were filtered
        against the current seen."""
        self.pending.overwrite(rest, metrics={"seen_version": self.seen.current_version()})

    def _dispatch_predicate(self, work: DataFrame, n_rows: int | None):
        """The wave-membership predicate over the prioritized frontier.

        Base rule: per-host quota (``host_rank <= wave_quota``) — the
        politeness queue prefix.  When ``max_wave_rows`` is set (VERDICT
        r02 item 5), the wave is additionally bounded GLOBALLY so a
        10^6-host frontier can't build a 10^6 × quota-row wave whose
        persisted payload bytes swamp executor storage:

        * find the deepest rank R whose cumulative row count fits the
          cap — one tiny aggregate (≤ wave_quota rows collected), no
          global sort; dispatch = every host's queue prefix of depth R
          (round-robin across hosts, per-host order intact);
        * if even depth 1 exceeds the cap (hosts alone > cap), hosts are
          hashed into ~4·n/cap buckets, per-bucket row counts collected
          (tiny), and buckets are taken round-robin from a wave-rotated
          start until the cap is reached — a bounded, rotating host
          cohort. At least one bucket is always taken (progress
          guarantee), so the cap is strict up to one-bucket granularity
          (expected bucket size ≈ cap/4). No starvation: unserved hosts
          stay pending and the start bucket rotates each wave.

        Excess rows spill to ``deferred`` (the predicate's complement),
        exactly as quota overflow always has.

        Returns (predicate, rows it defers or None if unknown). A
        frontier of known size ``n_rows`` that fits both caps goes whole
        with no collect; the rank counts lump ranks past the quota into
        one group, so their collect counts the frontier too.
        """
        pred = F.col("host_rank") <= self.wave_quota
        if n_rows is not None and n_rows <= min(self.wave_quota, self.max_wave_rows or n_rows):
            return pred, 0
        if not self.max_wave_rows:
            return pred, None
        # cumulative rows per rank depth: ≤ wave_quota + 1 rows to the driver
        depth_col = F.least(F.col("host_rank"), F.lit(self.wave_quota + 1))
        counts = sorted(
            work.groupBy(depth_col.alias("host_rank")).agg(F.count("*").alias("n")).collect(),
            key=lambda r: r["host_rank"],
        )
        total = sum(r["n"] for r in counts)
        counts = [r for r in counts if r["host_rank"] <= self.wave_quota]
        cum, depth = 0, 0
        for r in counts:
            if cum + r["n"] > self.max_wave_rows:
                break
            cum += r["n"]
            depth = r["host_rank"]
        if depth >= 1:
            return F.col("host_rank") <= depth, total - cum
        # hosts alone exceed the cap: rotate through counted host buckets
        n_rank1 = counts[0]["n"] if counts else 1
        n_buckets = max(8, -(-4 * n_rank1 // self.max_wave_rows))  # ceil
        bucket = F.pmod(F.xxhash64(F.col("host")), F.lit(n_buckets))
        per_bucket = {
            r["b"]: r["n"]
            for r in work.filter(F.col("host_rank") == 1)
            .groupBy(bucket.alias("b"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        start = (self.last_wave + 1) % n_buckets  # rotate per wave
        chosen, cum = [], 0
        for i in range(n_buckets):
            b = (start + i) % n_buckets
            nb = per_bucket.get(b, 0)
            if nb == 0:
                continue
            if chosen and cum + nb > self.max_wave_rows:
                break
            chosen.append(b)
            cum += nb
            if cum >= self.max_wave_rows:
                break
        return (F.col("host_rank") == 1) & bucket.isin(chosen), total - cum

    def _fetch_phase(self, pending: DataFrame, n_rows: int | None = None) -> dict:
        """Prioritize, split dispatch/deferred, run the fetch, and
        materialize per-state counts. Returns the wave context dict
        (results/work stay persisted until the caller releases them);
        ``n_remaining`` counts the rows it leaves pending (deferred plus
        retries), None when unknown."""
        # cache the prioritized frontier: the window shuffle feeds BOTH
        # the dispatch slice and the deferred remainder — without the
        # cache the deferred side re-scans pending and re-runs the
        # window when the next-pending snapshot is written
        work = with_priority(pending).persist()
        dispatch_pred, n_deferred = self._dispatch_predicate(work, n_rows)
        dispatch = work.filter(dispatch_pred)
        deferred = work.filter(~dispatch_pred).drop(
            "form_type_rank", "priority", "host_rank"
        )
        t0 = time.time()
        results = fetch_wave(
            dispatch,
            fetcher=self.fetcher,
            rate_per_host=self.rate_per_host,
            virtual_clock=self.virtual_clock,
            robots_fetcher=self.robots_fetcher,
        ).persist()
        # ONE materializing job yields dispatch total AND per-state
        # counts (previously a count() plus a separate groupBy job)
        state_counts = {
            r["st"]: r["n"]
            for r in results.groupBy(self._terminal_state().alias("st"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n_dispatched = sum(state_counts.values())
        wall = time.time() - t0
        pending_cols = [f.name for f in pending.schema.fields]
        retry = results.filter(
            (F.col("state") == "retry")
            & (F.col("attempts_total") + 1 < self.max_attempts)
        )
        retry_rows = retry.select(
            *[
                (F.col("attempts_total") + 1).alias("attempts_total")
                if c == "attempts_total"
                else F.col(c)
                for c in pending_cols
            ]
        )
        next_pending = deferred.select(pending_cols).unionByName(retry_rows)
        n_remaining = None if n_deferred is None else n_deferred + state_counts.get("retry", 0)
        return {
            "work": work,
            "results": results,
            # only the schema when no row is left: it commits without a
            # Spark job (SnapshotTable.overwrite)
            "next_pending": next_pending.schema if n_remaining == 0 else next_pending,
            "n_remaining": n_remaining,
            "state_counts": state_counts,
            "n_dispatched": n_dispatched,
            "wall": wall,
        }

    def _commit_phase(self, wave_no: int, ctx: dict) -> dict:
        """The ordered wave commit protocol (module docstring):
        log+payload concurrently (both tagged with this wave's commit
        token), then the Bloom filter OR-in, then seen strictly last
        among the result tables (seen is what gates re-dispatch —
        committing it only after log/payload exist means a crash can
        never drop a fetched URL from the log), then the pending
        overwrite."""
        results = ctx["results"]
        n_dispatched = ctx["n_dispatched"]
        fetched = results.filter(F.col("state") == "fetched")
        commit_token = uuid.uuid4().hex
        terminal = results.withColumn("state", self._terminal_state())
        log_df = terminal.withColumn("wave", F.lit(wave_no)).drop(
            "bytes", "w", "h", "fmt", "phash", "decode_ok"
        )
        # payload row (input_hint: decoded dims, fmt, phash) — the
        # decode/validate columns were fused into the fetch pass, so
        # this is a pure JVM projection, no second Python stage
        payload_rows = fetched.select(
            image_id_col().alias("image_id"),
            "bytes", "w", "h", "fmt", "caption", "phash", "decode_ok",
        )
        # BOTH terminal dispositions enter seen (ADVICE r02): 'failed'
        # rows exhausted their attempt budget and must never re-dispatch.
        # Without this, a crash between the seen append and the pending
        # overwrite leaves failed rows in pending; the resume-time seen
        # re-filter wouldn't drop them and they'd re-dispatch with reset
        # attempts, appending duplicate failed log rows. Requeue is the
        # explicit invalidate() path, same as for fetched URLs.
        new_seen = terminal.filter(F.col("state").isin("fetched", "failed")).select(
            "url_hash",
            "canonical_url",
            F.lit(self.seen.current_version() + 1).cast("long").alias("first_seen_version"),
        )
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(
                    self.log.append,
                    log_df,
                    {"wave": wave_no, "rows": n_dispatched, "commit_token": commit_token},
                ),
                pool.submit(
                    self.payload.append,
                    payload_rows,
                    {"wave": wave_no, "commit_token": commit_token},
                ),
                # the filter OR-in only has to land BEFORE seen (filter
                # ⊇ seen invariant) — it is independent of log/payload,
                # so it runs concurrently with them; it touches only the
                # bitset table, never the seen parquet
                pool.submit(
                    self.seen_filter.update,
                    new_seen,
                    metrics={"wave": wave_no, "commit_token": commit_token},
                ),
            ]
            for fut in futures:
                fut.result()  # barrier; re-raises any commit failure
        seen_v = self.seen.append(
            new_seen, metrics={"wave": wave_no, "commit_token": commit_token}
        )
        self.pending.overwrite(
            ctx["next_pending"], metrics={"wave": wave_no, "seen_version": seen_v}
        )

        m = {
            "wave": wave_no,
            "dispatched": n_dispatched,
            "fetched": ctx["state_counts"].get("fetched", 0),
            "retried": ctx["state_counts"].get("retry", 0),
            "failed": ctx["state_counts"].get("failed", 0),
            "wall_s": ctx["wall"],
            "urls_per_s": n_dispatched / ctx["wall"] if ctx["wall"] > 0 else 0.0,
        }
        self.metrics.append(m)
        return m

    def _eager_checkpoint(self) -> bool:
        """Whether a wave boundary checkpoints its chained remainder
        eagerly: on every master but a local one (see ``run``)."""
        return not self.spark.sparkContext.master.startswith("local")

    def run(self, max_waves: int = 100) -> list[dict]:
        """Drain the frontier, at most ``max_waves`` waves; returns the
        committed waves' metrics.

        Wave N+1's fetch overlaps wave N's commits: commits run on ONE
        background thread (strictly ordered — only the latest snapshot
        can ever be partial, which is what ``_recover`` assumes) while
        the main thread prioritizes and fetches the next wave from the
        in-memory ``deferred ∪ retries`` remainder. Chained waves skip
        the seen re-filter — fetched rows are excluded from the
        remainder by construction — and the pending-table overwrite
        stays the last step of each wave's commit, so a crash anywhere
        leaves a pending snapshot whose stale rows the resume-time
        re-filter drops.

        The chained remainder's lineage passes through wave N's
        nondeterministic fetch, so it must never be silently
        recomputable: each wave boundary cuts lineage with a
        ``localCheckpoint``. On a local master the checkpoint is LAZY
        (materialized by wave N+1's first job — cache eviction spills
        to disk locally and never recomputes, so laziness is free); on
        a multi-executor cluster it is EAGER (``_eager_checkpoint``) —
        the remainder's rows are pinned in checkpoint blocks *before*
        the commit thread starts publishing wave N, so a lost executor
        surfaces as a loud missing-checkpoint-block failure (recover by
        re-running from the committed tables, the normal crash path)
        instead of a silent re-fetch that could diverge from what was
        committed.

        Where the driver knows the remainder's row count (the pending
        manifest's ``rows``, then per wave: rows − dispatched + retries),
        the wave that leaves 0 rows is the last: no fetch phase follows,
        and its commit writes the empty pending as a manifest alone.

        A run that dispatches nothing rewrites pending only when its
        read re-filtered it (seen moved past the snapshot's stamp); a
        drained, stamped frontier commits nothing and, when its pending
        manifest records 0 rows, starts no Spark job."""
        from concurrent.futures import ThreadPoolExecutor

        eager = self._eager_checkpoint()
        out: list[dict] = []
        rows = self.pending.latest_manifest().get("rows")
        pending, refiltered = self._refiltered_pending()
        # a re-filter may drop rows, so only an empty count survives it
        n_rows = None if refiltered and rows else rows
        if n_rows == 0:
            if refiltered:  # seen moved past an empty snapshot: restamp it
                self._clear_pending(pending.schema)
            return out
        commit_fut = None
        prev_ctx = None
        with ThreadPoolExecutor(max_workers=1) as commit_pool:
            for _ in range(max_waves):
                if pending is None:
                    break
                ctx = self._fetch_phase(pending, n_rows)
                # wave N's commits (if any) ran while the fetch above
                # executed; barrier on them before committing this wave
                if commit_fut is not None:
                    out.append(commit_fut.result())
                    prev_ctx["results"].unpersist()
                    prev_ctx["work"].unpersist()
                    if self.compact_every and out[-1]["wave"] % self.compact_every == 0:
                        self.compact()
                if ctx["n_dispatched"] == 0:
                    # a committed wave already wrote this (empty)
                    # remainder, and a snapshot read back unfiltered
                    # already holds it; only a re-filtered read can
                    # leave stale rows to clear
                    if not out and refiltered:
                        self._clear_pending(ctx["next_pending"])
                    ctx["results"].unpersist()
                    ctx["work"].unpersist()
                    commit_fut, prev_ctx = None, None
                    break
                self.last_wave += 1
                wave_no = self.last_wave
                n_rows = ctx["n_remaining"]
                if n_rows == 0:  # nothing left to chain: the last wave
                    commit_fut = commit_pool.submit(self._commit_phase, wave_no, ctx)
                    prev_ctx, pending = ctx, None
                    continue
                # chain in-memory: fetched rows are already excluded
                # from next_pending by the state split. localCheckpoint
                # truncates the logical plan at the wave boundary —
                # without it the fetch join doubles the chained plan
                # every wave (exponential analysis cost, plan-string
                # OOM after ~30 waves). Lazy locally (materialized by
                # wave N+1's counts job, before wave N's caches
                # release); EAGER on a cluster — and then it MUST
                # materialize BEFORE the commit is submitted: if the
                # commit and the checkpoint could both recompute a lost
                # fetch partition concurrently, two independent
                # re-fetches could publish diverging results. Order:
                # pin the remainder first, publish second.
                if eager:
                    pending = ctx["next_pending"].localCheckpoint(eager=True)
                    commit_fut = commit_pool.submit(self._commit_phase, wave_no, ctx)
                else:
                    commit_fut = commit_pool.submit(self._commit_phase, wave_no, ctx)
                    pending = ctx["next_pending"].localCheckpoint(eager=False)
                prev_ctx = ctx
            if commit_fut is not None:
                out.append(commit_fut.result())
                prev_ctx["results"].unpersist()
                prev_ctx["work"].unpersist()
        return out

    # ---- outputs -----------------------------------------------------------
    def fetch_log(self) -> DataFrame | None:
        """The committed fetch log in reference crawl order
        (year, quarter, row_seq — download_filings.py:116-183)."""
        df = self.log.read(self.spark)
        return df.orderBy(*crawl_order()) if df is not None else None

    def seen_set(self) -> DataFrame | None:
        return self.seen.read(self.spark)

    def metrics_df(self) -> DataFrame:
        """Per-wave fetch/dedup metrics as a DataFrame (north_rule:
        lineage + metrics). Commit-level lineage lives in each table's
        snapshot manifests (SnapshotTable.history()); per-partition
        detail lives in the fetch log (host, dispatch_seq, wait_s)."""
        rows = [
            {
                "wave": m["wave"],
                "dispatched": m["dispatched"],
                "fetched": m["fetched"],
                "retried": m["retried"],
                "failed": m["failed"],
                "wall_s": float(m["wall_s"]),
                "urls_per_s": float(m["urls_per_s"]),
            }
            for m in self.metrics
        ]
        schema = (
            "wave int, dispatched long, fetched long, retried long, "
            "failed long, wall_s double, urls_per_s double"
        )
        return self.spark.createDataFrame(rows, schema)

    def compact(self) -> None:
        """Fold accumulated per-wave appends in seen/log/payload into
        single-dir snapshots (scan-planning hygiene for long crawls),
        and fold the Bloom filter's layers back into one per shard,
        sized from the compacted seen table (the filter's one
        sanctioned full-scan rebuild besides invalidation, amortized
        into the pass that rewrites seen anyway)."""
        for table in (self.seen, self.log, self.payload):
            table.compact(self.spark)
        seen_df = self.seen.read(self.spark)
        if seen_df is not None:
            self.seen_filter.rebuild(seen_df, metrics={"compaction": True})
