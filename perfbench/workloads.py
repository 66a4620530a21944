"""The benchmark workloads: ``recrawl_mostly_seen`` and
``extract_filings``, plus ``NeardupPayload``, which runs only inside
traced ``extract_filings`` runs.

Each workload drives the program only through its public functions and
has the same shape:

* ``stage_inputs(rep)`` -- make the rep's seeded inputs and stage them to
  parquet;
* ``bootstrap()``   -- load any prior state the op starts from;
* ``op()``          -- the timed region; returns an :class:`OpResult`;
* ``check()``       -- correctness of the last op, outside the timed
  region; raises :class:`CheckFailed`, else returns the failed ops it
  found that the op could not count;
* ``layer_stats()`` -- per-layer numbers that need the committed state
  (traced runs only, outside the timed region).

Every rep gets fresh inputs (seed, rep) and a fresh work directory, so no
rep reads state or worker caches filled by the one before it.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import inputs

GOLDEN_DIR = os.path.join("tests", "fixtures", "minted_goldens")


class CheckFailed(Exception):
    """A workload's outputs differ from the expected outputs."""


@dataclass
class OpResult:
    wall_s: float
    items: int  # work units completed (URLs, seeds, filings, rows)
    attempted: int  # operations attempted (the base of failed_fraction)
    failed: int
    first_durable_s: float  # op start -> first durable output
    stored_bytes: int  # bytes written to state/sink during the op
    stored_files: int
    cpu_s: float  # process-tree CPU seconds inside the timed region
    extra: dict = field(default_factory=dict)


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by process ``root`` (default: this one) and all its descendants --
    this Python process, the JVM it launched and the JVM's Python workers."""
    root = os.getpid() if root is None else root
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields[1] = ppid; [11..14] = utime, stime, cutime, cstime
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen or pid not in stats:
            continue
        seen.add(pid)
        total += stats[pid][1]
        todo.extend(c for c, (pp, _) in stats.items() if pp == pid)
    return total / _TICK


def clock(start: bool) -> tuple[float, float]:
    """(wall, process-tree CPU) now. The /proc walk falls outside the
    wall interval: before the wall read at the start, after it at the end."""
    if start:
        cpu = tree_cpu_s()
        return time.time(), cpu
    wall = time.time()
    return wall, tree_cpu_s()


def first_commit_ts(table_root: str, after_version: int = 0) -> float:
    """Commit time (manifest ``ts``) of the first snapshot after
    ``after_version`` of a SnapshotTable directory."""
    with open(os.path.join(table_root, "_snapshots", f"v{after_version + 1:06d}.json")) as f:
        return json.load(f)["ts"]


def pcts(xs: list[float]) -> tuple[float, float]:
    """(p50, p90) by nearest rank; (0, 0) for an empty list."""
    if not xs:
        return 0.0, 0.0
    s = sorted(xs)
    return statistics.median(s), s[min(len(s) - 1, int(0.9 * len(s)))]


def _ms(fn, args_list) -> list[float]:
    out = []
    for args in args_list:
        t = time.perf_counter()
        fn(*args)
        out.append((time.perf_counter() - t) * 1e3)
    return out


class Workload:
    name = ""
    unit = ""  # what one item is, for the notes and detail line
    # untimed reps on inputs of their own before the timed reps; without
    # them the first timed rep runs cold, as a spark-submit crawler run does
    warmup_reps = 0
    traced_companions: tuple = ()  # workloads run only in this one's traced runs

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.digest = ""  # of the current rep's generated inputs
        # context manager around the timed region; a traced rep swaps
        # in the tracer's root span
        self.timed = nullcontext

    def rep_dir(self, rep: int) -> str:
        return os.path.join(self.root, f"{self.name}_rep{rep + 1}")

    def bootstrap(self) -> None:
        """Load prior state into the rep's work directory (none by default)."""


# ---------------------------------------------------------------- frontier


class _FrontierWorkload(Workload):
    n_hosts = 40
    top_share = 0.10

    def _frontier(self, wd: str, max_wave_rows: int):
        from edgar_crawler_spark.frontier.frontier import CrawlFrontier

        return CrawlFrontier(
            self.spark,
            os.path.join(wd, "state"),
            virtual_clock=True,
            max_wave_rows=max_wave_rows,
        )

    def _stage_index(self, ids: list[int], wd: str, tag: str) -> str:
        rows = inputs.index_rows(ids, self.seed, self.n_hosts, self.top_share)
        return inputs.stage(rows, os.path.join(wd, tag), inputs.INDEX_SCHEMA)

    def _log_rows(self, fr) -> list:
        return fr.fetch_log().select(
            "canonical_url", "year", "quarter", "row_seq", "state", "attempts", "wait_s", "error"
        ).collect()

    def _decode_failures(self) -> int:
        """Payload rows whose decode/validate status is not "ok"; keeps
        the count of good rows for the check."""
        import pyspark.sql.functions as F

        pay = self.fr.payload.read(self.spark)
        self.payload_rows = pay.filter(F.col("decode_ok") == "ok").count() if pay else 0
        return (pay.count() if pay else 0) - self.payload_rows

    def frontier_stats(self, fr, run_wall: float, log_rows) -> dict:
        walls = [m["wall_s"] for m in fr.metrics]
        p50, p90 = pcts(walls)
        fetched = sum(1 for r in log_rows if r["state"] == "fetched")
        attempts = sum(r["attempts"] for r in log_rows)
        return {
            "frontier.waves": len(fr.metrics),
            "frontier.wave_fetch_s.p50": p50,
            "frontier.wave_fetch_s.p90": p90,
            "frontier.commit_exposed_s": run_wall - sum(walls),
            "fetch.rows": sum(m["dispatched"] for m in fr.metrics),
            "fetch.fetched_per_attempt": fetched / attempts if attempts else 0.0,
            "politeness.virtual_wait_s": sum(r["wait_s"] for r in log_rows),
        }

    def payload_kernels(self, ids: list[int]) -> dict:
        """decode+validate on fetched bytes, and the stub origin's
        encode cost on ids this process has never generated."""
        from edgar_crawler_spark.fixtures.payload import make_payload_row
        from edgar_crawler_spark.functions.imaging import average_hash, decode_image

        cold = [(i,) for i in ids]
        origin = _ms(make_payload_row, cold)
        bodies = [(make_payload_row(i)["bytes"],) for i in ids]
        decode = _ms(lambda b: average_hash(decode_image(b)), bodies)
        return {
            "stub.origin_ms.p50": pcts(origin)[0],
            "functions.decode_validate_ms.p50": pcts(decode)[0],
        }

    def check_payload_sample(self, ids: list[int]) -> None:
        """About 60 evenly spaced fetched ids (at least 1% of the payload
        rows) against the stub origin: bytes, size, format and caption
        equal ``make_payload_row``, and phash is the engine's hash of
        the DECODED origin bytes (lossy formats round-trip inexactly)."""
        import pyspark.sql.functions as F

        from edgar_crawler_spark.fixtures.payload import make_payload_row
        from edgar_crawler_spark.functions.imaging import average_hash, decode_image

        sample = sorted(ids)[:: max(1, len(ids) // 60)]
        refs = {r["image_id"]: r for r in map(make_payload_row, sample)}
        got_rows = (
            self.fr.payload.read(self.spark)
            .filter(F.col("image_id").isin(list(refs)))
            .collect()
        )
        if len(got_rows) != len(refs):
            raise CheckFailed(f"{self.name}: {len(refs) - len(got_rows)} sampled payload rows missing")
        for row in got_rows:
            ref = refs[row["image_id"]]
            same = bytes(row["bytes"]) == ref["bytes"] and all(
                row[k] == ref[k] for k in ("w", "h", "fmt", "caption")
            )
            if not same or row["phash"] != average_hash(decode_image(ref["bytes"])):
                raise CheckFailed(f"{self.name}: payload row {row['image_id']} differs from make_payload_row")


class RecrawlMostlySeen(_FrontierWorkload):
    """Re-run over quarters already downloaded: most seeds are in the
    seen table and must be skipped; only the new tail is fetched."""

    name = "recrawl_mostly_seen"
    unit = "seed"
    # no warm-up: a warm-up op would cost ~25 s of cold start per run,
    # more than the run budget allows, so the one timed op runs cold
    n_prior = 6000
    n_seeds = 3000
    new_share = 0.2
    wave_share = 2 / 3  # of the new tail: two pipelined waves

    def stage_inputs(self, rep: int) -> None:
        self.wd = self.rep_dir(rep)
        prior, self.seed_ids = inputs.recrawl_ids(f"{self.seed}:{rep}", self.n_prior, self.n_seeds, self.new_share)
        self.new_ids = sorted(set(self.seed_ids) - set(prior))
        self.prior_path = self._stage_index(prior, self.wd, "prior")
        self.seeds_path = self._stage_index(self.seed_ids, self.wd, "seeds")
        self.digest = inputs.digest(self.seed, rep, prior, self.seed_ids)

    def bootstrap(self) -> None:
        """The prior quarters' metadata becomes the seen set."""
        self.fr = self._frontier(self.wd, int(len(self.new_ids) * self.wave_share))
        self.fr.bootstrap_seen(self.spark.read.parquet(self.prior_path))
        self.seen_v0 = self.fr.seen.current_version()
        self.filter_v0 = self.fr.seen_filter.table.current_version()

    def op(self) -> OpResult:
        state = os.path.join(self.wd, "state")
        b0, f0 = tree_size(state)
        with self.timed():
            t0, c0 = clock(start=True)
            self.admitted = self.fr.submit(self.spark.read.parquet(self.seeds_path))
            t_run = time.time()
            self.fr.run()
            t1, c1 = clock(start=False)
        b1, f1 = tree_size(state)
        self.log_rows = self._log_rows(self.fr)
        failed = sum(1 for r in self.log_rows if r["state"] == "failed")
        return OpResult(
            wall_s=t1 - t0,
            cpu_s=c1 - c0,
            items=len(self.seed_ids),
            attempted=len(self.seed_ids),
            failed=failed + self._decode_failures(),
            first_durable_s=first_commit_ts(os.path.join(state, "seen"), self.seen_v0) - t0,
            stored_bytes=b1 - b0,
            stored_files=f1 - f0,
            extra={"run_wall_s": t1 - t_run},
        )

    def check(self) -> int:
        rows = inputs.index_rows(self.seed_ids, self.seed, self.n_hosts, self.top_share)
        new = set(self.new_ids)
        order = sorted(zip(rows, self.seed_ids), key=lambda p: (p[0]["year"], p[0]["quarter"], p[0]["row_seq"]))
        want = [r["html_index"] for r, i in order if i in new]
        got = [r["canonical_url"] for r in self.log_rows]
        if self.admitted != len(want):
            raise CheckFailed(f"{self.name}: admitted {self.admitted}, expected {len(want)}")
        if got != want:
            raise CheckFailed(
                f"{self.name}: fetch log in crawl order is not the new set in (year, quarter, row_seq) order"
            )
        if any(r["state"] != "fetched" for r in self.log_rows):
            raise CheckFailed(f"{self.name}: log has non-fetched rows")
        if self.payload_rows != len(want):
            raise CheckFailed(f"{self.name}: {len(want) - self.payload_rows} payload rows not decode_ok")
        self.check_payload_sample(self.new_ids)
        return 0

    def layer_stats(self, res: OpResult) -> dict:
        """Bloom suspects and false positives, recomputed against the
        filter and seen snapshots the submit read."""
        from edgar_crawler_spark.frontier.canonical import with_url_identity
        from edgar_crawler_spark.frontier.seen import BloomFilterTable

        import pyspark.sql.functions as F

        cand = with_url_identity(self.spark.read.parquet(self.seeds_path)).select(
            "url_hash", "canonical_url"
        )
        bloom = BloomFilterTable(
            self.fr.seen_filter.table.read(self.spark, self.filter_v0), self.fr.bloom_shards
        )
        suspects = bloom.maybe_contains(cand).filter(F.col("bloom_maybe_seen"))
        seen0 = self.fr.seen.read(self.spark, self.seen_v0).select("url_hash", "canonical_url")
        n_sus = suspects.count()
        n_fp = suspects.join(seen0, ["url_hash", "canonical_url"], "left_anti").count()
        out = self.frontier_stats(self.fr, res.extra["run_wall_s"], self.log_rows)
        out.update(
            {
                "seen.suspect_ratio": n_sus / len(self.seed_ids),
                "seen.false_positive_ratio": n_fp / n_sus if n_sus else 0.0,
            }
        )
        out.update(self.payload_kernels(inputs.crawl_ids(f"{self.seed}:kernels", 40)))
        return out


# -------------------------------------------------------------- extraction


class ExtractFilings(Workload):
    """Stage 2: plain-text filings -> per-filing JSON files."""

    name = "extract_filings"
    unit = "filing"
    # 160 >= 8 docs x (4 x defaultParallelism) partitions on local[4], so
    # extract_json_records takes its size-aware range partitioning, not
    # the small-batch round-robin fallback
    n_docs = 160
    remove_tables = True
    # the first op after one warm-up rep still runs ~15% slow
    warmup_reps = 2

    def __init__(self, spark, root, seed):
        super().__init__(spark, root, seed)
        from edgar_crawler_spark.fixtures.filing_corpus import CORPUS_SIZES

        self.golden_sizes = dict(CORPUS_SIZES)

    def stage_inputs(self, rep: int) -> None:
        from edgar_crawler_spark.fixtures.filing_corpus import corpus_entry

        self.wd = self.rep_dir(rep)
        self.specs = inputs.filing_specs(f"{self.seed}:{rep}", self.n_docs, self.golden_sizes)
        self.entries = [corpus_entry(form, i) for form, i in self.specs]
        rows = [dict(e["metadata"], content=e["content"]) for e in self.entries]
        schema = inputs.pa.schema([(k, inputs.pa.string()) for k in rows[0]])
        self.corpus_path = inputs.stage(rows, os.path.join(self.wd, "corpus"), schema)
        self.out_dir = os.path.join(self.wd, "extracted")
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self.digest = inputs.digest(self.seed, rep, self.specs)

    def op(self) -> OpResult:
        from edgar_crawler_spark.extract.spark_extract import extract_json_records
        from edgar_crawler_spark.sources.blob_sink import write_filing_json_files

        with self.timed():
            t0, c0 = clock(start=True)
            raw = self.spark.read.parquet(self.corpus_path)
            records = extract_json_records(raw, remove_tables=self.remove_tables, n_docs=len(self.specs))
            write_filing_json_files(records, self.out_dir)
            t1, c1 = clock(start=False)
        size, files = tree_size(self.out_dir)
        mtimes = [
            os.path.getmtime(os.path.join(d, n))
            for d, _, names in os.walk(self.out_dir)
            for n in names
        ]
        return OpResult(
            wall_s=t1 - t0,
            cpu_s=c1 - c0,
            items=len(self.specs),
            attempted=len(self.specs),
            failed=0,  # check() counts records with a non-null error
            first_durable_s=(min(mtimes) - t0) if mtimes else t1 - t0,
            stored_bytes=size,
            stored_files=files,
        )

    def expected(self) -> dict[str, str | None]:
        from edgar_crawler_spark.extract.extractor import extract_filing

        out = {}
        for e in self.entries:
            rec = extract_filing(e["content"], e["metadata"], remove_tables=self.remove_tables)
            out[e["metadata"]["filename"]] = (
                json.dumps(rec, indent=4, ensure_ascii=False) if rec is not None else None
            )
        return out

    def check(self) -> int:
        self.want = want = self.expected()
        got = {}
        errors = 0
        for d, _, names in os.walk(self.out_dir):
            for n in names:
                with open(os.path.join(d, n), encoding="utf-8") as f:
                    got[n[: -len(".json")]] = f.read()
        for fname, js in want.items():
            base = fname.split(".")[0]
            if js is None:
                errors += 1
                if base in got:
                    raise CheckFailed(f"{self.name}: {fname} written but expected no record")
            elif got.get(base) != js:
                raise CheckFailed(f"{self.name}: {fname} differs from in-process extract_filing")
        self.error_docs = errors
        self._check_goldens(got)
        return errors

    def _check_goldens(self, got: dict[str, str]) -> None:
        """Docs minted with the workload's flags (remove_tables on, no
        signature: 10-K and obsolete 8-K with index % 5 != 0) must match
        their minted goldens key by key."""
        goldens = {}
        for form in ("10-K", "8-K-OLD"):
            with open(os.path.join(GOLDEN_DIR, f"{form}.json")) as f:
                goldens.update(json.load(f))
        for (form, i), e in zip(self.specs, self.entries):
            fname = e["metadata"]["filename"]
            if form == "10-Q" or i % 5 == 0 or i >= self.golden_sizes[form] or fname not in goldens:
                continue
            gold, base = goldens[fname], fname.split(".")[0]
            rec = json.loads(got[base]) if base in got else None
            if (gold is None) != (rec is None) or (
                gold is not None
                and any((gold.get(k) or "") != (rec.get(k) or "") for k in set(gold) | set(rec))
            ):
                raise CheckFailed(f"{self.name}: {fname} differs from its minted golden")

    def layer_stats(self, res: OpResult) -> dict:
        from edgar_crawler_spark.extract.extractor import extract_filing
        from edgar_crawler_spark.sources.blob_sink import write_filing_json_files

        sample = self.entries[:: max(1, len(self.entries) // 40)]
        times = _ms(
            lambda e: extract_filing(e["content"], e["metadata"], remove_tables=self.remove_tables),
            [(e,) for e in sample],
        )
        p50, p90 = pcts(times)
        # the sink on its own: the same records, already extracted,
        # written to a second folder
        recs = [
            {"filename": e["metadata"]["filename"], "filing_type": e["metadata"]["Type"], "json": self.want[e["metadata"]["filename"]]}
            for e in self.entries
        ]
        staged = self.spark.read.parquet(inputs.stage(recs, os.path.join(self.wd, "records")))
        t = time.perf_counter()
        write_filing_json_files(staged, os.path.join(self.wd, "sink_only"))
        sink_s = time.perf_counter() - t
        return {
            "functions.extract_filing_ms.p50": p50,
            "functions.extract_filing_ms.p90": p90,
            "sink.write_s": sink_s,
            "extract.error_docs": self.error_docs,
        }


# ----------------------------------------------------------------- near-dup


class NeardupPayload(Workload):
    """Post-crawl caption + phash near-dup pass over crawled payload rows:
    a corpus slice, then incremental slices, each committed to the
    payload table and followed by one pass."""

    name = "neardup_payload"
    unit = "row"
    batch_rows = (200, 100)

    def stage_inputs(self, rep: int) -> None:
        self.wd = self.rep_dir(rep)
        self.state = os.path.join(self.wd, "state")
        start, self.batches = 0, []
        for k, n in enumerate(self.batch_rows):
            rows = inputs.payload_rows(f"{self.seed}:{rep}", start, n)
            self.batches.append(inputs.stage(rows, os.path.join(self.wd, f"batch{k}"), inputs.PAYLOAD_SCHEMA))
            start += n
        self.n_rows = start
        self.digest = inputs.digest(self.seed, rep, self.batch_rows)

    def op(self) -> OpResult:
        from edgar_crawler_spark.frontier.state import SnapshotTable
        from edgar_crawler_spark.plans.pipeline import caption_near_dups_from_frontier

        payload = SnapshotTable(os.path.join(self.state, "payload"))
        b0, f0 = tree_size(self.state)
        pairs, first = [], None
        with self.timed():
            t0, c0 = clock(start=True)
            for path in self.batches:
                payload.append(self.spark.read.parquet(path))
                out = caption_near_dups_from_frontier(self.spark, self.state)
                pairs.extend(out.collect())
                if first is None:
                    first = time.time()
            t1, c1 = clock(start=False)
        b1, f1 = tree_size(self.state)
        self.pairs = pairs
        return OpResult(
            wall_s=t1 - t0,
            cpu_s=c1 - c0,
            items=self.n_rows,
            attempted=self.n_rows,
            failed=0,
            first_durable_s=first - t0,
            stored_bytes=b1 - b0,
            stored_files=f1 - f0,
        )

    def check(self) -> int:
        want = inputs.cluster_pairs(self.n_rows)
        by_via: dict[str, set] = {}
        for r in self.pairs:
            by_via.setdefault(r["via"], set()).add(tuple(sorted((r["doc_a"], r["doc_b"]))))
        for via in ("caption_minhash", "phash"):
            if by_via.get(via, set()) != want:
                raise CheckFailed(
                    f"{self.name}: {via} pairs differ from the engineered clusters "
                    f"({len(by_via.get(via, ()))} vs {len(want)})"
                )
        if len(self.pairs) != 2 * len(want):
            raise CheckFailed(f"{self.name}: duplicate pair rows emitted")
        return 0

    def layer_stats(self, res: OpResult) -> dict:
        """Caption LSH candidates (doc pairs sharing a band bucket in the
        committed index, before the bucket cap and the similarity check)
        against the caption pairs emitted."""
        import pyspark.sql.functions as F

        from edgar_crawler_spark.frontier.state import SnapshotTable
        from edgar_crawler_spark.operators.dedup import hamming_near_dup_pairs

        bands = SnapshotTable(os.path.join(self.state, "caption_lsh")).read(self.spark)
        a, b = bands.alias("a"), bands.alias("b")
        candidates = (
            a.join(b, ["band", "band_key"])
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )
        verified = sum(1 for r in self.pairs if r["via"] == "caption_minhash")
        # the phash leg on its own over every committed row
        rows = SnapshotTable(os.path.join(self.state, "payload")).read(self.spark)
        t = time.perf_counter()
        hamming_near_dup_pairs(
            rows.select(F.col("image_id").alias("doc_id"), "phash"), "doc_id", "phash", 64, 6
        ).write.format("noop").mode("overwrite").save()
        return {
            "dedup.hamming_busy_s": time.perf_counter() - t,
            "dedup.candidate_pairs": candidates,
            "dedup.verified_per_candidate": verified / candidates if candidates else 0.0,
        }


# the near-dup pass runs cold, once, in every traced extraction run: a
# pass costs tens of seconds whatever its size, too much for every run
ExtractFilings.traced_companions = (NeardupPayload,)

WORKLOADS = {w.name: w for w in (RecrawlMostlySeen, ExtractFilings)}
