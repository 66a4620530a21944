"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
the same rows, and :func:`digest` turns a generated set into a short hex
string that each run prints, so equal seeds can be shown to mean equal
inputs. The program under test only ever receives the generated rows,
staged to parquet by :func:`stage` (in-process pyarrow, no Spark job).

Accession ids are drawn below 10**6 because the stub fetcher parses the
last six accession digits as the payload row index.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ID_SPACE = 10**6
FORMS = ("10-K", "10-Q", "8-K")

_STR_COLS = (
    "cik company type date complete_text_file_link html_index filing_date "
    "period_of_report sic htm_file_link state_of_inc state_location "
    "fiscal_year_end filename"
).split()
INDEX_SCHEMA = pa.schema(
    [(c, pa.string()) for c in _STR_COLS]
    + [("year", pa.int32()), ("quarter", pa.int32()), ("row_seq", pa.int64()), ("host", pa.string())]
)
PAYLOAD_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


def zipf_weights(n_hosts: int, top_share: float) -> list[float]:
    """Zipf host weights 1/(k+1)**s with s chosen by bisection so the
    largest host holds ``top_share`` of all rows."""
    lo, hi = 0.0, 4.0
    for _ in range(60):
        s = (lo + hi) / 2
        w = [1.0 / (k + 1) ** s for k in range(n_hosts)]
        if w[0] / sum(w) < top_share:
            lo = s
        else:
            hi = s
    total = sum(w)
    return [x / total for x in w]


def index_rows(ids: list[int], seed, n_hosts: int, top_share: float) -> list[dict]:
    """Quarterly-index seed rows (the 18 columns of
    ``fixtures.seed_index.SEED_INDEX_COLUMNS``) for the given accession
    ids. Host (Zipf-skewed), form and filing date are a function of
    (seed, id), so one id always maps to one URL; the quarter and the
    crawl-order position ``row_seq`` come from a seeded shuffle of the
    list.

    The CIK is ``100000 + id % 997`` so the accession equals the
    ``image_id`` that ``fixtures.payload.make_payload_row(id)`` mints."""
    cum = list(itertools.accumulate(zipf_weights(n_hosts, top_share)))
    order = list(range(len(ids)))
    random.Random(f"order:{seed}:{len(ids)}").shuffle(order)
    rows = []
    for pos, i in enumerate(ids):
        u = [
            int.from_bytes(hashlib.blake2b(f"{seed}:{i}:{k}".encode(), digest_size=8).digest(), "big") / 2**64
            for k in range(3)
        ]
        h = min(bisect.bisect_left(cum, u[0]), n_hosts - 1)
        form = FORMS[0] if u[1] < 0.3 else FORMS[1] if u[1] < 0.8 else FORMS[2]
        cik = 100000 + i % 997
        quarter = 1 + order[pos] % 2
        host = f"h{h:04d}.edgar.test"
        acc = f"{cik:010d}-22-{i:06d}"
        txt = f"https://{host}/Archives/edgar/data/{cik}/{acc}.txt"
        day = int(u[2] * 84)
        rows.append(
            {
                "cik": str(cik),
                "company": f"COMPANY {i} INC",
                "type": form,
                "date": f"2022-{3 * quarter - 2 + day // 28:02d}-{1 + day % 28:02d}",
                "complete_text_file_link": txt,
                "html_index": txt[: -len(".txt")] + "-index.html",
                "filing_date": None,
                "period_of_report": None,
                "sic": None,
                "htm_file_link": None,
                "state_of_inc": None,
                "state_location": None,
                "fiscal_year_end": None,
                "filename": None,
                "year": 2022,
                "quarter": quarter,
                "row_seq": order[pos],
                "host": host,
            }
        )
    return rows


def crawl_ids(seed: int, n: int) -> list[int]:
    """``n`` distinct accession ids below ``ID_SPACE``."""
    return random.Random(f"crawl:{seed}").sample(range(ID_SPACE), n)


def recrawl_ids(seed: int, n_prior: int, n_seeds: int, new_share: float) -> tuple[list[int], list[int]]:
    """(prior ids already in the seen table, seed ids submitted), where
    ``new_share`` of the submitted ids are not in the prior set."""
    rng = random.Random(f"recrawl:{seed}")
    n_new = round(n_seeds * new_share)
    pool = rng.sample(range(ID_SPACE), n_prior + n_new)
    prior, new = pool[:n_prior], pool[n_prior:]
    seeds = rng.sample(prior, n_seeds - n_new) + new
    rng.shuffle(seeds)
    return prior, seeds


def filing_specs(seed, n: int, golden_sizes: dict[str, int]) -> list[tuple[str, int]]:
    """(corpus form, index) pairs for the extraction corpus: a fixed
    4:4:2 10-K / 10-Q / obsolete-8-K mix in seeded order, so runs with
    different seeds extract the same kind of work. The corpus picks a
    doc's scenario from ``index % 4`` (one 10-Q scenario is ~8x larger
    than the others), so each form cycles through the four residues.
    One doc in ten is drawn from the minted-golden index range of its
    form, so every run also checks goldens; the rest come from the
    whole id space."""
    rng = random.Random(f"filings:{seed}")
    forms = [f for f, k in zip(golden_sizes, (4, 4, 2)) for _ in range(k)]
    forms = (forms * (n // len(forms) + 1))[:n]
    rng.shuffle(forms)
    specs, used, nth = [], set(), dict.fromkeys(golden_sizes, 0)
    for k, form in enumerate(forms):
        limit = golden_sizes[form] if k % 10 == 0 else ID_SPACE
        while True:
            i = 4 * rng.randrange(limit // 4) + nth[form] % 4
            if (form, i) not in used:
                break
        nth[form] += 1
        used.add((form, i))
        specs.append((form, i))
    return specs


def payload_rows(seed: int, start: int, n: int) -> list[dict]:
    """Crawled image+caption rows ``start .. start+n-1`` of the near-dup
    corpus. Every 20th row belongs to a 5-member duplicate cluster
    (identical caption and phash); all other captions and hashes are
    seeded and distinct, so the only near-dup pairs are the engineered
    ones. ``cluster_pairs`` lists them."""
    out = []
    for j in range(start, start + n):
        base = (j // 100) * 100 if j % 20 == 0 else j
        rng = random.Random(f"payload:{seed}:{base}")
        words = " ".join(f"w{rng.randrange(10**9)}" for _ in range(6))
        out.append(
            {
                "image_id": f"img{j:07d}",
                "bytes": None,
                "w": 16,
                "h": 16,
                "fmt": "png",
                "caption": f"c{base} {words}",
                "phash": rng.getrandbits(63),
            }
        )
    return out


def cluster_pairs(n_rows: int) -> set[tuple[str, str]]:
    """The engineered duplicate pairs among payload rows ``0 .. n_rows-1``."""
    members: dict[int, list[str]] = {}
    for j in range(0, n_rows, 20):
        members.setdefault(j // 100, []).append(f"img{j:07d}")
    return {
        (a, b)
        for ids in members.values()
        for x, a in enumerate(ids)
        for b in ids[x + 1 :]
    }


def digest(*parts) -> str:
    """Short stable digest of generated inputs (repr-based)."""
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


def stage(rows: list[dict], path: str, schema: pa.Schema | None = None) -> str:
    """Write rows as one parquet file under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, os.path.join(path, "part-0.parquet"), row_group_size=4096)
    return path
