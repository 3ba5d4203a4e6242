"""Seeded benchmark inputs and their exact answers.

Everything here is a pure function of ``(seed, rows)``. The pages table is
the package's own synthetic Common-Crawl table: ``datagen.gen_batch`` is
the generator that ``datagen.pages_df`` runs inside ``mapInArrow``, called
here directly so the same pass also yields the ground truth. The probe
set and the document sample are drawn from a generator seeded with the
workload seed. Generation and exact answers are cached on disk by
``(seed, rows)`` and are never part of a timed region.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from probabilistic_rs_spark.datagen import EPOCH_2025_06_01, LANGS, gen_batch
from probabilistic_rs_spark.functions.hashing import splitmix64

GEN_VERSION = 1
CHUNK = 25_000
PAGE_FILES = 8
MISS_HOSTS = 1000
KEEP_ENTRIES = 4  # cached (seed, rows) entries kept on disk


@dataclass
class Inputs:
    """Paths of the cached tables plus the exact answers the checks use."""
    rows: int
    pages_path: str
    probes_path: str
    docs_path: str
    digest: str
    truth: dict  # name -> np.ndarray

    @property
    def n_probes(self) -> int:
        return len(self.truth["probe_kid"])

    @property
    def n_docs(self) -> int:
        return len(self.truth["doc_id"])


def _iso_week(day_index: np.ndarray) -> np.ndarray:
    base = datetime.datetime.fromtimestamp(EPOCH_2025_06_01, datetime.timezone.utc).date()
    weeks = np.array(
        [(base + datetime.timedelta(days=int(d))).isocalendar()[1] for d in range(31)]
    )
    return weeks[day_index]


def _pages_schema():
    """Arrow form of ``datagen.PAGES_SCHEMA`` (timestamp_ntz is a
    zone-less microsecond timestamp)."""
    return pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
         ("text", pa.string()), ("lang", pa.string())]
    )


def _generate(dst: str, seed: int, rows: int, n_probes: int, doc_share: int) -> dict:
    schema = _pages_schema()
    pages_dir = os.path.join(dst, "pages")
    os.makedirs(pages_dir)
    digest = hashlib.sha256(f"v{GEN_VERSION}:{seed}:{rows}".encode())
    uid_l, lang_l, day_l, host_l, tlen_l, url_l, text_l = [], [], [], [], [], [], []
    per_file = -(-rows // PAGE_FILES)
    for f, lo in enumerate(range(0, rows, per_file)):
        hi = min(rows, lo + per_file)
        with pq.ParquetWriter(os.path.join(pages_dir, f"part-{f:05d}.parquet"), schema) as w:
            for clo in range(lo, hi, CHUNK):
                ids = np.arange(clo, min(hi, clo + CHUNK), dtype=np.int64)
                cols = gen_batch(ids, seed=seed)
                w.write_batch(
                    pa.RecordBatch.from_arrays(
                        [
                            pa.array(cols["url"], type=pa.string()),
                            pa.array(cols["warc_ts"], type=schema.field(1).type),
                            pa.array(cols["html"], type=pa.binary()),
                            pa.array(cols["text"], type=pa.string()),
                            pa.array(cols["lang"], type=pa.string()),
                        ],
                        schema=schema,
                    )
                )
                uid_l.append(np.where(ids % 20 == 19, ids // 2, ids))
                lang_l.append(np.searchsorted(np.sort(LANGS), cols["lang"].astype(str)))
                secs = cols["warc_ts"].astype("datetime64[s]").astype(np.int64)
                day_l.append((secs - EPOCH_2025_06_01) // 86400)
                host_l.extend(u.split("/", 3)[2] for u in cols["url"])
                tlen_l.append(np.fromiter((len(t) for t in cols["text"]), np.int64, len(ids)))
                url_l.extend(cols["url"])
                text_l.extend(cols["text"])
                for name in ("url", "text", "lang"):
                    digest.update("\x00".join(cols[name]).encode())
                digest.update(cols["warc_ts"].tobytes())

    uid = np.concatenate(uid_l)
    lang = np.concatenate(lang_l)
    day = np.concatenate(day_l)
    hosts, host_id = np.unique(np.array(host_l, dtype=object).astype(str), return_inverse=True)
    host_count = np.bincount(host_id, minlength=len(hosts))
    week = _iso_week(day)
    rng = np.random.default_rng([seed, rows, GEN_VERSION])

    # probe set: half urls that were inserted, half never inserted
    first_row = np.unique(uid, return_index=True)[1]
    n_in = n_probes // 2
    hit_rows = rng.choice(first_row, size=n_in, replace=False)
    miss_host = rng.integers(0, MISS_HOSTS, size=n_probes - n_in)
    miss_urls = [
        f"https://miss{h:06d}.example.invalid/probe/miss?id={j:010d}"
        for j, h in enumerate(miss_host)
    ]
    miss_hosts = [f"miss{h:06d}.example.invalid" for h in miss_host]
    order = rng.permutation(n_probes)
    p_url = np.array([url_l[r] for r in hit_rows] + miss_urls, dtype=object)[order]
    p_host = np.array([host_l[r] for r in hit_rows] + miss_hosts, dtype=object)[order]
    p_member = np.concatenate([np.ones(n_in, bool), np.zeros(n_probes - n_in, bool)])[order]
    p_count = np.concatenate([host_count[host_id[hit_rows]], np.zeros(n_probes - n_in, np.int64)])[order]
    p_week = np.concatenate([week[hit_rows], np.full(n_probes - n_in, -1)])[order]
    kid = np.arange(n_probes, dtype=np.int64)
    pq.write_table(
        pa.table({"kid": kid, "url": pa.array(p_url, pa.string()), "host": pa.array(p_host, pa.string())}),
        os.path.join(dst, "probes.parquet"),
    )

    # document sample: a seeded share of the content ids, so an exact
    # duplicate is sampled together with the page it copies
    salt = int(rng.integers(0, 1 << 62))

    with np.errstate(over="ignore"):
        keep = (splitmix64(uid.astype(np.uint64) + np.uint64(salt)) % np.uint64(doc_share)) == 0
    doc_rows = np.flatnonzero(keep)
    pq.write_table(
        pa.table(
            {
                "doc_id": doc_rows.astype(np.int64),
                "url": pa.array([url_l[r] for r in doc_rows], pa.string()),
                "text": pa.array([text_l[r] for r in doc_rows], pa.string()),
            }
        ),
        os.path.join(dst, "docs.parquet"),
    )
    digest.update(kid.tobytes() + "\x00".join(p_url).encode() + doc_rows.tobytes())

    return {
        "uid": uid,
        "lang": lang,
        "day": day,
        "week": week,
        "host_id": host_id,
        "host_count": host_count,
        "text_len": np.concatenate(tlen_l),
        "probe_kid": kid,
        "probe_member": p_member,
        "probe_count": p_count,
        "probe_week": p_week,
        "doc_id": doc_rows.astype(np.int64),
        "doc_uid": uid[doc_rows],
        "digest": np.array(digest.hexdigest()),
    }


def _prune(cache_dir: str, keep: str) -> None:
    entries = [
        os.path.join(cache_dir, e) for e in os.listdir(cache_dir) if e != os.path.basename(keep)
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_ENTRIES - 1 :]:
        shutil.rmtree(old, ignore_errors=True)


def ensure(cache_dir: str, seed: int, rows: int, n_probes: int, doc_share: int) -> Inputs:
    """Generate (or reuse) the inputs and exact answers for ``(seed, rows)``."""
    key = f"v{GEN_VERSION}_s{seed}_r{rows}_p{n_probes}_d{doc_share}"
    dst = os.path.join(cache_dir, key)
    done = os.path.join(dst, "meta.json")
    if not os.path.exists(done):
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        truth = _generate(dst, seed, rows, n_probes, doc_share)
        np.savez(os.path.join(dst, "truth.npz"), **truth)
        with open(done, "w") as fh:
            json.dump({"seed": seed, "rows": rows, "digest": str(truth["digest"])}, fh)
    os.utime(dst)
    _prune(cache_dir, dst)
    with np.load(os.path.join(dst, "truth.npz")) as z:
        truth = {k: z[k] for k in z.files}
    return Inputs(
        rows=rows,
        pages_path=os.path.join(dst, "pages"),
        probes_path=os.path.join(dst, "probes.parquet"),
        docs_path=os.path.join(dst, "docs.parquet"),
        digest=str(truth.pop("digest")),
        truth=truth,
    )
