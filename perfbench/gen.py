"""Seeded, cached inputs for the production-path benchmark.

Every workload is derived from one page pool built by the repository's own
generator (`wikidataquality_spark.datagen`): the pool is generated once per
checkout (datagen is ~2 ms/page single-threaded, so it runs in a few spawn
workers) and each `--seed` then draws its pages from it with a seeded
permutation and re-plants the duplicates, so a new seed costs about a second
instead of a full datagen run. The same seed always gives the same inputs.

Workloads:

- `crawl-warc`: the standard defect mix (datagen's 6% exact + 6% near dups,
  gibberish, repeated lines, short pages, symbol spam, PII, blockwords) plus
  a real crawl's shape: a digit-bearing boilerplate line on most clean pages,
  cross-host mirrors (byte copies on another host, so that over 35% of the
  documents are planted content dups; the Zipf-hot host stays hot) and
  recrawl captures (same url, later `warc_ts`). Encoded as gzip-per-record
  WARC segments with the repository's record builder.
- `curate-funnel`: the standard defect mix as curation documents
  (`doc_id, text, lang, source, url`), generated directly rather than taken
  from validation output, so curation's input never moves when validation's
  decisions do.

Each cached input directory also holds the planted drop truth (`truth.parquet`)
and `props.json`: the record counts the correctness checks need and the
measured share of inputs with each property an optimisation may key on.
"""

from __future__ import annotations

import json
import os
import re
from multiprocessing import get_context

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from wikidataquality_spark import datagen
from wikidataquality_spark.io.locking import publish_dir, publish_file
from wikidataquality_spark.io.warc import build_warc, build_warc_record

# bump when anything below changes the generated bytes: cache keys carry it
GEN_VERSION = 2

POOL_CHUNKS = 8
POOL_CHUNK_PAGES = 3_000
POOL_SEED = 7_000  # chunk k is datagen seed POOL_SEED + k

# datagen's standard mix
EXACT_DUP_RATE = 0.06
NEAR_DUP_RATE = 0.06
# crawl shape
BOILERPLATE_RATE = 0.9  # of clean ('none' defect) pages
MIRROR_RATE = 0.40  # extra mirror rows per base page
RECRAWL_RATE = 0.10  # extra captures per written document
WARC_SEGMENTS = 4
DOC_FILES = 8

# defects the keep/drop decision is meant to drop (datagen plants them);
# planted blockwords drop in validation too (conflicts_with.blockwords)
DROP_DEFECTS = ("gibberish", "repeated_lines", "too_short", "symbol_spam")
_BLOCKWORD_RE = re.compile(r"\b(?:%s)\b" % "|".join(datagen.BLOCKWORDS))
HOT_HOST = "host0.example.org"

WORKLOADS = ("crawl-warc", "curate-funnel")
DEFAULT_DOCS = {"crawl-warc": 3_000, "curate-funnel": 8_000}

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("text", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.int64()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("url", pa.string()),
    ]
)


def pool_path(cache: str) -> str:
    return os.path.join(
        cache,
        f"pool_g{GEN_VERSION}_d{datagen.DATAGEN_VERSION}_"
        f"{POOL_CHUNKS}x{POOL_CHUNK_PAGES}.parquet",
    )


def load_pool(cache: str, procs: int) -> pd.DataFrame:
    """The datagen page pool (text, claimed lang, defect), built once per
    cache. datagen's own planted dups are dropped: each workload re-plants
    dups among the pages it draws, so a dup's source is always present."""

    def write(staging: str) -> None:
        seeds = [(POOL_CHUNK_PAGES, POOL_SEED + k) for k in range(POOL_CHUNKS)]
        with get_context("spawn").Pool(max(1, min(procs, POOL_CHUNKS))) as p:
            chunks = p.starmap(datagen.generate_pages_with_meta, seeds)
            p.close()
            p.join()
        pool = pd.concat(chunks, ignore_index=True)
        pool = pool[~pool["defect"].isin(["exact_dup", "near_dup"])]
        pq.write_table(
            pa.Table.from_pandas(
                pool[["text", "lang", "defect"]], preserve_index=False
            ),
            staging,
        )

    return pd.read_parquet(publish_file(pool_path(cache), write))


def input_dir(cache: str, workload: str, n_docs: int, seed: int) -> str:
    return os.path.join(
        cache,
        f"{workload}_n{n_docs}_s{seed}_g{GEN_VERSION}_d{datagen.DATAGEN_VERSION}",
    )


def ensure_input(
    cache: str, workload: str, n_docs: int, seed: int, procs: int
) -> str:
    """Generate (or reuse) the cached input of one (workload, size, seed)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    target = input_dir(cache, workload, n_docs, seed)
    if os.path.exists(os.path.join(target, "_SUCCESS")):
        return target
    pool = load_pool(cache, procs)

    def write(staging: str) -> None:
        os.makedirs(staging)
        rng = np.random.default_rng([GEN_VERSION, seed])
        if workload == "crawl-warc":
            props = _write_crawl(staging, pool, n_docs, rng)
        else:
            props = _write_curate(staging, pool, n_docs, rng)
        with open(os.path.join(staging, "props.json"), "w") as f:
            json.dump(props, f, indent=1, sort_keys=True)
        open(os.path.join(staging, "_SUCCESS"), "w").close()

    return publish_dir(target, write)


def read_props(path: str) -> dict:
    with open(os.path.join(path, "props.json")) as f:
        return json.load(f)


# --- page synthesis -----------------------------------------------------------


def _standard_pages(
    pool: pd.DataFrame, n: int, rng: np.random.Generator, boilerplate: bool
) -> pd.DataFrame:
    """n pages in datagen's standard mix: pool pages drawn without
    replacement, then 6% exact and 6% near copies of EARLIER pages planted
    in order (a copy's source is final when the copy is made, so copies of
    copies stay byte-exact). `src` records each copy's source row."""
    pick = rng.choice(len(pool), size=n, replace=False)
    text = pool["text"].to_numpy()[pick].copy()
    lang = pool["lang"].to_numpy()[pick].copy()
    defect = pool["defect"].to_numpy()[pick].copy()
    kind = np.full(n, "none", dtype=object)
    src = np.full(n, -1, dtype=np.int64)
    u = rng.random(n)
    src_draw = rng.random(n)
    line_draw = rng.random(n)
    donor = rng.integers(0, len(pool), size=n)
    if boilerplate:
        stamp = rng.integers(0, 10**9, size=n)
        add = (rng.random(n) < BOILERPLATE_RATE) & (defect == "none")
        for i in np.flatnonzero(add):
            text[i] = text[i] + "\n" + _boilerplate(int(stamp[i]))
    pool_text = pool["text"].to_numpy()
    for i in np.flatnonzero((u < EXACT_DUP_RATE + NEAR_DUP_RATE) & (np.arange(n) > 10)):
        j = int(src_draw[i] * i)
        lines = text[j].split("\n")
        if u[i] < EXACT_DUP_RATE or len(lines) < 4:
            text[i] = text[j]
            kind[i] = "exact_dup"
        else:
            # perturb one line with a line of an unrelated pool page
            lines[int(line_draw[i] * len(lines))] = pool_text[donor[i]].split("\n")[0]
            text[i] = "\n".join(lines)
            kind[i] = "near_dup"
        lang[i], defect[i], src[i] = lang[j], defect[j], j
    host = np.minimum(rng.zipf(1.6, size=n) - 1, datagen.HOSTS_N - 1)
    return pd.DataFrame(
        {
            "host": [f"host{h}.example.org" for h in host],
            "path": [f"/p/{i:07d}" for i in range(n)],
            "warc_ts": pd.Timestamp("2025-01-01")
            + pd.to_timedelta(97 * np.arange(n), unit="s"),
            "text": text,
            "lang": lang,
            "defect": defect,
            "kind": kind,
            "src": src,
        }
    )


def _boilerplate(stamp: int) -> str:
    """Digit-bearing crawl boilerplate: dates and counters that neither the
    phone nor the ipv4 pattern matches, so it changes no scrubbed span."""
    day = 1 + stamp % 28
    month = 1 + (stamp // 28) % 12
    return (
        f"updated 2025-{month:02d}-{day:02d} ref {stamp % 99991} "
        f"views {(stamp // 7) % 9973}"
    )


def _dup_losers(src: np.ndarray, key: np.ndarray) -> np.ndarray:
    """Planted content groups (union of copy edges); every member but the
    one with the smallest `key` is a dup the filter should drop — the same
    min-id survivor rule dup_marks applies."""
    parent = np.arange(len(src))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in np.flatnonzero(src >= 0):
        a, b = find(i), find(int(src[i]))
        if a != b:
            parent[a] = b
    roots = np.array([find(i) for i in range(len(src))])
    frame = pd.DataFrame({"root": roots, "key": key})
    winner = frame.groupby("root")["key"].transform("min")
    return (frame["key"] != winner).to_numpy()


def _shares(text: pd.Series, kind: pd.Series, host: pd.Series) -> dict:
    return {
        "share_has_at": float(text.str.contains("@", regex=False).mean()),
        "share_has_digit": float(text.str.contains(r"\d").mean()),
        "share_exact_dup": float(kind.isin(["exact_dup", "mirror"]).mean()),
        "share_near_dup": float((kind == "near_dup").mean()),
        "share_recrawl": float((kind == "recrawl").mean()),
        "share_hot_host": float((host == HOT_HOST).mean()),
    }


def _write_crawl(out: str, pool: pd.DataFrame, n: int, rng: np.random.Generator) -> dict:
    base = _standard_pages(pool, n, rng, boilerplate=True)
    # cross-host mirrors: byte copies of any page on another (Zipf) host
    m = int(round(MIRROR_RATE * n))
    msrc = rng.integers(0, n, size=m)
    mhost = np.minimum(rng.zipf(1.6, size=m) - 1, datagen.HOSTS_N - 1)
    src_host = base["host"].to_numpy()[msrc]
    mhost_s = np.array([f"host{h}.example.org" for h in mhost], dtype=object)
    clash = mhost_s == src_host
    mhost_s[clash] = [f"host{(int(h) + 1) % datagen.HOSTS_N}.example.org" for h in mhost[clash]]
    mirrors = base.iloc[msrc].reset_index(drop=True).assign(
        host=mhost_s,
        path=[f"/m/{k:07d}" for k in range(m)],
        warc_ts=pd.Timestamp("2025-01-01") + pd.to_timedelta(97 * (n + np.arange(m)), unit="s"),
        kind="mirror",
        src=msrc,
    )
    docs = pd.concat([base, mirrors], ignore_index=True)
    docs["url"] = "https://" + docs["host"] + docs["path"]
    # recrawl captures: same url, a later capture with refreshed boilerplate;
    # the ingest path's first-crawl-wins dedup drops every one of them
    r = int(round(RECRAWL_RATE * len(docs)))
    rsrc = rng.choice(len(docs), size=r, replace=False)
    stamps = rng.integers(0, 10**9, size=r)
    recrawl_text = [
        re.sub(r"updated .*$", _boilerplate(int(s)), t) if "\nupdated " in t else t
        for t, s in zip(docs["text"].to_numpy()[rsrc], stamps)
    ]
    recrawls = docs.iloc[rsrc].reset_index(drop=True).assign(
        text=recrawl_text,
        warc_ts=docs["warc_ts"].to_numpy()[rsrc] + pd.Timedelta(days=30),
        kind="recrawl",
    )
    truth = pd.DataFrame(
        {
            "url": docs["url"],
            "drop": _dup_losers(docs["src"].to_numpy(), docs["url"].to_numpy())
            | docs["defect"].isin(DROP_DEFECTS).to_numpy()
            | docs["text"].str.contains(_BLOCKWORD_RE).to_numpy(),
        }
    )
    pq.write_table(pa.Table.from_pandas(truth, preserve_index=False), os.path.join(out, "truth.parquet"))
    pq.write_table(
        pa.Table.from_pandas(docs[["url", "warc_ts", "text"]], schema=PAGES_SCHEMA, preserve_index=False),
        os.path.join(out, "pages.parquet"),
    )
    records = pd.concat([docs, recrawls], ignore_index=True)
    records = records.iloc[rng.permutation(len(records))].reset_index(drop=True)
    os.makedirs(os.path.join(out, "warc"))
    for k, seg in enumerate(np.array_split(np.arange(len(records)), WARC_SEGMENTS)):
        blobs = [
            build_warc_record(url, ts.to_pydatetime(), datagen.render_html(text))
            for url, ts, text in zip(
                records["url"].to_numpy()[seg],
                records["warc_ts"].iloc[seg],
                records["text"].to_numpy()[seg],
            )
        ]
        with open(os.path.join(out, "warc", f"seg-{k:05d}.warc.gz"), "wb") as f:
            f.write(build_warc(blobs, per_record_gzip=True))
    return {
        "workload": "crawl-warc",
        "n_records": len(records),
        "n_recrawl": r,
        "n_docs": len(docs),
        "n_truth_drop": int(truth["drop"].sum()),
        **_shares(records["text"], records["kind"], records["host"]),
    }


def _write_curate(out: str, pool: pd.DataFrame, n: int, rng: np.random.Generator) -> dict:
    pages = _standard_pages(pool, n, rng, boilerplate=False)
    doc_id = np.arange(n, dtype=np.int64)
    docs = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": pages["text"],
            "lang": pages["lang"],
            "source": pages["host"],
            "url": "https://" + pages["host"] + pages["path"],
        }
    )
    # curation has no toxicity stage: its planted drops are dups + defects
    truth = pd.DataFrame(
        {
            "doc_id": doc_id,
            "drop": _dup_losers(pages["src"].to_numpy(), doc_id)
            | pages["defect"].isin(DROP_DEFECTS).to_numpy(),
        }
    )
    pq.write_table(pa.Table.from_pandas(truth, preserve_index=False), os.path.join(out, "truth.parquet"))
    os.makedirs(os.path.join(out, "docs"))
    table = pa.Table.from_pandas(docs, schema=DOCS_SCHEMA, preserve_index=False)
    for k, rows in enumerate(np.array_split(np.arange(n), DOC_FILES)):
        pq.write_table(
            table.slice(int(rows[0]), len(rows)),
            os.path.join(out, "docs", f"part-{k:05d}.parquet"),
        )
    return {
        "workload": "curate-funnel",
        "n_records": n,
        "n_recrawl": 0,
        "n_docs": n,
        "n_truth_drop": int(truth["drop"].sum()),
        **_shares(docs["text"], pages["kind"], pages["host"]),
    }


def sample_html(path: str, n: int) -> pd.Series:
    """Rendered html of the first n documents of a cached input (the enrich
    replay's fixed sample)."""
    name = "pages.parquet" if os.path.exists(os.path.join(path, "pages.parquet")) else "docs"
    text = pq.read_table(os.path.join(path, name), columns=["text"]).column("text")
    return pd.Series([datagen.render_html(t) for t in text.to_pylist()[:n]])
