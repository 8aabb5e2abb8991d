"""Seeded benchmark inputs: a media library on disk, an ffprobe stand-in,
and a parquet analytics corpus.

Everything here is a pure function of the seed, so the same seed gives
byte-identical inputs.  The program under test only ever sees the files
these functions write.

Library: every video file's bytes ARE the JSON an ``ffprobe -print_format
json -show_streams -show_format`` call would print; the stand-in
executable prints the file back, so the program's real subprocess probe
path runs per file with no media decoding.  Corrupt files hold bytes that
are not JSON, so the probe dead-letters them.
"""

from __future__ import annotations

import json
import os
import random
import stat
from dataclasses import dataclass, field

# directory names the program prunes during its walk (the reference's
# filter list); files below them must never reach the db
FILTERED_DIRS = ("Extras", "Featurettes", "Trailers", "Deleted Scenes", "@eaDir")
NEW_FRAC = 0.05  # share of the titles that form the update batch

_WORDS = (
    "Night", "River", "Stone", "Silent", "Golden", "Winter", "Empire", "Last",
    "Hidden", "Storm", "Glass", "Paper", "Iron", "Blue", "Lost", "City",
    "Shadow", "Harbor", "Signal", "Garden", "Echo", "Summit", "Velvet", "North",
)
# non-ASCII title words: accented Latin, CJK, Cyrillic
_WORDS_INTL = ("Amélie", "Café", "Über", "Niño", "Ça", "東京", "夜明け", "Москва", "Señor")
_VIDEO_EXTS = ("mkv", "mp4", "avi", "m4v", "mov", "webm", "mts")
_UPPER_EXTS = ("MKV", "Mp4", "AVI")
_CODECS = (
    "H.264 / AVC / MPEG-4 AVC / MPEG-4 part 10",
    "H.265 / HEVC (High Efficiency Video Coding)",
    "Alliance for Open Media AV1",
    "MPEG-4 part 2",
    "Google VP9",
)
_AUDIO = ("AAC (Advanced Audio Coding)", "ATSC A/52A (AC-3)", "DCA (DTS Coherent Acoustics)", "Opus")
_CONTAINERS = ("Matroska / WebM", "QuickTime / MOV", "AVI (Audio Video Interleaved)")
_SIZES = ((3840, 2160), (1920, 1080), (1280, 720), (720, 480), (640, 360))

STANDIN = """#!/bin/sh
# ffprobe stand-in: the probed file's bytes are the JSON ffprobe would print
for a; do :; done
exec cat -- "$a"
"""
COUNTING_STANDIN = """#!/bin/sh
# ffprobe stand-in that also counts its invocations (one byte per call)
printf . >> '{count}'
for a; do :; done
exec cat -- "$a"
"""


@dataclass
class Library:
    root: str  # the directory the program scans
    staged: str  # where the update batch waits while it is not in the library
    good: set[str] = field(default_factory=set)  # videos that must land in the db
    corrupt: set[str] = field(default_factory=set)  # videos that must dead-letter
    listed: int = 0  # files the pruning walk must list, the update batch included
    sub_en: set[str] = field(default_factory=set)  # good videos with <stem>.en.srt
    sub_en_hi: set[str] = field(default_factory=set)  # good videos with <stem>.en.hi.srt
    # the update batch: whole title directories, moved in and out of root
    new_dirs: list[str] = field(default_factory=list)
    new_good: set[str] = field(default_factory=set)
    new_corrupt: set[str] = field(default_factory=set)

    @property
    def candidates(self) -> int:
        """Video files the program must probe (not under a pruned dir)."""
        return len(self.good) + len(self.corrupt)

    @property
    def new_candidates(self) -> int:
        return len(self.new_good) + len(self.new_corrupt)

    def add_new(self) -> None:
        for d in self.new_dirs:
            os.makedirs(os.path.dirname(os.path.join(self.root, d)), exist_ok=True)
            os.rename(os.path.join(self.staged, d), os.path.join(self.root, d))

    def remove_new(self) -> None:
        for d in self.new_dirs:
            os.rename(os.path.join(self.root, d), os.path.join(self.staged, d))


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _probe_json(rng: random.Random, title: str | None) -> bytes:
    w, h = rng.choice(_SIZES)
    streams = [{"index": 0, "codec_type": "video", "codec_long_name": rng.choice(_CODECS),
                "width": w, "height": h}]
    if rng.random() < 0.9:  # some files carry no audio stream
        streams.append({"index": 1, "codec_type": "audio", "codec_long_name": rng.choice(_AUDIO),
                        "channels": rng.choice((2, 6, 8))})
    fmt = {
        "nb_streams": len(streams) + rng.randint(0, 3),  # subtitle tracks etc.
        "format_long_name": rng.choice(_CONTAINERS),
        "duration": "N/A" if rng.random() < 0.02 else f"{rng.uniform(0.5, 10800):.6f}",
    }
    if title is not None:
        fmt["tags"] = {"title": title}
    return json.dumps({"streams": streams, "format": fmt}, ensure_ascii=False).encode()


def make_library(root: str, staged: str, seed: int, n_titles: int) -> Library:
    """Write a seeded movie library of ``1.8 × n_titles`` video files.

    Title directories hold 1-3 variants of one title (``[year] Title
    [idents].ext``), optional ``.en.srt``/``.en.hi.srt`` sidecars,
    non-video extras (``.nfo``/``.jpg``), and sometimes a pruned
    sub-directory (``Extras``, ...).  3% of the videos are corrupt.
    ``NEW_FRAC`` of the titles form the update batch; they are
    written under ``staged`` and enter the library with
    ``Library.add_new``.  Paths in the returned sets are library paths.
    """
    rng = random.Random(seed)
    lib = Library(root=root, staged=staged)
    # counts are fixed, so every seed gives the program the same amount of
    # work, the update batch included
    new_titles = set(rng.sample(range(n_titles), max(1, round(NEW_FRAC * n_titles))))
    variants = {}
    for group in (sorted(new_titles), [t for t in range(n_titles) if t not in new_titles]):
        counts = [(1, 1, 2, 2, 3)[i % 5] for i in range(len(group))]
        rng.shuffle(counts)
        variants.update(zip(group, counts))
    n_videos = sum(variants.values())
    corrupt_ids = set(rng.sample(range(n_videos), round(0.03 * n_videos)))
    vid = 0
    for t in range(n_titles):
        words = rng.sample(_WORDS, rng.randint(1, 3))
        if rng.random() < 0.08:
            words.insert(rng.randrange(len(words) + 1), rng.choice(_WORDS_INTL))
        title = f"{' '.join(words)} {t}"
        year = rng.randint(1950, 2024)
        tdir = os.path.join("Movies" if t % 5 else "Documentaries", f"{title} ({year})")
        new = t in new_titles
        if new:
            lib.new_dirs.append(tdir)
        base = staged if new else root
        for v in range(variants[t]):
            idents = rng.choice(("", " [4K]", " [AV1]", " [3D]", " [AV1][4K]"))
            ext = rng.choice(_UPPER_EXTS) if rng.random() < 0.05 else rng.choice(_VIDEO_EXTS)
            stem = f"[{year}] {title}{idents}" + (f" v{v}" if v else "")
            rel = os.path.join(tdir, f"{stem}.{ext}")
            path = os.path.join(root, rel)
            corrupt = vid in corrupt_ids
            vid += 1
            if corrupt:
                data = rng.randbytes(rng.randint(16, 400))
                lib.corrupt.add(path)
                if new:
                    lib.new_corrupt.add(path)
            else:
                tag = None if rng.random() < 0.1 else f"{title} ({year})"
                data = _probe_json(rng, tag)
                lib.good.add(path)
                if new:
                    lib.new_good.add(path)
            files = [(rel, data)]
            if rng.random() < 0.3:
                files.append((os.path.join(tdir, f"{stem}.en.srt"), b"1\n" * rng.randint(1, 400)))
                if not corrupt:
                    lib.sub_en.add(path)
            if rng.random() < 0.1:
                files.append((os.path.join(tdir, f"{stem}.en.hi.srt"), b"2\n" * rng.randint(1, 400)))
                if not corrupt:
                    lib.sub_en_hi.add(path)
            for r, d in files:
                _write(os.path.join(base, r), d)
            lib.listed += len(files)
        if rng.random() < 0.3:
            _write(os.path.join(base, tdir, rng.choice(("movie.nfo", "poster.jpg", "notes.txt"))), b"x")
            lib.listed += 1
        if rng.random() < 0.1:
            sub = os.path.join(base, tdir, rng.choice(FILTERED_DIRS))
            for k in range(rng.randint(1, 2)):
                _write(os.path.join(sub, f"{title} extra {k}.mkv"), _probe_json(rng, None))
    return lib


def write_standin(path: str, count_file: str | None = None) -> str:
    text = STANDIN if count_file is None else COUNTING_STANDIN.format(count=count_file)
    with open(path, "w") as f:
        f.write(text)
    os.chmod(path, os.stat(path).st_mode | stat.S_IXUSR | stat.S_IXGRP | stat.S_IXOTH)
    return path


# --- analytics corpus ---------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PADJ = ("small", "red", "blue", "hot", "old", "big", "green", "cold")
_PNOUN = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "valve", "spring")
_EVENTS = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "key agg row scan slow fast table value part hash a merge batch spark the line "
    "sort window order data column join small customer query big stream group filter vector dup"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def make_corpus(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten corpus tables the registry queries read, one parquet
    file each, shaped like the engine's synthetic TPC-H-ish test corpus
    (``scale=1`` ≈ its sf0.01: 60k lineitem, 15k orders, 10k events).
    Returns row counts per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed % 2**63)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc, n_emb = (
        int(n * scale) for n in (1500, 100, 2000, 15000, 60000, 10000, 500, 500)
    )
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01T00:00:00", "us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def keyed(prefix, n):
        return [f"{prefix}#{i:09d}" for i in range(n)]

    o_date = d0 + rng.integers(0, 2404, n_ord) * day
    li_order = rng.integers(0, n_ord, n_li)
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": keyed("Customer", n_cust),
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": rng.choice(_SEGMENTS, n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": keyed("Supplier", n_supp),
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PADJ, n_part), rng.choice(_PNOUN, n_part))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": rng.choice(_PTYPES, n_part),
                 "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                   "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": o_date,
                   "o_orderpriority": rng.choice(_PRIORITIES, n_ord)},
        "lineitem": {"l_orderkey": li_order.astype(np.int64),
                     "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
                     "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
                     "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     # whole dollars: revenue sums then have no half-cent
                     # ties, which rounding to cents would break either way
                     # depending on each engine's summation order
                     "l_extendedprice": rng.integers(900, 105001, n_li).astype(np.float64),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                     "l_linestatus": rng.choice(["F", "O"], n_li),
                     "l_shipdate": o_date[li_order] + rng.integers(1, 122, n_li) * day},
    }
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev) * np.timedelta64(1, "us"))
    tables["events"] = {"event_id": np.arange(n_ev, dtype=np.int64), "ts": ev_ts,
                        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
                        "event_type": rng.choice(_EVENTS, n_ev),
                        "value": money(0.01, 490, n_ev),
                        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = [" ".join(rng.choice(_VOCAB, rng.integers(10, 100))) for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):  # planted near-duplicates
        src = texts[rng.integers(0, n_doc)].split()
        src[rng.integers(0, len(src))] = rng.choice(_VOCAB)
        texts[i] = " ".join(src)
    tables["documents"] = {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                           "lang": rng.choice(_LANGS, n_doc),
                           "source": [f"src{i % 20}" for i in range(n_doc)],
                           "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vec = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {"vec_id": np.arange(n_emb, dtype=np.int64),
                            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
                            "label": labels.astype(np.int32)}
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        tbl = pa.table({k: (v if isinstance(v, pa.Array) else pa.array(v)) for k, v in cols.items()})
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
