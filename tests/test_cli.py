"""End-to-end CLI tests: ``python -m video_metadata_db_spark`` over a
real temp directory tree, probed through the real subprocess path with
an ``--ffprobe-bin`` stand-in that prints each video file's bytes (the
files hold the JSON ffprobe would print).  Covers build, update
idempotence, merge, the nomedia side-effect and the probe failure modes
— the reference's full command surface (SURVEY.md §3,
video_metadata_db.py:850-915, :1475-1602).
"""

from __future__ import annotations

import json
import os
import stat

import pytest
from pyspark.sql import functions as F

from video_metadata_db_spark.__main__ import main
from video_metadata_db_spark.schemas import TSV_HEADER
from video_metadata_db_spark.sources.tsv import read_metadata_tsv

_STANDIN = r"""#!/bin/sh
# ffprobe stand-in: the probed file's bytes are the JSON ffprobe would
# print; a file named *bad* fails like an unreadable one
{count}for last; do :; done
case "${{last##*/}}" in
  *bad*) echo "boom: cannot open '$last'" >&2; exit 1 ;;
esac
exec cat -- "$last"
"""


def _write_standin(path, count: str | None = None) -> str:
    """The stand-in at ``path``; with ``count`` it also appends one byte
    to that file per invocation."""
    path.write_text(_STANDIN.format(count=f"printf . >> '{count}'\n" if count else ""))
    path.chmod(path.stat().st_mode | stat.S_IXUSR)
    return str(path)


def _probe_json(video: tuple[int, int] | None) -> bytes:
    """ffprobe JSON for a file with a video stream of size ``video``
    (None: audio only) and one audio stream."""
    streams = [{"codec_type": "audio", "codec_long_name": "AAC", "channels": 2}]
    if video is not None:
        w, h = video
        streams.insert(0, {"codec_type": "video", "codec_long_name": "H.264 / AVC",
                           "width": w, "height": h})
    fmt = {"nb_streams": len(streams), "format_long_name": "Matroska / WebM", "duration": "5400.0"}
    return json.dumps({"streams": streams, "format": fmt}).encode()


@pytest.fixture()
def media_tree(tmp_path):
    root = tmp_path / "media"
    (root / "Extras").mkdir(parents=True)  # filtered directory
    files = {
        "[2009] Avatar [4K].mkv": _probe_json((3840, 2160)),
        "[2009] Avatar.mp4": _probe_json((1920, 1080)),
        "[1999] Matrix.mkv": _probe_json((720, 480)),
        "notes.txt": b"not a video",
        os.path.join("Extras", "[1999] Matrix.avi"): _probe_json((1280, 720)),
    }
    for rel, content in files.items():
        (root / rel).write_bytes(content)
    (root / "[2009] Avatar [4K].en.srt").write_bytes(b"s" * 10)
    return str(root)


@pytest.fixture()
def ffprobe(tmp_path):
    return _write_standin(tmp_path / "ffprobe")


def test_cli_build_writes_sorted_db(spark, media_tree, ffprobe, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = main([media_tree, "--output", out, "--ffprobe-bin", ffprobe, "-v"])
    assert rc == 0
    stdout = capsys.readouterr().out
    assert "db written" in stdout
    assert "Avatar" in stdout  # variant report found the 2-variant title
    assert "files probed: 3, ok: 3, failed: 0" in stdout

    db = read_metadata_tsv(spark, os.path.join(out, "metadata_db.tsv"), header=True)
    rows = db.collect()
    # 3 videos probed; notes.txt filtered by extension; Extras/ pruned
    assert len(rows) == 3
    by_width = {r["Width"] for r in rows}
    assert by_width == {"3840", "1920", " 720"}  # "{:>4}" survives the write
    srt = [r for r in rows if r["Ext. English Subtitle Availability"] == "Y"]
    assert len(srt) == 1 and srt[0]["Ext. English Subtitle Size"] == "10"


def test_cli_update_is_idempotent(spark, media_tree, ffprobe, tmp_path, capsys):
    out = str(tmp_path / "out")
    assert main([media_tree, "--output", out, "--ffprobe-bin", ffprobe]) == 0
    # update with no new files appends nothing (SURVEY §5.4 property)
    assert main(["-u", media_tree, "--output", out, "--ffprobe-bin", ffprobe]) == 0
    assert "appended 0 new rows" in capsys.readouterr().out
    db = read_metadata_tsv(spark, os.path.join(tmp_path, "out", "metadata_db.tsv"), header=True)
    assert db.count() == 3


def test_cli_merge_unions_and_sorts(spark, media_tree, ffprobe, tmp_path):
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    for out in (out_a, out_b):
        assert main([media_tree, "--output", out, "--ffprobe-bin", ffprobe]) == 0
    merged_dir = str(tmp_path / "m")
    rc = main([
        "-m",
        os.path.join(out_a, "metadata_db.tsv"),
        os.path.join(out_b, "metadata_db.tsv"),
        "--output", merged_dir,
    ])
    assert rc == 0
    merged_db = os.path.join(merged_dir, "metadata_db_merged.tsv")
    merged = read_metadata_tsv(spark, merged_db, header=True)
    assert merged.count() == 6  # union-all keeps duplicates (:1345-1357)

    rows = []
    for name in sorted(n for n in os.listdir(merged_db) if n.startswith("part-")):
        with open(os.path.join(merged_db, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        assert lines[0] == "\t".join(TSV_HEADER), name
        rows.extend(line.split("\t") for line in lines[1:])
    assert len(rows) == 6
    keys = [_sort_line(r) for r in rows]
    assert keys == sorted(keys, reverse=True)  # whole-line descending
    volume = TSV_HEADER.index("Volume Label")
    assert all(r[volume] for r in rows)
    assert merged.filter(F.col("`Volume Label`").isNull()).count() == 0


def _sort_line(r: list[str]) -> str:
    """The whole line the sink sorts on, rebuilt from a written row:
    width/height padded to 4 and missing subtitle sizes a single space
    (as the boundary encodes them), NULL audio cells skipped."""
    f = list(r)
    f[0], f[1] = f[0].rjust(4), f[1].rjust(4)
    f[13], f[15] = f[13] or " ", f[15] or " "
    return "\t".join(v for i, v in enumerate(f) if v or i not in (9, 10))


def test_cli_nomedia_markers(media_tree, ffprobe, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = main(["-n", media_tree, "--output", out, "--ffprobe-bin", ffprobe])
    assert rc == 0
    assert os.path.exists(os.path.join(media_tree, "Extras", ".nomedia"))


def test_cli_probes_each_candidate_once(media_tree, tmp_path, capsys):
    """One ffprobe call per candidate per invocation: the probe output
    is materialized once and the sink, update's count, the dead-letter
    report and the -v variant report all reuse it."""
    with open(os.path.join(media_tree, "[2001] bad.mkv"), "wb") as f:
        f.write(b"b" * 20)  # the stand-in exits non-zero on "bad" paths
    count = str(tmp_path / "probe_calls")
    ffprobe = _write_standin(tmp_path / "ffprobe-counting", count)

    def calls() -> int:
        return os.path.getsize(count) if os.path.exists(count) else 0

    out = str(tmp_path / "out")
    assert main([media_tree, "--output", out, "--ffprobe-bin", ffprobe, "-v"]) == 0
    stdout = capsys.readouterr().out
    assert calls() == 4  # 3 good videos + 1 corrupt
    assert "files probed: 4, ok: 3, failed: 1" in stdout
    assert "bad.mkv" in stdout  # the dead letter is listed
    assert "variant report" in stdout

    assert main(["-u", media_tree, "--output", out, "--ffprobe-bin", ffprobe]) == 0
    stdout = capsys.readouterr().out
    assert calls() == 8  # once per listed candidate, not once per action
    assert "appended 0 new rows" in stdout
    assert "files probed: 4, ok: 3, failed: 1" in stdout


def test_cli_update_fails_on_unreadable_db(media_tree, ffprobe, tmp_path):
    """Only a missing db turns an update into a build; a db that exists
    but cannot be read must fail, never append every row again."""
    out = tmp_path / "out"
    db = out / "metadata_db.parquet"
    db.mkdir(parents=True)
    (db / "part-00000-broken.parquet").write_bytes(b"not a parquet file")
    before = {p.name: p.read_bytes() for p in db.iterdir()}

    try:
        rc = main(["-u", "--format", "parquet", media_tree, "--output", str(out),
                   "--ffprobe-bin", ffprobe])
    except Exception:
        rc = None
    assert rc != 0
    assert {p.name: p.read_bytes() for p in db.iterdir()} == before


def test_cli_releases_its_caches(spark, media_tree, ffprobe, tmp_path):
    """The listing cache and the persisted probe are released when main
    returns, so repeated in-process runs do not pile up cached blocks.
    (Compared by RDD id: the JVM holds persisted RDDs weakly, so one an
    earlier test dropped may be collected meanwhile.)"""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    out = str(tmp_path / "out")
    before = set(persistent().keys())
    assert main([media_tree, "--output", out, "--ffprobe-bin", ffprobe, "-v"]) == 0
    assert main(["-u", "-p", media_tree, "--output", out, "--ffprobe-bin", ffprobe]) == 0
    assert set(persistent().keys()) - before == set()


@pytest.fixture()
def walks(monkeypatch):
    """The root of every ``os.walk`` started while the test runs."""
    roots = []
    walk = os.walk

    def counting_walk(top, *args, **kwargs):
        roots.append(top)
        return walk(top, *args, **kwargs)

    monkeypatch.setattr(os, "walk", counting_walk)
    return roots


def test_cli_percentage_walks_the_tree_once(media_tree, ffprobe, tmp_path, capsys, walks):
    """-p counts candidates from the listing the build already caches."""
    out = str(tmp_path / "out")
    assert main(["-p", media_tree, "--output", out, "--ffprobe-bin", ffprobe]) == 0
    stdout = capsys.readouterr().out
    assert "files to probe: 3" in stdout
    assert "files probed: 3, ok: 3, failed: 0" in stdout
    assert walks == [media_tree]


def test_cli_nomedia_walks_the_tree_once(media_tree, ffprobe, tmp_path, capsys, walks):
    """-n takes its marker directories from the walk that lists the
    library, not from a second walk with its own prune rule."""
    out = str(tmp_path / "out")
    assert main(["-n", media_tree, "--output", out, "--ffprobe-bin", ffprobe]) == 0
    stdout = capsys.readouterr().out
    assert ".nomedia markers: 1 created" in stdout
    assert "files probed: 3, ok: 3, failed: 0" in stdout
    assert walks == [media_tree]


def test_cli_dead_letters_every_probe_failure(spark, ffprobe, tmp_path, capsys):
    """Each probe failure mode dead-letters and is counted: a non-zero
    exit, output that is not JSON, output without a video stream, and a
    file name that is not UTF-8.  Only the two good files reach the db.
    (The timeout is covered by test_probe_subprocess.)"""
    root = tmp_path / "faults"
    root.mkdir()
    (root / "good one.mkv").write_bytes(_probe_json((1920, 1080)))
    (root / "good two.mp4").write_bytes(_probe_json((1280, 720)))
    (root / "bad.mkv").write_bytes(_probe_json((640, 360)))  # the stand-in exits 1
    (root / "garbage.mkv").write_bytes(b"\x00\xffnot json")
    (root / "audio only.mkv").write_bytes(_probe_json(None))
    with open(os.path.join(os.fsencode(root), b"caf\xe9.mkv"), "wb") as f:
        f.write(_probe_json((640, 360)))

    out = str(tmp_path / "out")
    assert main([str(root), "--output", out, "--ffprobe-bin", ffprobe]) == 0
    stdout = capsys.readouterr().out
    assert "files probed: 6, ok: 2, failed: 4" in stdout
    failures = stdout.split("failures:\n", 1)[1].splitlines()
    for name in ("/bad.mkv", "/garbage.mkv", "/audio only.mkv: no video stream", "/caf"):
        assert any(name in line for line in failures), name
    db = read_metadata_tsv(spark, os.path.join(out, "metadata_db.tsv"), header=True)
    assert sorted(os.path.basename(r["Path on Drive Label"]) for r in db.collect()) == [
        "good one.mkv", "good two.mp4"
    ]


@pytest.mark.parametrize(
    "files, flags, expect",
    [
        ({"notes.txt": b"not a video"}, [], "files probed: 0, ok: 0, failed: 0"),
        ({"a.mkv": b"not json", "b.mp4": b"{truncated"}, [], "files probed: 2, ok: 0, failed: 2"),
        ({}, ["-u"], "files probed: 0, ok: 0, failed: 0"),
    ],
    ids=["no_candidates", "all_fail", "update_empty"],
)
def test_cli_reports_when_no_probe_succeeds(ffprobe, tmp_path, capsys, files, flags, expect):
    """A run with no successful probe still finishes and prints its
    counts: a library without videos, one whose every video fails, and
    an update over an empty library."""
    root = tmp_path / "lib"
    root.mkdir()
    for name, content in files.items():
        (root / name).write_bytes(content)
    out = str(tmp_path / "out")
    assert main([*flags, str(root), "--output", out, "--ffprobe-bin", ffprobe]) == 0
    stdout = capsys.readouterr().out
    assert expect in stdout
    if flags:
        assert "update: appended 0 new rows" in stdout
