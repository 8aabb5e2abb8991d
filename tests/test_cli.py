"""End-to-end CLI tests: ``python -m video_metadata_db_spark`` over a
real temp directory tree with a parquet probe fixture (ffprobe absent
in CI).  Covers build, update idempotence, merge, and the nomedia
side-effect — the reference's full command surface (SURVEY.md §3,
video_metadata_db.py:850-915, :1475-1602).
"""

from __future__ import annotations

import os

import pytest

from video_metadata_db_spark.__main__ import main
from video_metadata_db_spark.schemas import PROBE_SCHEMA
from video_metadata_db_spark.sources.tsv import read_metadata_tsv


@pytest.fixture()
def media_tree(tmp_path):
    root = tmp_path / "media"
    (root / "Extras").mkdir(parents=True)  # filtered directory
    files = {
        "[2009] Avatar [4K].mkv": b"x" * 100,
        "[2009] Avatar.mp4": b"y" * 50,
        "[1999] Matrix.mkv": b"z" * 75,
        "notes.txt": b"not a video",
        os.path.join("Extras", "[1999] Matrix.avi"): b"pruned",
    }
    for rel, content in files.items():
        (root / rel).write_bytes(content)
    (root / "[2009] Avatar [4K].en.srt").write_bytes(b"s" * 10)
    return str(root)


@pytest.fixture()
def probe_fixture(spark, media_tree, tmp_path):
    rows = []
    for fname, w, h in [
        ("[2009] Avatar [4K].mkv", 3840, 2160),
        ("[2009] Avatar.mp4", 1920, 1080),
        ("[1999] Matrix.mkv", 1280, 720),
    ]:
        rows.append(
            (
                os.path.join(media_tree, fname),
                "H.264 / AVC", w, h, 2, "Matroska / WebM", 5400.0,
                None, "AAC", 2, None,
            )
        )
    path = str(tmp_path / "probe_fixture.parquet")
    spark.createDataFrame(rows, PROBE_SCHEMA).write.parquet(path)
    return path


def test_cli_build_writes_sorted_db(spark, media_tree, probe_fixture, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = main([media_tree, "--output", out, "--probe-fixture", probe_fixture, "-v"])
    assert rc == 0
    stdout = capsys.readouterr().out
    assert "db written" in stdout
    assert "Avatar" in stdout  # variant report found the 2-variant title
    # stats come from the Observation riding the sink action (no extra pass)
    assert "files probed: 3, ok: 3, failed: 0" in stdout

    db = read_metadata_tsv(spark, os.path.join(out, "metadata_db.tsv"), header=True)
    rows = db.collect()
    # 3 videos probed; notes.txt filtered by extension; Extras/ pruned
    assert len(rows) == 3
    by_width = {r["Width"] for r in rows}
    assert by_width == {"3840", "1920", "1280"}
    srt = [r for r in rows if r["Ext. English Subtitle Availability"] == "Y"]
    assert len(srt) == 1 and srt[0]["Ext. English Subtitle Size"] == "10"


def test_cli_update_is_idempotent(spark, media_tree, probe_fixture, tmp_path, capsys):
    out = str(tmp_path / "out")
    assert main([media_tree, "--output", out, "--probe-fixture", probe_fixture]) == 0
    # update with no new files appends nothing (SURVEY §5.4 property)
    assert main(["-u", media_tree, "--output", out, "--probe-fixture", probe_fixture]) == 0
    assert "appended 0 new rows" in capsys.readouterr().out
    db = read_metadata_tsv(spark, os.path.join(tmp_path, "out", "metadata_db.tsv"), header=True)
    assert db.count() == 3


def test_cli_merge_unions_and_sorts(spark, media_tree, probe_fixture, tmp_path):
    out_a, out_b = str(tmp_path / "a"), str(tmp_path / "b")
    for out in (out_a, out_b):
        assert main([media_tree, "--output", out, "--probe-fixture", probe_fixture]) == 0
    merged_dir = str(tmp_path / "m")
    rc = main([
        "-m",
        os.path.join(out_a, "metadata_db.tsv"),
        os.path.join(out_b, "metadata_db.tsv"),
        "--output", merged_dir,
    ])
    assert rc == 0
    merged = read_metadata_tsv(
        spark, os.path.join(merged_dir, "metadata_db_merged.tsv"), header=True
    )
    assert merged.count() == 6  # union-all keeps duplicates (:1345-1357)


def test_cli_nomedia_markers(media_tree, probe_fixture, tmp_path, capsys):
    out = str(tmp_path / "out")
    rc = main(["-n", media_tree, "--output", out, "--probe-fixture", probe_fixture])
    assert rc == 0
    assert os.path.exists(os.path.join(media_tree, "Extras", ".nomedia"))


def test_cli_no_audio_elides_probe_and_schema(spark, media_tree, tmp_path):
    """--no-audio end-to-end (VERDICT r6 item 5): the parquet db drops
    the audio columns AND the ffprobe invocation itself narrows to
    `-select_streams v` — asserted through the fake binary's argv echo
    (tags.title), i.e. at the real process boundary of the build-mode
    plan, not just in ffprobe_args unit space.  (--ffprobe-bin, not a
    PATH monkeypatch: executor workers inherit the JVM's env from
    session start, so PATH edits in the test process never reach the
    subprocess.)"""
    import stat

    from tests.test_probe_subprocess import _FAKE_FFPROBE

    fakebin = tmp_path / "bin"
    fakebin.mkdir()
    p = fakebin / "ffprobe"
    p.write_text(_FAKE_FFPROBE)
    p.chmod(p.stat().st_mode | stat.S_IXUSR)

    out = str(tmp_path / "out")
    rc = main(
        [media_tree, "--output", out, "--format", "parquet", "--no-audio",
         "--ffprobe-bin", str(p)]
    )
    assert rc == 0
    db = spark.read.parquet(os.path.join(out, "metadata_db.parquet"))
    assert "audio_codec" not in db.columns
    assert "audio_channels" not in db.columns
    assert "video_codec" in db.columns and "width" in db.columns
    rows = db.collect()
    assert len(rows) == 3
    for r in rows:
        assert "-select_streams v" in r["title"]  # argv echo from the fake


def test_cli_no_audio_rejects_tsv_sink(media_tree, tmp_path):
    """The reference TSV db format is fixed (18 columns, audio
    included) — elision is a native-sink feature."""
    with pytest.raises(SystemExit):
        main([media_tree, "--output", str(tmp_path / "o"), "--no-audio"])


def _counting_ffprobe(tmp_path) -> tuple[str, str]:
    """The subprocess-test ffprobe stand-in, appending one byte to a
    count file per invocation → (binary, count file)."""
    import stat

    from tests.test_probe_subprocess import _FAKE_FFPROBE

    count = tmp_path / "probe_calls"
    p = tmp_path / "ffprobe-counting"
    shebang, body = _FAKE_FFPROBE.split("\n", 1)
    p.write_text(f"{shebang}\nprintf . >> '{count}'\n{body}")
    p.chmod(p.stat().st_mode | stat.S_IXUSR)
    return str(p), str(count)


def test_cli_probes_each_candidate_once(media_tree, tmp_path, capsys):
    """One ffprobe call per candidate per invocation: the probe output
    is materialized once and the sink, update's count, the dead-letter
    report and the -v variant report all reuse it."""
    with open(os.path.join(media_tree, "[2001] bad.mkv"), "wb") as f:
        f.write(b"b" * 20)  # the stand-in exits non-zero on "bad" paths
    ffprobe, count = _counting_ffprobe(tmp_path)

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


def test_cli_update_fails_on_unreadable_db(media_tree, probe_fixture, tmp_path):
    """Only a missing db turns an update into a build; a db that exists
    but cannot be read must fail, never append every row again."""
    out = tmp_path / "out"
    db = out / "metadata_db.parquet"
    db.mkdir(parents=True)
    (db / "part-00000-broken.parquet").write_bytes(b"not a parquet file")
    before = {p.name: p.read_bytes() for p in db.iterdir()}

    try:
        rc = main(["-u", "--format", "parquet", media_tree, "--output", str(out),
                   "--probe-fixture", probe_fixture])
    except Exception:
        rc = None
    assert rc != 0
    assert {p.name: p.read_bytes() for p in db.iterdir()} == before


def test_cli_releases_its_caches(spark, media_tree, probe_fixture, tmp_path):
    """The listing cache and the persisted probe are released when main
    returns, so repeated in-process runs do not pile up cached blocks.
    (Compared by RDD id: the JVM holds persisted RDDs weakly, so one an
    earlier test dropped may be collected meanwhile.)"""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    out = str(tmp_path / "out")
    before = set(persistent().keys())
    assert main([media_tree, "--output", out, "--probe-fixture", probe_fixture, "-v"]) == 0
    assert main(["-u", "-p", media_tree, "--output", out, "--probe-fixture", probe_fixture]) == 0
    assert set(persistent().keys()) - before == set()


def test_cli_percentage_walks_the_tree_once(media_tree, probe_fixture, tmp_path, capsys, monkeypatch):
    """-p counts candidates from the listing the build already caches."""
    from video_metadata_db_spark.sources import listing

    walks = []
    list_files = listing.list_files

    def counting_list_files(*args, **kwargs):
        walks.append(args[1])
        return list_files(*args, **kwargs)

    monkeypatch.setattr(listing, "list_files", counting_list_files)
    out = str(tmp_path / "out")
    assert main(["-p", media_tree, "--output", out, "--probe-fixture", probe_fixture]) == 0
    stdout = capsys.readouterr().out
    assert "files to probe: 3" in stdout
    assert "files probed: 3, ok: 3, failed: 0" in stdout
    assert len(walks) == 1
