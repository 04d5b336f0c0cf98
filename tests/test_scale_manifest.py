"""The committed sf1 manifest must stay reproducible.

`bench_runs/sf1_manifest.json` (VERDICT r8 "missing #4") pins the three
probe corpora behind BASELINE_HISTORY §(h)/(j)/(l) by row count and an
order-independent checksum. The constructions are deterministic
functions of the sf0.1 fixture — this test rebuilds the cheapest one
(the organic documents/embeddings corpus, ~3 s) and asserts the
fingerprints match the committed record, so a silent change to the
generator (offset, jitter formula, organic hash) cannot drift the scale
record's meaning without failing CI.
"""

from __future__ import annotations

import json
import re
import shutil
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))


def test_organic_corpus_matches_committed_manifest(spark, tmp_path):
    from scale_probe import _table_fingerprint, build_scaled

    manifest = json.loads((REPO / "bench_runs" / "sf1_manifest.json").read_text())
    want = manifest["corpora"]["organic_r8"]["tables"]
    dst = str(tmp_path / "organic")
    build_scaled(spark, "/root/testdata/sf0.1", dst, 10, organic_pct=10)
    got = {
        t: _table_fingerprint(spark, f"{dst}/{t}.parquet")
        for t in ("documents", "embeddings")
    }
    assert got == want
    shutil.rmtree(dst, ignore_errors=True)


def test_source_fixture_matches_committed_manifest(spark):
    """The sf0.1 fixture itself is pinned too — if the driver ever
    regenerates testdata, the manifest (and every probe record derived
    from it) must be re-recorded rather than silently compared across
    different inputs."""
    from scale_probe import _table_fingerprint

    manifest = json.loads((REPO / "bench_runs" / "sf1_manifest.json").read_text())
    for t, want in manifest["source_tables"].items():
        got = _table_fingerprint(spark, f"/root/testdata/sf0.1/{t}.parquet")
        assert got == want, t


def test_record_out_defaults_to_latest_and_honors_out():
    """Probe records default to *_latest names; the committed round-named
    artifacts are only reachable through an explicit --out (the bench.py
    latest.json convention), so a smoke re-run cannot clobber them."""
    from scale_probe import _record_out

    assert _record_out(None, "scale_probe_latest.json").name == "scale_probe_latest.json"
    assert _record_out("scale_probe_r7.json", "x").name == "scale_probe_r7.json"
    assert _record_out(None, "sf1_manifest_latest.json").parent.name == "bench_runs"


@pytest.mark.parametrize(
    "argv",
    [
        ["--bloom", "--cms", "2"],  # two mode flags
        ["--bogus"],  # an unknown flag
        ["--graph", "10"],  # a retired mode
        ["--cms", "2", "/some/dir", "7"],  # an extra positional
        ["--manifest", "3"],
    ],
)
def test_probe_rejects_bad_arguments_before_any_session(argv, monkeypatch):
    import scale_probe

    def no_session(*_args, **_kwargs):
        raise AssertionError("a Spark session was started")

    monkeypatch.setattr(scale_probe, "get_spark", no_session)
    assert scale_probe.main(argv) == 2


def test_probe_citations_name_live_modes():
    """Every ``scale_probe[.py] --MODE`` citation in BASELINE.md, README.md
    and the package names a mode the probe still has, and every mode is
    in the probe's Usage block."""
    import scale_probe

    cited: dict[str, list[str]] = {}
    for path in [
        REPO / "BASELINE.md",
        REPO / "README.md",
        *sorted((REPO / "mapreduce_system_spark").rglob("*.py")),
    ]:
        for m in re.finditer(r"scale_probe(?:\.py)?\s+(--[\w-]+)", path.read_text()):
            cited.setdefault(m.group(1), []).append(str(path.relative_to(REPO)))
    assert cited, "the citation pattern matched nothing"
    assert {k: v for k, v in cited.items() if k not in scale_probe.MODES} == {}

    usage = scale_probe.__doc__.split("Usage::\n\n", 1)[1].split("\n\n", 1)[0]
    assert [
        k for k in scale_probe.MODES
        if k and not re.search(rf"(?<![\w-]){re.escape(k)}(?![\w-])", usage)
    ] == []
