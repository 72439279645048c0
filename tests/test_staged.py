"""`tables.staged`: the one protocol every derived input is staged
through. A stage is valid only while its `<dest>._fp` marker holds the
source fingerprint, and the marker is written only after the build
returns — the ORC rule that a file is valid once its tail is written
last."""

from __future__ import annotations

import os

import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark import tables
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import marker_valid, staged


def _writer(dest: str, calls: list, fail: bool = False):
    """A build that writes one numbered part file into `dest`."""

    def build():
        calls.append(dest)
        os.makedirs(dest, exist_ok=True)
        with open(os.path.join(dest, f"part-{len(calls)}"), "w") as fh:
            fh.write("rows")
        if fail:
            raise RuntimeError("build failed mid-write")

    return build


@pytest.mark.parametrize("case", ["marker_matches", "fingerprint_changed", "build_raises"])
def test_staged_protocol(tmp_path, case):
    dest = str(tmp_path / "stage")
    calls: list = []
    assert staged(dest, "fp-1", _writer(dest, calls)) == dest
    assert len(calls) == 1 and marker_valid(dest + "._fp", "fp-1")

    if case == "marker_matches":
        staged(dest, "fp-1", _writer(dest, calls))
        assert len(calls) == 1, "a matching marker must skip the build"
    elif case == "fingerprint_changed":
        staged(dest, "fp-2", _writer(dest, calls))
        assert len(calls) == 2
        assert os.listdir(dest) == ["part-2"], "stale output was not cleared"
        assert marker_valid(dest + "._fp", "fp-2")
    else:
        with pytest.raises(RuntimeError, match="mid-write"):
            staged(dest, "fp-2", _writer(dest, calls, fail=True))
        assert not os.path.exists(dest + "._fp"), "a failed build left a marker"
        staged(dest, "fp-2", _writer(dest, calls))
        assert len(calls) == 3, "the next call must rebuild"
        assert os.listdir(dest) == ["part-3"]
        assert marker_valid(dest + "._fp", "fp-2")


def test_scratch_dir_lives_in_the_imported_checkout(tmp_path):
    """Each checkout stages into its own `.scratch/`, so two checkouts
    never serve each other's fingerprint-valid artifacts."""
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(tables.__file__)))
    d = tables.scratch_dir(str(tmp_path / "sf_scratch_probe"))
    try:
        assert d == os.path.join(checkout, ".scratch", "sf_scratch_probe")
    finally:
        os.rmdir(d)
