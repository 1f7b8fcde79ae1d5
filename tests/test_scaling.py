import argparse
import dataclasses
import json
from types import SimpleNamespace

import pytest

from scripts import scaling
from scripts.sparkhash import spark_xxhash64

FAKE = scaling.Surface(body=None, identity=("checksum",), unit="rows", options={},
                       compare=("naive", None))


def _fake_run(canned, calls):
    def run(role, level):
        calls.append((role, level))
        return dict(canned[(role, level)].pop(0))
    return run


def test_protocol_interleaves_and_picks_best_by_rate():
    p = argparse.Namespace(surface="fake", levels=[1, 4], reps=2)
    canned = {
        ("run", 1): [{"sec": 2.0, "rate": 5.0, "checksum": 7},
                     {"sec": 1.0, "rate": 10.0, "checksum": 7}],
        ("run", 4): [{"sec": 0.3125, "rate": 32.0, "checksum": 7},
                     {"sec": 0.5, "rate": 20.0, "checksum": 7}],
        ("compare", 4): [{"sec": 1.25, "rate": 8.0, "checksum": 7},
                         {"sec": 2.5, "rate": 4.0, "checksum": 7}],
    }
    calls = []
    out = scaling.measure(FAKE, p, _fake_run(canned, calls))
    assert calls == [("run", 1), ("run", 4), ("compare", 4)] * 2
    assert out["best"]["1"]["rate"] == 10.0 and out["best"]["4"]["rate"] == 32.0
    assert out["runs"] == {"1": [2.0, 1.0], "4": [0.3125, 0.5], "naive_4": [1.25, 2.5]}
    assert out["efficiency"] == {"4": 0.8} and out["scaling_efficiency"] == 0.8
    assert out["speedup_vs_naive"] == 4.0


def test_protocol_rejects_identity_mismatch_between_levels():
    p = argparse.Namespace(surface="fake", levels=[1, 2], reps=1)
    canned = {
        ("run", 1): [{"sec": 1.0, "rate": 1.0, "checksum": 7}],
        ("run", 2): [{"sec": 1.0, "rate": 1.0, "checksum": 8}],
        ("compare", 2): [{"sec": 1.0, "rate": 1.0, "checksum": 7}],
    }
    with pytest.raises(RuntimeError, match="checksum differs"):
        scaling.measure(FAKE, p, _fake_run(canned, []))


def _spark_with_cache(empty):
    """Just enough of a SparkSession for ``scaling.timed``'s cache check."""
    cache = SimpleNamespace(isEmpty=lambda: empty)
    state = SimpleNamespace(cacheManager=lambda: cache)
    return SimpleNamespace(_jsparkSession=SimpleNamespace(sharedState=lambda: state))


def test_protocol_rejects_a_body_that_leaves_a_cache_entry():
    surface = dataclasses.replace(
        FAKE, body=lambda spark, p, fixture, level: {"checksum": 7},
        compare=("naive", lambda spark, p, fixture, level: {"sec": 0.5, "checksum": 7}))
    p = argparse.Namespace(surface="fake", levels=[1, 4], reps=1)

    def run(leaky_level):
        def go(role, level):
            spark = _spark_with_cache(empty=level != leaky_level)
            out = scaling.timed(surface, role, spark, p, None, level)
            return {**out, "rate": 1.0 / max(out["sec"], 1e-9)}
        return go

    out = scaling.measure(surface, p, run(leaky_level=None))
    assert out["best"]["naive_4"]["sec"] == 0.5
    with pytest.raises(RuntimeError, match="fake run left a DataFrame cache entry behind"):
        scaling.measure(surface, p, run(leaky_level=4))


def test_fixture_tag_covers_called_helpers(monkeypatch):
    before = scaling.fixture_tag(scaling._pip_points)

    def _u(ids, salt):  # an edited helper two calls below the fixture builder
        return ids

    monkeypatch.setattr(scaling, "_u", _u)
    assert scaling.fixture_tag(scaling._pip_points) != before


def test_packing_surface_end_to_end(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(scaling, "SCRATCH", str(tmp_path))
    n, chunk = 20_000, 2048
    scaling.main(["packing", "--n", str(n), "--levels", "1,2", "--reps", "1"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["fixture"].startswith(str(tmp_path))
    lo, hi = out["best"]["1"], out["best"]["2"]
    # serial concat-and-chunk replay over the fixture's token counts
    start, want = 0, {"sum_chunk_id": 0, "max_chunk_id": 0, "sum_offset": 0, "sum_n_chunks": 0}
    for i in range(n):
        t = spark_xxhash64(("long", i)) % 997
        cid = start // chunk
        want["sum_chunk_id"] += cid
        want["max_chunk_id"] = cid
        want["sum_offset"] += start - cid * chunk
        want["sum_n_chunks"] += 0 if t == 0 else (start + t - 1) // chunk - cid + 1
        start += t
    for field, value in want.items():
        assert lo[field] == hi[field] == value, field
    assert lo["sql_jobs"] >= 1 and hi["shuffle_bytes"] > 0
