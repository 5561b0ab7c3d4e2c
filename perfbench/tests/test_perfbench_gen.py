"""The generators: same seed, same bytes; and the shape FIXTURES.md A1
asks of the raw playlists."""

import hashlib
import json
import os

import gen


def _digest_tree(root: str) -> dict:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _lake(root, seed):
    lake = gen.make_raw_playlists(os.path.join(root, "raw"), seed, 8, 20, 2)
    gen.make_update_batches(os.path.join(root, "upd"), seed, lake, 2, 2, 3, 1)
    return lake


def test_tables_same_seed_same_bytes(tmp_path):
    gen.make_tables(str(tmp_path / "a"), 0.001, 7)
    gen.make_tables(str(tmp_path / "b"), 0.001, 7)
    gen.make_tables(str(tmp_path / "c"), 0.001, 8)
    a = _digest_tree(str(tmp_path / "a"))
    assert a == _digest_tree(str(tmp_path / "b"))
    assert a != _digest_tree(str(tmp_path / "c"))
    assert sorted(a) == sorted(
        f"{t}.parquet"
        for t in ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]
    )


def test_playlists_and_batches_same_seed_same_bytes(tmp_path):
    _lake(str(tmp_path / "a"), 3)
    _lake(str(tmp_path / "b"), 3)
    _lake(str(tmp_path / "c"), 4)
    a = _digest_tree(str(tmp_path / "a"))
    assert a == _digest_tree(str(tmp_path / "b"))
    assert a != _digest_tree(str(tmp_path / "c"))


def test_raw_playlist_shape(tmp_path):
    lake = gen.make_raw_playlists(str(tmp_path), 5, 32, 50, 4)
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 8  # many files: multiLine JSON is one task per file
    items = []
    for f in files:
        with open(tmp_path / f) as fh:
            for pl in json.load(fh):
                items += [it["track"] for it in pl["tracks"]["items"]]
    assert len(items) == lake["n_items"] == 32 * 50
    multi = sum(len(t["artists"]) > 1 for t in items) / len(items)
    assert 0.1 < multi < 0.35
    precisions = {t["album"]["release_date_precision"] for t in items}
    assert precisions == {"year", "month", "day"}
    dates = {t["album"]["release_date"] for t in items}
    assert dates & set(gen.MALFORMED_DATES)
    # skewed reuse: the gold dims really deduplicate
    assert len(lake["albums"]) < len(items) / 4
    assert len(lake["artists"]) < len(items) / 4


def test_update_batches_advance_expected_state(tmp_path):
    lake = gen.make_raw_playlists(str(tmp_path / "raw"), 5, 8, 20, 2)
    before = {p: dict(v) for p, v in lake["playlists"].items()}
    batches = gen.make_update_batches(str(tmp_path / "upd"), 5, lake, 2, 2, 3, 1)
    touched = {p for b in batches for p in b["touched"]}
    for p, info in lake["playlists"].items():
        grown = sum(p in b["touched"] for b in batches)
        assert info["n_items"] == before[p]["n_items"] + grown
    assert all(lake["playlists"][p]["n_items"] == 20 for p in set(before) - touched)
    for b in batches:
        for key in b["changed"]:
            assert "(rev " in lake["fact"][key]["track_name"]


def test_normalized_date_rules():
    import datetime as dt

    assert gen.normalized_date("1999") == dt.date(1999, 1, 1)
    assert gen.normalized_date("1999-07") == dt.date(1999, 7, 1)
    assert gen.normalized_date("1999-07-04") == dt.date(1999, 7, 4)
    assert all(gen.normalized_date(s) is None for s in gen.MALFORMED_DATES)
