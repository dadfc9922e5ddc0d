"""Generator determinism and the counts its manifest promises."""

import csv
import hashlib
import json
import os

import gen


def _digests(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_star_schema_same_seed_same_bytes(tmp_path):
    a = gen.star_schema(str(tmp_path / "a"), seed=5, sf=0.001)
    b = gen.star_schema(str(tmp_path / "b"), seed=5, sf=0.001)
    c = gen.star_schema(str(tmp_path / "c"), seed=6, sf=0.001)
    da, db, dc = _digests(a), _digests(b), _digests(c)
    assert len(da) == 10 and da == db
    assert da["lineitem.parquet"] != dc["lineitem.parquet"]


def test_etl_inputs_same_seed_same_bytes(tmp_path):
    sizes = dict(hw_rows=400, hw_files=4, ragged_rows=50, posts=300, pages=40)
    gen.etl_inputs(str(tmp_path / "a"), seed=3, **sizes)
    gen.etl_inputs(str(tmp_path / "b"), seed=3, **sizes)
    gen.etl_inputs(str(tmp_path / "c"), seed=4, **sizes)
    da, dc = _digests(tmp_path / "a"), _digests(tmp_path / "c")
    assert da == _digests(tmp_path / "b")
    assert da["posts.json"] != dc["posts.json"]


def test_etl_manifest_counts_match_the_files(tmp_path):
    m = gen.etl_inputs(str(tmp_path), seed=9, hw_rows=400, hw_files=4, ragged_rows=50,
                       posts=300, pages=40)
    complete = 0
    for name in sorted(os.listdir(tmp_path / m["hw_dir"])):
        with open(tmp_path / m["hw_dir"] / name, encoding="utf-8") as fh:
            complete += sum(1 for row in csv.DictReader(fh) if all(row.values()))
    assert complete == m["hw_complete"]
    with open(tmp_path / m["posts_json"], encoding="utf-8") as fh:
        posts = json.load(fh)
    valid = [p for p in posts if p.get("title") is not None and p.get("body") is not None]
    assert m["posts"]["valid"] == len(valid)
    assert m["posts"]["distinct_valid_ids"] == len({p["id"] for p in valid}) < len(valid)
    assert m["posts"]["invalid"] > 0
