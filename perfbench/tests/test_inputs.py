"""Seeded inputs with a manifest, and SQL-metric parsing."""

import json
import os

import pytest

import gen
from collect import CollectorError, parse_metric


def test_same_seed_same_inputs(tmp_path):
    a = gen.ensure_base(str(tmp_path / "a"), 0.001, 5)
    b = gen.ensure_base(str(tmp_path / "b"), 0.001, 5)
    c = gen.ensure_base(str(tmp_path / "c"), 0.001, 6)
    assert a == b
    assert a["tables"]["lineitem"]["rows"] == 6000
    assert a != c


def test_replica_is_ten_copies_with_seeded_tags(tmp_path):
    base = str(tmp_path / "base")
    gen.ensure_base(base, 0.001, 5)
    r1 = gen.ensure_replica(str(tmp_path / "r1"), base, 1)
    r2 = gen.ensure_replica(str(tmp_path / "r2"), base, 2)
    for t in ("orders", "lineitem", "events", "documents", "embeddings"):
        assert r1["tables"][t]["rows"] == 10 * gen.check_manifest(base, {})["tables"][t]["rows"]
    assert r1["tables"]["customer"] == gen.check_manifest(base, {})["tables"]["customer"]
    assert r1["tables"]["documents"]["bytes"] != r2["tables"]["documents"]["bytes"] or r1 != r2


def test_partial_or_mismatched_input_is_refused(tmp_path):
    dst = str(tmp_path / "base")
    gen.ensure_base(dst, 0.001, 5)
    with pytest.raises(ValueError, match="seed"):
        gen.check_manifest(dst, {"seed": 6})
    with open(os.path.join(dst, "orders.parquet"), "ab") as f:
        f.write(b"x")
    with pytest.raises(ValueError, match="orders"):
        gen.check_manifest(dst, {"seed": 5})
    os.remove(os.path.join(dst, "manifest.json"))
    with pytest.raises(ValueError, match="partial"):
        gen.check_manifest(dst, {})


def test_manifest_records_seed_rows_and_bytes(tmp_path):
    dst = str(tmp_path / "base")
    gen.ensure_base(dst, 0.001, 5)
    with open(os.path.join(dst, "manifest.json")) as f:
        m = json.load(f)
    assert m["seed"] == 5
    assert len(m["tables"]) == 10
    for name, entry in m["tables"].items():
        assert entry["bytes"] == os.path.getsize(os.path.join(dst, f"{name}.parquet"))
        assert entry["rows"] > 0


@pytest.mark.parametrize(
    "text,value",
    [
        ("2.3 s", 2.3),
        ("470 ms", 0.47),
        ("78.6 KiB", 78.6 * 1024),
        ("1,000", 1000.0),
        ("total (min, med, max (stageId: taskId))\n511 ms (213 ms, 298 ms, 298 ms (stage 3.0: task 2))", 0.511),
        ("total (min, med, max (stageId: taskId))\n2.2 KiB (1128.0 B, 1128.0 B, 1128.0 B (stage 5.0: task 3))", 2.2 * 1024),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(CollectorError):
        parse_metric("3 parsecs")
