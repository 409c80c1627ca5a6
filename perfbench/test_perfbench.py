"""Tests of the benchmark itself: its inputs, its mutation batch and its
resets. Run from the repository root with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402
import dump  # noqa: E402
import workloads as W  # noqa: E402

SMALL = 0.02   # 300 vouchers: enough rows for every table, seconds to parse


@pytest.fixture(scope="module")
def sf(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf"))
    datagen.generate(7, d, SMALL)
    return d


@pytest.fixture(scope="module")
def base(sf):
    return dump.derive_slice(sf)


def test_generator_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.generate(3, str(a), SMALL)
    datagen.generate(3, str(b), SMALL)
    for name in sorted(os.listdir(a)):
        assert (a / name).read_bytes() == (b / name).read_bytes(), name


def test_mutation_batch_is_seeded_and_small(base):
    total = sum(t.num_rows for t in base.values())
    mutated, batch = dump.mutate(base, 11)
    again, same = dump.mutate(base, 11)
    assert batch == same
    assert all(again[t].equals(mutated[t]) for t in mutated)
    others = [dump.mutate(base, s)[1] for s in range(12, 17)]
    assert any(o != batch for o in others)
    assert batch.modified and batch.deleted and batch.inserted
    touched = batch.rows(base) + batch.rows(mutated)
    assert 0 < touched <= 0.01 * total


def test_mutation_touches_only_the_batch(base):
    mutated, batch = dump.mutate(base, 5)
    keys = set(batch.modified) | set(batch.deleted) | set(batch.inserted)
    for t in ("trn_voucher", *dump.VOUCHER_CHILDREN):
        def rows(tbl):
            return sorted((r for r in tbl.to_pylist()
                           if r["guid"] not in keys), key=repr)
        assert rows(base[t]) == rows(mutated[t]), t
    gone = set(mutated["trn_voucher"]["guid"].to_pylist())
    assert not gone & set(batch.deleted)


def test_parsing_a_rendered_table_gives_back_its_rows(base, tmp_path):
    """Every slice table, rendered as a TDL response, parses through
    ``read_tdl_response`` into exactly the rows it was rendered from."""
    from tally_database_loader_spark.session import get_spark
    from tally_database_loader_spark.sources.tally_xml import (
        read_tdl_response)
    spark = get_spark("perfbench-tests", shuffle_partitions=2)
    specs = dump.specs()
    dump.write_dump(base, specs, str(tmp_path))
    for name, tbl in base.items():
        df = read_tdl_response(spark, str(tmp_path / f"{name}.xml"),
                               specs[name])
        got = sorted((tuple(r) for r in df.collect()), key=repr)
        assert got == sorted(dump.expected_rows(tbl, specs[name]),
                             key=repr), name


def test_rendered_text_is_escaped_and_typed():
    import pyarrow as pa

    from tally_database_loader_spark.sources.registry import (
        FieldSpec, TableSpec)
    spec = TableSpec("t", "T", [FieldSpec("name", "$Name"),
                                FieldSpec("d", "$D", "date"),
                                FieldSpec("flag", "$F", "logical"),
                                FieldSpec("absent", "$A", "amount")])
    tbl = pa.table({"name": ["a<b & c>"], "d": pa.array([None], pa.date32()),
                    "flag": pa.array([1], pa.int32())})
    text = dump.render(tbl, spec)
    assert "<F01>a&lt;b &amp; c&gt;</F01>" in text
    assert "<F02>ñ</F02><F03>1</F03><F04>0</F04>" in text


def _tree(path):
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def _ctx(tmp_path):
    return W.Ctx(spark=None, work=str(tmp_path), seed=1)


def test_incremental_reset_restores_the_snapshot(tmp_path):
    ctx = _ctx(tmp_path)
    snap = tmp_path / "snapshot" / "trn_voucher" / "v1"
    snap.mkdir(parents=True)
    (snap / "part-0.parquet").write_bytes(b"before")
    phase = W.IncrementalSync()
    phase.reset(ctx)
    # a pass adds a version and rewrites a file
    (tmp_path / "store" / "trn_voucher" / "v2").mkdir()
    (tmp_path / "store" / "trn_voucher" / "v2" / "x.parquet").write_bytes(
        b"after")
    (tmp_path / "store" / "trn_voucher" / "v1" / "part-0.parquet"
     ).write_bytes(b"changed")
    phase.reset(ctx)
    assert _tree(tmp_path / "store") == _tree(tmp_path / "snapshot")


def test_full_sync_reset_starts_from_no_store(tmp_path):
    ctx = _ctx(tmp_path)
    (tmp_path / "store" / "mst_group" / "v1").mkdir(parents=True)
    W.FullSync().reset(ctx)
    assert not (tmp_path / "store").exists()


def test_inputs_are_rebuilt_from_the_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(W, "SCALE", SMALL)
    ctx = _ctx(tmp_path)
    W.make_inputs(ctx, with_dump=True)
    first = _tree(tmp_path / "in")
    (tmp_path / "in" / "dump0" / "stale.xml").write_text("left over")
    with open(tmp_path / "in" / "dump1" / "trn_voucher.xml", "a") as fh:
        fh.write("edited")
    W.make_inputs(ctx, with_dump=True)
    assert _tree(tmp_path / "in") == first
