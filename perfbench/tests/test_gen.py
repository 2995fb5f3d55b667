"""The generator is a pure function of its seed."""

import filecmp
import os

from perfbench import gen


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for run in ("a", "b"):
        gen.analyst(7, str(tmp_path / run / "analyst"), 3)
        gen.write(gen.keyed_rows(7, 4, range(100, 200)), str(tmp_path / run / "keyed.parquet"))
    files = _files(tmp_path / "a")
    assert files == _files(tmp_path / "b")
    assert len(files) == 5 + 3 + 1
    for f in files:
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False), f


def test_another_seed_gives_other_inputs(tmp_path):
    for seed in (1, 2):
        gen.write(gen.keyed_rows(seed, 0, range(1000)), str(tmp_path / f"{seed}.parquet"))
    assert not filecmp.cmp(tmp_path / "1.parquet", tmp_path / "2.parquet", shallow=False)


def test_lineitem_batches_cover_orders_in_key_order(tmp_path):
    import pyarrow.parquet as pq

    paths = gen.analyst(3, str(tmp_path), 4)
    keys = [pq.read_table(p, columns=["l_orderkey"])["l_orderkey"].to_pylist() for p in paths]
    flat = [k for batch in keys for k in batch]
    assert flat == sorted(flat)
    assert all(a[-1] < b[0] for a, b in zip(keys, keys[1:]))
    n_orders = int(1_500_000 * gen.ANALYST_SF)
    assert set(flat) <= set(range(n_orders))
    assert 1 <= len(flat) / len(set(flat)) <= 7
