"""The input generator: the same seed gives the same tables, another
seed gives other values with the same shapes."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402


def test_same_seed_same_tables_other_seed_other_values():
    a, b, c = gen.build_tables(3, 0.001), gen.build_tables(3, 0.001), gen.build_tables(4, 0.001)
    assert list(a) == list(gen.TABLES)
    for name in gen.TABLES:
        assert a[name].equals(b[name]), name
        assert a[name].schema == c[name].schema and a[name].num_rows == c[name].num_rows
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_generate_writes_every_table(tmp_path):
    sizes = gen.generate(str(tmp_path), 5, 0.001)
    assert set(sizes) == set(gen.TABLES)
    assert all(rows > 0 and nbytes > 0 for rows, nbytes in sizes.values())
