"""The generator is a pure function of (workload, seed).

    python3 -m pytest perfbench/test_gen.py -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.PARAMS))
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    rows_a = gen.generate(workload, 5, a)
    rows_b = gen.generate(workload, 5, b)
    rows_c = gen.generate(workload, 6, c)
    assert rows_a == rows_b
    files_a, files_b, files_c = _files(a), _files(b), _files(c)
    assert files_a == files_b
    assert files_a.keys() == files_c.keys()
    for name, data in files_a.items():
        assert files_c[name] != data, name
