"""The generators are pure functions of the seed.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, root: str) -> None:
    base = gen.base_tables(seed, 0.001, n_docs=200, n_vecs=100)
    gen.write_tables(base, os.path.join(root, "base"))
    gen.write_tables(gen.scale_up(base, 3), os.path.join(root, "scaled"))
    plan = gen.drop_plan(seed, n_events=3000)
    for d in (0, 7, 29):
        gen.write_drop(plan, d, os.path.join(root, "drops"))


def test_same_seed_gives_identical_bytes(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(7, str(tmp_path / "b"))
    a, b = _tree_digest(str(tmp_path / "a")), _tree_digest(str(tmp_path / "b"))
    assert a and a == b


def test_different_seed_gives_different_corrections():
    p1, p2 = gen.drop_plan(1, n_events=3000), gen.drop_plan(2, n_events=3000)
    assert p1["shares"] != p2["shares"]

    def corrections(p):
        sel = p["version"] == 2
        return set(zip(p["event_id"][sel].tolist(), p["value"][sel].tolist()))

    assert corrections(p1) and corrections(p1) != corrections(p2)


def test_drops_cover_every_event_and_predict_the_corrected_value():
    plan = gen.drop_plan(3, n_events=3000)
    want = gen.expected_curated(plan, gen.N_DAYS - 1)
    assert sorted(want) == list(range(3000))
    sel = np.flatnonzero(plan["version"] == 2)
    for i in sel[:50]:
        assert want[int(plan["event_id"][i])] == (2, float(plan["value"][i]))


def test_scale_up_keys_are_disjoint_across_copies():
    base = gen.base_tables(5, 0.001, n_docs=50, n_vecs=20)
    scaled = gen.scale_up(base, 4)
    keys = scaled["orders"]["o_orderkey"].to_numpy()
    assert len(keys) == 4 * base["orders"].num_rows == len(set(keys.tolist()))
    assert scaled["region"].num_rows == base["region"].num_rows


def test_drop_csv_is_cp1252_with_semicolons(tmp_path):
    plan = gen.drop_plan(4, n_events=3000)
    info = gen.write_drop(plan, 0, str(tmp_path))
    raw = open(info["csv"], "rb").read()
    text = raw.decode("cp1252")
    assert text.splitlines()[0] == ";".join(gen.DROP_COLUMNS)
    try:
        raw.decode("utf-8")
        decodes_as_utf8 = True
    except UnicodeDecodeError:
        decodes_as_utf8 = False
    assert not decodes_as_utf8
    assert len(text.splitlines()) == info["rows"] + 1
