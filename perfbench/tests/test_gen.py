import hashlib
from pathlib import Path

from perfbench import gen


def _digests(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def _mef(root: Path, seed: int) -> dict:
    return gen.write_mef_csvs(root, seed, (2022, 2023), 400, (11, 12), 50)


def test_star_tables_are_byte_identical_per_seed(tmp_path):
    gen.write_star_tables(tmp_path / "a", 7, 0.0001)
    gen.write_star_tables(tmp_path / "b", 7, 0.0001)
    gen.write_star_tables(tmp_path / "c", 8, 0.0001)
    a, b, c = (_digests(tmp_path / d) for d in "abc")
    assert a == b
    assert set(a) == {f"{t}.parquet" for t in gen.TABLES}
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_mef_csvs_are_byte_identical_per_seed(tmp_path):
    ia = _mef(tmp_path / "a", 3)
    _mef(tmp_path / "b", 3)
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert ia["bulk_rows"] == 800 and len(ia["landing"]) == 2


def test_seed_moves_dirt_and_landing_order(tmp_path):
    def dirt(info):
        text = Path(info["bulk"][0]).read_text().splitlines()[1:]
        return [i for i, line in enumerate(text) if line.startswith("bad,")]

    orders = set()
    dirt_sets = []
    for seed in range(6):
        info = _mef(tmp_path / str(seed), seed)
        orders.add(tuple(Path(p).name for p in info["landing"]))
        dirt_sets.append(tuple(dirt(info)))
    assert len(orders) == 2  # both orders of the two held-out months occur
    assert len(set(dirt_sets)) > 1


def test_held_out_months_are_absent_from_bulk(tmp_path):
    info = _mef(tmp_path, 1)
    last_year = Path(info["bulk"][-1]).read_text().splitlines()[1:]
    assert {line.split(",")[1] for line in last_year} <= {str(m) for m in range(1, 11)}
    month_file = Path(info["landing"][0]).read_text().splitlines()
    assert month_file[0].split(",") == list(gen.MEF_HEADER)
    assert len(month_file) == 51
