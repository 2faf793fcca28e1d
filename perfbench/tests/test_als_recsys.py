import pandas as pd

from perfbench.workloads.als_recsys import expected_dense_ids, write_ratings_csv


def test_same_seed_same_ratings(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.csv", "b.csv", "c.csv"))
    write_ratings_csv(str(a), 5, 40, 30, 300)
    write_ratings_csv(str(b), 5, 40, 30, 300)
    write_ratings_csv(str(c), 6, 40, 30, 300)
    assert a.read_bytes() == b.read_bytes() != c.read_bytes()


def test_ratings_are_distinct_cells_on_the_rating_scale(tmp_path):
    path = tmp_path / "r.csv"
    write_ratings_csv(str(path), 3, 40, 30, 300)
    df = pd.read_csv(path, header=None, names=["u", "i", "r"])
    assert len(df) == 300
    assert not df.duplicated(["u", "i"]).any()
    assert df.r.between(1.0, 5.0).all()
    assert df.u.nunique() <= 40 and df.i.nunique() <= 30


def test_expected_dense_ids_are_ranks_of_the_ids_that_occur(tmp_path):
    path = tmp_path / "r.csv"
    pd.DataFrame({"u": [900, 7, 900, 42], "i": [5, 5, 3, 1_000_000], "r": [1.0, 2.0, 3.0, 4.0]}).to_csv(
        path, header=False, index=False
    )
    assert expected_dense_ids(str(path)) == {
        "user_id": {7: 0, 42: 1, 900: 2},
        "item_id": {3: 0, 5: 1, 1_000_000: 2},
    }
