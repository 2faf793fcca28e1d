import pytest

from perfbench.acid_model import AcidModel


def fresh():
    # v0: three rows; v1: a property change
    m = AcidModel({1: (0, 10), 2: (0, 20), 3: (1, 30)}, 0)
    m.no_change(1)
    return m


def test_initial_version_and_summary():
    m = fresh()
    assert m.summaries[0] == (3, 60, 1 * 10 + 2 * 20 + 3 * 30)
    assert m.summaries[1] == m.summaries[0]
    assert m.expected_changes(0, 1) == {(0, "insert"): 3}


def test_append_rejects_existing_keys():
    m = fresh()
    with pytest.raises(ValueError):
        m.append(2, {3: (1, 1)})


def test_version_gap_is_refused():
    m = fresh()
    with pytest.raises(ValueError):
        m.append(5, {9: (0, 1)})


def test_merge_with_change_feed_pairs_updates():
    m = fresh()
    m.merge_cdf(2, {1: (0, 11), 4: (1, 40)})
    assert m.rows[1] == (0, 11) and m.rows[4] == (1, 40)
    assert m.expected_changes(2, 2) == {
        (2, "update_preimage"): 1,
        (2, "update_postimage"): 1,
        (2, "insert"): 1,
    }


def test_sql_merge_derives_delete_insert_pairs():
    m = fresh()
    m.sql_merge(2, {2: (0, 21), 3: (1, 31), 5: (0, 50)})
    assert m.expected_changes(2, 2) == {(2, "delete"): 2, (2, "insert"): 3}
    assert m.summaries[2] == (4, 10 + 21 + 31 + 50, 10 + 42 + 93 + 250)


def test_update_and_delete_and_time_travel():
    m = fresh()
    m.update_group(2, 0)  # rows 1, 2 → val + 1
    assert m.rows[1] == (0, 11) and m.rows[2] == (0, 21) and m.rows[3] == (1, 30)
    m.delete_where(3, 0, 15)  # drops row 1 only
    assert 1 not in m.rows and 2 in m.rows
    m.no_change(4)  # optimize
    assert m.expected_changes(2, 4) == {
        (2, "delete"): 2,
        (2, "insert"): 2,
        (3, "delete"): 1,
    }
    assert m.summaries[1] == (3, 60, 140)  # earlier versions stay readable
    assert m.summaries[4] == (2, 51, 2 * 21 + 3 * 30)
    assert m.group_aggregate() == {0: (1, 21), 1: (1, 30)}


def test_empty_delete_commits_with_no_changes():
    m = fresh()
    m.delete_where(2, 7, 100)
    assert m.expected_changes(2, 2) == {}
    assert m.summaries[2] == m.summaries[1]
