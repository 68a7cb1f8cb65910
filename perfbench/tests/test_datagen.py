"""Inputs are a pure function of the seed and keep the suite's schema."""

from perfbench import datagen


def test_same_seed_same_tables_other_seed_other_tables():
    a = datagen.make_tables(5, 0.001)
    b = datagen.make_tables(5, 0.001)
    c = datagen.make_tables(6, 0.001)
    assert set(a) == set(datagen.TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_row_counts_and_key_domains_scale_with_sf():
    t = datagen.make_tables(1, 0.001)
    assert t["lineitem"].num_rows == 6000
    assert t["orders"].num_rows == 1500
    assert t["customer"].num_rows == 150
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert max(t["lineitem"]["l_orderkey"].to_pylist()) < 1500
    assert max(t["orders"]["o_custkey"].to_pylist()) < 150
    texts = t["documents"]["text"].to_pylist()
    assert any(x.endswith(" dup") and x[:-4] in texts for x in texts)
