import pyarrow.compute as pc

from perfbench import pipeline


def test_records_are_seeded():
    a, b, c = (pipeline.make_records(s) for s in (1, 1, 2))
    assert a.equals(b)
    assert not a.equals(c)


def test_expected_folds_match_a_direct_computation():
    t = pipeline.make_records(3)
    exp = pipeline.expected_folds(t)
    assert sum(v[0] for v in exp.values()) == t.num_rows
    i = min(exp)
    sub = t.filter(pc.equal(t["idx"], i))
    qty = sub["qty"].to_pylist()
    cents = sub["cents"].to_pylist()
    assert exp[i] == (
        len(qty),
        sum(qty),
        sum(qty) / len(qty),
        min(cents),
        max(cents),
        len(set(sub["tag"].to_pylist())),
    )
