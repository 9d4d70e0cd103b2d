import numpy as np
import pytest

import datagen
from model import COLUMNS, STATUS, OrdersModel


def reference(cols):
    """key -> row dict: the obvious model the array model must agree with."""
    return {int(k): {c: cols[c][i].item() for c in COLUMNS}
            for i, k in enumerate(cols["o_orderkey"])}


def check_same(model, ref):
    snap = model.snapshot()
    assert snap["o_orderkey"].tolist() == sorted(ref)
    for i, k in enumerate(snap["o_orderkey"]):
        for c in COLUMNS:
            assert snap[c][i] == pytest.approx(ref[int(k)][c])
    for from_day in (datagen.START_DAY, datagen.day("1995-01-01"), datagen.END_DAY):
        rows = [r for r in ref.values() if r["o_orderdate"] >= from_day]
        count, total = model.read(from_day)
        assert count == len(rows)
        assert total == pytest.approx(sum(r["o_totalprice"] for r in rows))


@pytest.mark.parametrize("seed", range(5))
def test_model_tracks_a_random_op_sequence(seed):
    rng = np.random.default_rng(seed)
    cols = datagen.orders_columns(rng, np.arange(1, 201), 50)
    model, ref = OrdersModel(cols), reference(cols)
    for _ in range(40):
        op = rng.integers(5)
        if op == 0:
            new = datagen.orders_columns(
                rng, np.arange(model.next_key, model.next_key + 7), 50)
            model.append(new)
            ref.update(reference(new))
        elif op == 1:
            keys = np.concatenate([model.choose_keys(rng, 5, datagen.day("1996-01-01")),
                                   np.arange(model.next_key, model.next_key + 2)])
            rows = datagen.orders_columns(rng, keys, 50)
            model.upsert(rows)
            ref.update(reference(rows))
        elif op == 2:
            keys = model.choose_keys(rng, 4, datagen.day("1996-01-01"))
            model.delete_keys(keys)
            for k in keys:
                ref.pop(int(k))
        elif op == 3:
            keys = model.choose_keys(rng, 4, datagen.day("1996-01-01"))
            model.update_keys(keys, 7.25, "P")
            for k in keys:
                ref[int(k)]["o_totalprice"] += 7.25
                ref[int(k)]["o_orderstatus"] = STATUS.index("P")
        else:
            before = int(rng.integers(datagen.START_DAY, datagen.END_DAY))
            model.delete_where("P", before)
            ref = {k: r for k, r in ref.items()
                   if not (r["o_orderstatus"] == STATUS.index("P")
                           and r["o_orderdate"] < before)}
        assert model.live_rows() == len(ref)
    check_same(model, ref)


def test_choose_keys_is_distinct_live_and_skewed_recent():
    rng = np.random.default_rng(7)
    cols = datagen.orders_columns(rng, np.arange(1, 2001), 100)
    model = OrdersModel(cols)
    model.delete_keys(np.arange(1, 2001, 2))
    recent = datagen.day("1997-06-01")
    keys = model.choose_keys(rng, 100, recent)
    assert len(set(keys.tolist())) == 100
    assert model.alive[keys - 1].all()
    dates = model.cols["o_orderdate"][keys - 1]
    assert (dates >= recent).sum() >= 80


def test_append_of_a_live_key_is_refused():
    rng = np.random.default_rng(1)
    model = OrdersModel(datagen.orders_columns(rng, np.arange(1, 11), 5))
    with pytest.raises(ValueError):
        model.append(datagen.orders_columns(rng, np.array([3]), 5))
    model.delete_keys([3])
    model.append(datagen.orders_columns(rng, np.array([3]), 5))
    assert model.live_rows() == 10


def test_generator_is_deterministic_per_seed():
    a, b, c = (datagen.generate(s, 300) for s in (4, 4, 5))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    li = a["lineitem"]
    assert li.column("l_orderkey").to_numpy().max() <= 300
